package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.Sessions

/** What a workload's measurement window hands back. */
final class Outcome {
  /** End-to-end metrics, by the names BENCHMARK.json declares. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics measured by the workload itself. */
  val layers = mutable.LinkedHashMap[String, Double]()
  /** The workload's metrics under their own names, with units. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  /** Output checks; each one is an attempted operation. */
  val checks = mutable.LinkedHashMap[String, Boolean]()
  /** Operations other than checks (passes, requests). */
  var attempted = 0L
  var failed = 0L
  val detail = mutable.LinkedHashMap[String, Any]()

  def check(name: String)(ok: => Boolean): Unit =
    checks(name) = try ok catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check $name threw: $e"); false
    }
}

final case class Ctx(spark: SparkSession, inputs: String, work: String,
                     seed: Long, seconds: Int, cpus: Int, tracer: Tracer,
                     counters: Option[SparkCounters])

trait Workload {
  def name: String
  def shuffleParts(cpus: Int): Int = Sessions.shuffleParts(cpus)
  /** Generates the workload's inputs under `dir` from `seed`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** Runs the measurement window of about `ctx.seconds`. */
  def run(ctx: Ctx): Outcome
}

/** Benchmark entry point; run.py builds the classpath and launches it
  * from the checkout root (where BENCHMARK.json is).
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --record FILE --launched-ms EPOCH_MS
  */
object Main {

  val Workloads: Seq[Workload] = Seq(FeaturePit, ServeLoop, TextDedup)

  /** Setups per run; `setup_s` is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable =>
        System.err.println("[perfbench] run failed:")
        e.printStackTrace()
        1
    }
    System.out.flush()
    // Non-daemon Spark and server threads must not keep the JVM alive.
    Runtime.getRuntime.halt(code)
  }

  private def parse(argv: Array[String]): Map[String, String] = {
    require(argv.length % 2 == 0, s"flags take one value each: ${argv.mkString(" ")}")
    val m = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"unexpected argument $k"); k.drop(2) -> v
    }.toMap
    Seq("workload", "seed", "seconds", "trace", "work", "record", "launched-ms")
      .foreach(k => require(m.contains(k), s"missing --$k"))
    m
  }

  /** A fixed CPU-bound probe, independent of the program: its time
    * tracks host speed, so a steal-degraded window shows in the record.
    */
  def calibOnce(): Double = {
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 20000000L) { x += XXH64.hashLong(i, 42L); i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // keep the loop live
    s
  }

  def session(work: String, cpus: Int, shuffleParts: Int): SparkSession = {
    val s = Sessions.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", new File(s"$work/warehouse").toURI.toString)
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000"),
        shuffleParts)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(); ()
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM not found in /proc/self/status"))

  private def run(a: Map[String, String]): Unit = {
    val wl = Workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; one of " +
        Workloads.map(_.name).mkString(", ")))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    val runId = s"${wl.name}-s$seed-t${a("trace")}-${System.currentTimeMillis()}"
    val calib = mutable.Buffer(calibOnce())

    var spark: SparkSession = null
    val setupS = (0 until Setups).map { i =>
      val t0 = if (i == 0) a("launched-ms").toLong else System.currentTimeMillis()
      if (spark != null) spark.stop()
      if (i > 0) deleteTree(new File(s"$work/inputs-${i - 1}"))
      spark = session(work, cpus, wl.shuffleParts(cpus))
      wl.setup(spark, s"$work/inputs-$i", seed)
      (System.currentTimeMillis() - t0) / 1000.0
    }
    calib += calibOnce()

    val tracer = new Tracer(traced, runId)
    val counters = if (traced) Some(new SparkCounters(spark)) else None
    val ctx = Ctx(spark, s"$work/inputs-${Setups - 1}", s"$work/run", seed,
      seconds, cpus, tracer, counters)
    val out = wl.run(ctx)
    calib += calibOnce()

    out.e2e("setup_s") = Stats.median(setupS)
    out.named("peak_rss_mb") = (peakRssMb(), "MB")
    // Every declared per-layer metric; a layer the workload left idle
    // reads 0.
    val declared = new ObjectMapper().readTree(new File("BENCHMARK.json"))
      .path("per_layer").elements().asScala.map(_.path("name").asText()).toSeq
    val layers = mutable.LinkedHashMap[String, Double]()
    declared.foreach(n => layers(n) = out.layers.getOrElse(n, 0.0))
    layers("host.calib_s") = Stats.median(calib.toSeq)
    val unknown = out.layers.keySet -- declared
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")

    val failedChecks = out.checks.count(!_._2)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "run_id" -> runId, "cpus" -> cpus,
      "correct" -> (failedChecks == 0),
      "attempted" -> (out.attempted + out.checks.size),
      "failed" -> (out.failed + failedChecks),
      "checks" -> out.checks,
      "e2e" -> out.e2e,
      "named" -> out.named.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "host" -> Map("calib_s" -> calib.toSeq, "setup_s" -> setupS),
      "detail" -> out.detail)
    if (traced) {
      record("layers") = layers
      val spans = tracer.spans
      record("self_ms") = Trace.selfMsByLayer(spans)
      record("spans") = spans.size
      record("overhead") = overhead(new File(a("record")).getParentFile,
        wl.name, out.e2e)
      writeSpans(a("record").stripSuffix(".json") + ".spans.jsonl", spans)
    }
    writeJson(a("record"), record)
  }

  /** Tracing overhead: this traced run's end-to-end values against the
    * median of the untraced records of the same workload in `dir`.
    */
  private def overhead(dir: File, workload: String,
                       traced: collection.Map[String, Double]): Any = {
    val mapper = new ObjectMapper()
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(s"$workload-t0-") &&
        f.getName.endsWith(".json"))
    val untraced = files.flatMap { f =>
      try Some(mapper.readTree(f)) catch { case _: Exception => None }
    }.filter(_.path("correct").asBoolean(false))
    if (untraced.isEmpty) "no untraced record of this workload to compare"
    else traced.map { case (k, v) =>
      val base = Stats.median(untraced.toSeq.map(_.path("e2e").path(k).asDouble()))
      k -> Map("traced" -> v, "untraced_median" -> base,
        "delta" -> (v - base), "untraced_runs" -> untraced.length)
    }
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val mapper = new ObjectMapper()
    val self = Trace.selfNs(spans)
    val lines = spans.map { s =>
      mapper.writeValueAsString(toJava(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "parent" -> s.parent, "run_id" -> s.runId,
        "self_ns" -> self(s.id))))
    }
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }

  def writeJson(path: String, v: Any): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path),
      new ObjectMapper().writerWithDefaultPrettyPrinter()
        .writeValueAsString(toJava(v)))
  }

  /** Scala collections to the Java ones Jackson writes natively. */
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
