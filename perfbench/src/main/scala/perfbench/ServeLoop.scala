package perfbench

import java.nio.charset.StandardCharsets
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.Sessions
import graft.feature.{EntityTypeDef, FeatureDef, FeatureStore}
import graft.ml.LinUcb
import graft.serving.PredictionServer
import graft.streaming.Streams

/** One open-loop ladder step. */
final case class Step(rate: Double, reqs: IndexedSeq[Req]) {
  def errors: Int = reqs.count(!_.ok)
  def latencies: Seq[Double] = reqs.map(_.latencyMs)
  /** The limit applies to the highest percentile the sample supports. */
  def tail: (Double, Double) = Stats.tail(latencies).get
  /** Median latency of the step's last tenth: a growing backlog shows. */
  def endMs: Double = Stats.median(latencies.takeRight(math.max(1, reqs.size / 10)))
  def meets(limitMs: Double): Boolean =
    errors == 0 && tail._2 <= limitMs && endMs <= limitMs
  /** Completed requests per second, first due time to last reply. */
  def achievedRps: Double =
    reqs.count(_.ok) / ((reqs.map(_.recvNs).max - reqs.head.dueNs) / 1e9)
}

/** The live loop: an open-loop generator sends /predict requests to
  * `PredictionServer` up a fixed rate ladder; every prediction goes out
  * on the feedback bus, which two streaming queries consume on one
  * short trigger: `Streams.retrainLoop` (append + full refit + model
  * save per micro-batch) and `FeatureStore.streamingImport`. The request
  * path plus many tiny micro-batches, no large shuffle.
  */
object ServeLoop extends Workload {
  val name = "serve_loop"

  // The reference's model and request shape: rank_k, num_actions and
  // batch_size (observations per instance).
  val Dim = 20
  val Actions = 20
  val Steps = 8
  val SeedRows = 2000L
  val Connections = 2
  val LimitMs = 100.0
  /** 1000 / 2^k rps for k = 6..0: from below the shipped server's
    * ceiling up to 1k rps.
    */
  val Ladder: Seq[Double] = (6 to 0 by -1).map(k => 1000.0 / (1 << k))
  /** The lowest step runs this share of the window; the others run for
    * one second. Every step sends at least MinRequests, so its p90 has
    * ten samples beyond it.
    */
  val LowestShare = 0.8
  val MinRequests = 110
  /** Seconds at the lowest rate before the ladder, so the loop's first
    * micro-batches and JIT compilation settle before anything is timed.
    */
  val WarmupS = 6.0
  val TriggerMs = 1000L
  val RotateMs = 250L
  val TimeoutMs = 2000

  override def shuffleParts(cpus: Int): Int = Sessions.streamShuffleParts(cpus)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.seedRows(spark, seed, SeedRows, Dim, Actions).write.parquet(s"$dir/seed_rows")

  /** Bus-line schema published by PredictionServer. */
  private val busSchema = StructType(Seq(
    StructField("observations", ArrayType(StructType(Seq(
      StructField("observation", ArrayType(ArrayType(DoubleType))))))),
    StructField("predicted_actions", ArrayType(StructType(Seq(
      StructField("predicted_action", ArrayType(IntegerType))))))))

  /** Logger replay: bus lines → (obs, action, reward, ts) training rows.
    * The environment is deterministic (reward = the chosen action's
    * coordinate of the observation); the event time is the request
    * index in seconds after the generator's base time.
    */
  def replay(bus: DataFrame): DataFrame =
    bus
      .select(explode(arrays_zip(col("observations"),
        col("predicted_actions"))).as("i"))
      .select(col("i.observations.observation").as("obs_mat"),
        col("i.predicted_actions.predicted_action").as("acts"))
      .withColumn("req",
        round(element_at(element_at(col("obs_mat"), 1), 1) * 1e6).cast("long"))
      .select(col("req"), explode(arrays_zip(col("obs_mat"), col("acts"))).as("s"))
      .select(col("s.obs_mat").as("obs"), col("s.acts").cast("int").as("action"),
        col("req"))
      .withColumn("reward", element_at(col("obs"), col("action") + 1))
      .withColumn("ts", timestamp_seconds(lit(Gen.BaseUs / 1000000L) + col("req")))
      .drop("req")

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution").toLong

  private def withData(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val out = new Outcome
    val model0 = LinUcb.fit(spark.read.parquet(s"$inputs/seed_rows"),
      "action", "obs", "reward", Dim)

    val queryNames = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    if (tracer.enabled) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val end = System.nanoTime()
        val name = Option(queryNames.get(e.progress.id)).getOrElse("query")
        tracer.record(s"streaming.$name", end - (dur(e.progress, "triggerExecution") * 1e6).toLong, end)
      }
    })

    val busDir = s"$work/bus"
    val bus = new Bus(busDir, RotateMs, tracer)
    val server = new PredictionServer(model0, bus.publish)
    server.start()
    def busStream() = spark.readStream.schema(busSchema).json(busDir)
    val modelPath = s"$work/model"
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val before = counters.map(_.snapshot())
    val fromMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    val retrain = Streams.retrainLoop(replay(busStream()), s"$work/train",
      modelPath, s"$work/ckpt_train", Dim, trigger)
    val fs = new FeatureStore(spark, s"$work/fstore")
    fs.createEntityType(EntityTypeDef("actions", "action_id",
      Seq(FeatureDef("reward", "DOUBLE", "replayed reward"))))
    val imports = fs.streamingImport("actions",
      replay(busStream()).select(col("action").cast("long").as("action_id"),
        col("reward"), col("ts").as("event_ts")),
      "event_ts", s"$work/ckpt_feat", trigger)
    queryNames.put(retrain.id, "retrain")
    queryNames.put(imports.id, "import")

    val gen = new LoadGen(server.port, Connections, TimeoutMs, tracer)
    var next = 0L
    def send(rate: Double, n: Int): IndexedSeq[Req] = {
      val bodies = (0 until n).map(i => Gen.requestBody(seed, next + i, Steps, Dim)
        .getBytes(StandardCharsets.UTF_8))
      val reqs = gen.step(rate, next, bodies)
      next += n
      reqs
    }
    val warmup = send(Ladder.head, math.round(Ladder.head * WarmupS).toInt)
    val steps = mutable.ArrayBuffer[Step]()
    var climbing = true
    Ladder.zipWithIndex.foreach { case (rate, k) =>
      if (climbing) {
        val secs = if (k == 0) LowestShare * seconds else 1.0
        val step = Step(rate, send(rate, math.max(MinRequests, math.round(rate * secs).toInt)))
        steps += step
        climbing = step.meets(LimitMs)
      }
    }
    gen.close()
    bus.close()
    server.stop()

    // Let both queries consume every published line before stopping.
    val published = bus.published
    val deadline = System.nanoTime() + 60e9.toLong
    def consumed(q: StreamingQuery) = withData(q).map(_.numInputRows).sum
    while ((consumed(retrain) < published || consumed(imports) < published) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    val drained = consumed(retrain) >= published && consumed(imports) >= published
    retrain.stop()
    imports.stop()
    val wallMs = (System.nanoTime() - w0) / 1e6
    val toMs = System.currentTimeMillis()

    val all = warmup ++ steps.flatMap(_.reqs)
    out.attempted += all.size
    out.failed += all.count(!_.ok)
    val served = all.count(_.ok).toLong * Steps

    out.check("loop_drained") { drained }
    out.check("bus_steps_equal_served_steps") {
      spark.read.schema(busSchema).json(busDir)
        .select(explode(col("observations")).as("i"))
        .select(size(col("i.observation")).cast("long").as("n"))
        .agg(coalesce(sum("n"), lit(0L))).first().getLong(0) == served
    }
    out.check("model_n_equals_served_steps") {
      LinUcb.load(spark, modelPath).actions.map(_.n).sum == served
    }
    out.check("feature_import_holds_served_steps") {
      fs.readValues("actions").count() == served
    }

    // Freshness: a prediction is in the model saved by the first retrain
    // batch whose cumulative input covers its position on the bus.
    val rb = withData(retrain)
    val covered = rb.map(_.numInputRows).scanLeft(0L)(_ + _).tail
    val ends = rb.map(endMs)
    val lowest = steps.head
    val fresh = lowest.reqs.filter(_.ok).flatMap { r =>
      bus.seqOf(r.idx).flatMap { q =>
        val k = covered.indexWhere(_ > q)
        if (k < 0) None else Some((ends(k) - r.recvWallMs) / 1e3)
      }
    }
    val passing = steps.filter(_.meets(LimitMs))
    // Per-request time at the highest load the ladder reached: once a
    // step misses the limit both connections are busy back to back, so
    // each request takes connections / completed rps; if every step
    // meets the limit, the top step's median.
    val loadedMs = steps.find(!_.meets(LimitMs))
      .fold(Stats.median(steps.last.latencies))(s => Connections * 1e3 / s.achievedRps)
    out.e2e("first_pass_s") = dur(rb.head, "triggerExecution") / 1e3
    out.e2e("latency_ms") = loadedMs
    out.e2e("throughput_per_s") = passing.lastOption.fold(0.0)(_.achievedRps)
    out.e2e("fresh_s") = Stats.median(fresh)

    val (tailP, tailMs) = lowest.tail
    val tailName = f"${tailP}%.0f"
    out.named("predict_p50_ms") = (Stats.median(lowest.latencies), "ms")
    out.named(s"predict_p${tailName}_ms") = (tailMs, "ms")
    out.named("predict_loaded_ms") = (loadedMs, "ms")
    out.named("predict_max_rps") = (passing.lastOption.fold(0.0)(_.achievedRps), "1/s")
    out.named("fresh_p50_s") = (Stats.median(fresh), "s")
    Stats.tail(fresh).foreach { case (p, v) => out.named(f"fresh_p${p}%.0f_s") = (v, "s") }
    out.named("first_loop_batch_s") = (dur(rb.head, "triggerExecution") / 1e3, "s")
    out.named("gen_late_p50_ms") = (Stats.median(lowest.reqs.map(_.lateMs)), "ms")

    counters.foreach { c =>
      out.layers ++= SparkCounters.delta(before.get, c.snapshot())
      out.layers("spark.driver_gap_ms") = wallMs - c.jobBusyMs(fromMs, toMs)
    }
    val ib = withData(imports)
    val closed = bus.closed
    out.layers("serving.requests") = all.size.toDouble
    out.layers("serving.errors") = all.count(!_.ok).toDouble
    out.layers("serving.publish_ms") = Stats.median(bus.publishTimesMs)
    out.layers("gen.late_ms") = Stats.tail(lowest.reqs.map(_.lateMs)).get._2
    out.layers("streaming.batches") = (rb.size + ib.size).toDouble
    out.layers("streaming.batch_ms") = Stats.median(rb.map(dur(_, "triggerExecution")))
    out.layers("streaming.add_batch_ms") = Stats.median(rb.map(dur(_, "addBatch")))
    out.layers("streaming.trigger_plan_ms") = Stats.median(rb.map(dur(_, "queryPlanning")))
    out.layers("streaming.input_rows") = rb.map(_.numInputRows).sum.toDouble
    out.layers("streaming.backlog_segments") = rb.indices.map { k =>
      closed.count { case (at, upTo) => at <= ends(k) && upTo > covered(k) }
    }.max.toDouble
    out.layers("feature.import_ms") = Stats.median(ib.map(dur(_, "triggerExecution")))

    out.detail("ladder") = steps.map { s =>
      Map("rate" -> s.rate, "requests" -> s.reqs.size, "errors" -> s.errors,
        "p50_ms" -> Stats.median(s.latencies), "tail_p" -> s.tail._1,
        "tail_ms" -> s.tail._2, "end_ms" -> s.endMs,
        "late_p50_ms" -> Stats.median(s.reqs.map(_.lateMs)),
        "achieved_rps" -> s.achievedRps, "meets_limit" -> s.meets(LimitMs))
    }
    out.detail("retrain_batches") = rb.map(p => Map("rows" -> p.numInputRows,
      "ms" -> dur(p, "triggerExecution")))
    out.detail("fresh_samples") = fresh.size
    out.detail("bus") = Map("lines" -> published, "segments" -> closed.size)
    out.detail("settings") = Map("trigger_ms" -> TriggerMs, "rotate_ms" -> RotateMs,
      "connections" -> Connections, "limit_ms" -> LimitMs, "ladder" -> Ladder)
    out
  }
}
