package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("the same seed gives identical inputs; another seed gives other inputs") {
    val gens: Seq[Long => DataFrame] = Seq(
      s => Gen.featureValues(spark, s, 500, 50, 8, 10),
      s => Gen.asOfQueries(spark, s, 500, 50),
      s => Gen.corpus(spark, s, 300),
      s => Gen.seedRows(spark, s, 200, 20, 20))
    gens.foreach { g =>
      // Repartitioning must not matter: values derive from (id, seed).
      assert(rows(g(1)) == rows(g(1).repartition(3)))
      assert(rows(g(1)) != rows(g(2)))
    }
    assert(Gen.requestBody(1, 7, 8, 20) == Gen.requestBody(1, 7, 8, 20))
    assert(Gen.requestBody(1, 7, 8, 20) != Gen.requestBody(2, 7, 8, 20))
  }

  test("the corpus plants near-duplicates, exact copies and one boilerplate text") {
    val c = Gen.corpus(spark, 1, 4000).collect()
    val kinds = c.groupBy(_.getAs[String]("kind")).map { case (k, v) => k -> v.length }
    assert(kinds("near") > 100 && kinds("boiler") > 5 && kinds("exact") > 0)
    assert(c.filter(_.getAs[String]("kind") == "boiler").map(_.getAs[String]("text"))
      .distinct.length == 1)
  }

  test("a bus line traces back to its request") {
    val obs = Gen.requestObs(3, 12345, 8, 20)
    val line = """{"observations":[{"observation":[""" +
      obs.map(_.mkString("[", ",", "]")).mkString(",") + "]}]}"
    assert(Bus.requestIdx(line) == 12345L)
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    assert(Stats.tail(xs(99)).isEmpty)
    assert(Stats.tail(xs(100)) == Some((90.0, 90.0)))
    assert(Stats.tail(xs(999)).map(_._1) == Some(90.0))
    assert(Stats.tail(xs(1000)) == Some((99.0, 990.0)))
    assert(Stats.tail(xs(10000)).map(_._1) == Some(99.9))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time is span time minus the time its child spans cover") {
    val parent = Span(1, "feature.pass", 0, 100, 0, "r")
    val spans = Seq(parent,
      Span(2, "spark.a", 10, 30, 1, "r"),
      Span(3, "spark.b", 20, 50, 1, "r"), // overlaps span 2
      Span(4, "spark.c", 90, 120, 1, "r"), // runs past its parent
      Span(5, "spark.d", 12, 14, 2, "r")) // grandchild: not the parent's child
    val self = Trace.selfNs(spans)
    assert(self(1) == 100 - (40 + 10))
    assert(self(2) == 20 - 2)
    assert(self(3) == 30)
    assert(Trace.selfMsByLayer(spans)("feature") == 50 / 1e6)
  }

  test("nested timed calls record parent links") {
    val t = new Tracer(enabled = true, runId = "r")
    t.timed("a.outer") { t.timed("b.inner") { Thread.sleep(5) } }
    val Seq(outer, inner) = t.spans
    assert(outer.name == "a.outer" && inner.parent == outer.id && outer.parent == 0)
    assert(Trace.selfNs(t.spans)(outer.id) == outer.durNs - inner.durNs)
    val off = new Tracer(enabled = false, runId = "r")
    assert(off.timed("a.x")(42)._1 == 42 && off.spans.isEmpty)
  }
}
