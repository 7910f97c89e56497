package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.text.{Cluster, Similarity}

/** [[Memo]]: an entry is served only for the inputs it was computed
  * from. Parquet inputs of one schema print the same canonical plan
  * whatever their path or rows, so each staleness case below is a
  * file-backed, RDD-backed or in-memory input that a plan-string key
  * confuses.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("memo_spec").toString

  private def write(df: DataFrame, path: String): String = {
    df.write.mode("overwrite").parquet(path)
    path
  }

  private def estimate(df: DataFrame, tag: String): Long =
    Memo.value(Memo.key(Seq(df), tag))(df.count())

  test("Memo.value: same plan skips recompute, different local data " +
    "prices fresh") {
    var calls = 0
    val a = Seq((1L, 2L), (3L, 4L)).toDF("x", "y")
    val sameAsA = Seq((1L, 2L), (3L, 4L)).toDF("x", "y")
    val b = Seq((5L, 6L)).toDF("x", "y") // same schema, different rows
    def price(df: DataFrame): Long =
      Memo.value(Memo.key(Seq(df), "spec")) { calls += 1; df.count() }
    assert(price(a) == 2L && calls == 1)
    assert(price(a) == 2L && calls == 1) // same object: memo hit
    assert(price(sameAsA) == 2L && calls == 1) // same plan+data: memo hit
    assert(price(b) == 1L && calls == 2) // same schema, new data: fresh
  }

  test("two parquet paths of one schema get their own estimates and " +
    "artifacts") {
    val small = write((0L until 10L).toDF("x"), tmp() + "/t")
    val large = write((0L until 1000L).toDF("x"), tmp() + "/t")
    assert(estimate(spark.read.parquet(small), "paths") == 10L)
    assert(estimate(spark.read.parquet(large), "paths") == 1000L)
    def artifact(df: DataFrame) =
      Memo.parquet(Memo.key(Seq(df), "paths_art"))(df).count()
    assert(artifact(spark.read.parquet(small)) == 10L)
    assert(artifact(spark.read.parquet(large)) == 1000L)
  }

  test("two RDD-backed inputs of one schema get their own estimates") {
    val sc = spark.sparkContext
    def rddInput(n: Long) = spark.createDataFrame(
      sc.parallelize((0L until n).map(org.apache.spark.sql.Row(_))),
      org.apache.spark.sql.types.StructType.fromDDL("x BIGINT"))
    assert(estimate(rddInput(3L), "rdds") == 3L)
    assert(estimate(rddInput(7L), "rdds") == 7L)
    assert(estimate(sc.parallelize(Seq(1L, 2L)).toDF("x"), "rdds") == 2L)
  }

  test("a parquet path rewritten in place reads a new estimate, schema " +
    "and clustering") {
    val p = write((0L until 10L).toDF("x"), tmp() + "/t")
    assert(estimate(spark.read.parquet(p), "rewrite") == 10L)
    write((0L until 20L).toDF("x"), p)
    assert(estimate(spark.read.parquet(p), "rewrite") == 20L)

    val sf = tmp()
    write(Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"),
      s"$sf/region.parquet")
    assert(graft.io.Tables.table(spark, sf, "region").columns.toSeq ==
      Seq("r_regionkey", "r_name"))
    write(Seq((0, "AFRICA", "c")).toDF("r_regionkey", "r_name", "r_comment"),
      s"$sf/region.parquet")
    assert(graft.io.Tables.table(spark, sf, "region").columns.toSeq ==
      Seq("r_regionkey", "r_name", "r_comment"))

    val text = "alpha beta gamma delta epsilon zeta"
    val other = "one two three four five six seven"
    val d = write(Seq((1L, text), (2L, text), (3L, other))
      .toDF("doc_id", "text"), tmp() + "/docs")
    def clusters() = Cluster.materializedClusters(spark.read.parquet(d),
        "text", "doc_id", n = 3, minJaccard = 0.5)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(clusters() == Set((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true)))
    write(Seq((1L, text), (2L, other), (3L, text)).toDF("doc_id", "text"), d)
    assert(clusters() == Set((1L, 1L, true), (2L, 2L, true),
      (3L, 1L, false)))
  }

  test("intervalJoinGuarded prices a b side of the same schema and new " +
    "rows fresh") {
    val t0 = Timestamp.valueOf("2031-05-01 10:00:00")
    val t1 = Timestamp.valueOf("2031-05-01 10:30:00")
    val a = Seq((1L, t0, t1)).toDF("aid", "st_a", "en_a")
    def bSide(n: Int) = (0 until n).map(i => (i.toLong, t0, t1))
      .toDF("bid", "st_b", "en_b")
    def join(b: DataFrame) = Relational.intervalJoinGuarded(a, b,
      "st_a", "en_a", "st_b", "en_b", 3600L, maxPairs = 10L)
    assert(join(bSide(1)).count() == 1L)
    val e = intercept[IllegalStateException](join(bSide(50)))
    assert(e.getMessage.contains("estimate 50 exceeds maxPairs 10"))
  }

  test("a memo computation that calls the memo completes") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // the clustering artifact prices its n-gram guard through the memo
    assert(Cluster.materializedClusters(docs, "text", "doc_id", 3, 0.5)
      .count() == 2L)
    val v = Memo.value(Memo.key(Nil, "outer")) {
      Memo.value(Memo.key(Nil, "inner"))(20) + 1
    }
    assert(v == 21)
  }

  test("a refusal leaves no entry: it throws again on the next call") {
    var calls = 0
    def refuse(): Int = Memo.value(Memo.key(Nil, "refusal")) {
      calls += 1
      throw new IllegalStateException("over cap")
    }
    intercept[IllegalStateException](refuse())
    intercept[IllegalStateException](refuse())
    assert(calls == 2)
    assert(Memo.value(Memo.key(Nil, "refusal"))(7) == 7)
    // a guard memoizes its estimate, never its decision
    val corpus = (0 until 20).map(i => (i.toLong, Seq(1f, i.toFloat)))
      .toDF("id", "v")
    for (_ <- 1 to 2) intercept[IllegalStateException] {
      Similarity.cosinePairsGuarded(corpus, "id", "v", 0.9, 2,
        maxPairs = 10L)
    }
  }

  test("a hit on a file-backed input submits no Spark job") {
    val p = write((0L until 100L).toDF("x"), tmp() + "/t")
    val schema = spark.read.parquet(p).schema
    // a supplied schema: the read itself infers nothing
    def read() = spark.read.schema(schema).parquet(p)
    def artifact() = Memo.parquet(Memo.key(Seq(read()), "jobs_art"))(read())
    val sf = tmp()
    write(Seq((0, "x", 0)).toDF("n_nationkey", "n_name", "n_regionkey"),
      s"$sf/nation.parquet")
    assert(estimate(read(), "jobs") == 100L)
    assert(artifact().count() == 100L)
    graft.io.Tables.table(spark, sf, "nation")

    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add(String.valueOf(
          Option(js.properties).map(_.getProperty("spark.jobGroup.id"))
            .orNull))
    }
    val sc = spark.sparkContext
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, "memo spec sentinel", false)
      try spark.range(1).collect() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("memo-spec-begin")
      assert(estimate(read(), "jobs") == 100L)
      artifact()
      graft.io.Tables.table(spark, sf, "nation")
      sentinel("memo-spec-end")
      // the listener bus is asynchronous but ordered: once the end
      // sentinel is seen, every job between the two has been seen
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.contains("memo-spec-end") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val seen = starts.asScala.toSeq
      val between = seen.indexOf("memo-spec-end") -
        seen.indexOf("memo-spec-begin") - 1
      assert(seen.contains("memo-spec-end"))
      assert(between == 0, s"jobs between the sentinels: $seen")
    } finally sc.removeSparkListener(listener)
  }
}
