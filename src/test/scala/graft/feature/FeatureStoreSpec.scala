package graft.feature

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

import graft.SparkSpec

class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def withStore(f: FeatureStore => Unit): Unit = {
    val root = graft.Sessions.tempDirDeletedOnExit("fstest").toString
    f(new FeatureStore(spark, root))
  }

  test("registry DDL: create, list, delete (A13/A23)") {
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id",
        Seq(FeatureDef("rating", "INT", "latest rating"))))
      fs.createEntityType(EntityTypeDef("items", "item_id", Seq.empty))
      assert(fs.listEntityTypes() == Seq("items", "users"))
      fs.deleteEntityType("items")
      assert(fs.listEntityTypes() == Seq("users"))
    }
  }

  test("bulk import stamps feature_ts and appends (A14)") {
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      val batch = Seq((1L, 5.0), (2L, 3.0)).toDF("user_id", "rating")
      fs.importFeatureValues("users", batch, "user_id",
        Some(ts("2024-01-01 00:00:00")))
      fs.importFeatureValues("users", batch.withColumn("rating",
        $"rating" + 1), "user_id", Some(ts("2024-02-01 00:00:00")))
      val vals = fs.readValues("users")
      assert(vals.count() == 4) // append-only: both versions kept
      assert(vals.select("feature_ts").distinct().count() == 2)
    }
  }

  test("streamingImport appends micro-batches with event-time stamps") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      val root = graft.Sessions.tempDirDeletedOnExit("fsstream").toString
      val in = MemoryStream[(Long, Double, Timestamp)]
      val q = fs.streamingImport("users",
        in.toDF().toDF("user_id", "rating", "event_ts"), "event_ts",
        s"$root/ckpt", Trigger.ProcessingTime("0 seconds"))
      try {
        in.addData((1L, 5.0, ts("2024-01-01 00:00:00")))
        q.processAllAvailable()
        in.addData((1L, 6.0, ts("2024-02-01 00:00:00")))
        q.processAllAvailable()
        val vals = fs.readValues("users")
        assert(vals.count() == 2)
        val online = fs.latestOnlineView("users", "user_id", "rating")
          .select("rating").as[Double].collect().toSeq
        assert(online == Seq(6.0))
      } finally q.stop()
    }
  }

  test("streamingPointInTime serves micro-batched queries through the " +
    "bucketed PIT path and never reads future feature values") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      fs.importFeatureValues("users",
        Seq((1L, 10.0), (2L, 5.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-01-01 00:00:00")))
      fs.importFeatureValues("users",
        Seq((1L, 20.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-03-01 00:00:00")))
      fs.compactBucketed("users", "user_id", "b_pit_stream", 4)
      val root = graft.Sessions.tempDirDeletedOnExit("fspitstream").toString
      val in = MemoryStream[(Long, Timestamp)]
      val q = fs.streamingPointInTime("b_pit_stream",
        in.toDF().toDF("user_id", "as_of"), "user_id", "as_of",
        Seq("rating"), s"$root/out", s"$root/ckpt",
        Trigger.ProcessingTime("0 seconds"))
      try {
        // the 20.0 value (2024-03-01) is ALREADY in the table when this
        // 2024-02-01 query streams in — PIT must still serve 10.0
        in.addData((1L, ts("2024-02-01 00:00:00")),
          (2L, ts("2023-12-01 00:00:00"))) // before any import -> null
        q.processAllAvailable()
        in.addData((1L, ts("2024-04-01 00:00:00"))) // after both -> 20.0
        q.processAllAvailable()
        val served = spark.read.parquet(s"$root/out")
          .select("user_id", "as_of", "asof_rating")
          .as[(Long, Timestamp, Option[Double])].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
        assert(served == Map(
          (1L, ts("2024-02-01 00:00:00")) -> Some(10.0),
          (2L, ts("2023-12-01 00:00:00")) -> None,
          (1L, ts("2024-04-01 00:00:00")) -> Some(20.0)),
          s"unexpected serving output: $served")
      } finally {
        q.stop()
        spark.sql("DROP TABLE IF EXISTS b_pit_stream")
      }
    }
  }

  test("point-in-time retrieval never reads the future; online view " +
      "returns the newest import (A15)") {
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      fs.importFeatureValues("users",
        Seq((1L, 10.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-01-01 00:00:00")))
      fs.importFeatureValues("users",
        Seq((1L, 20.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-03-01 00:00:00")))
      val queries = Seq(
        (1L, ts("2024-02-01 00:00:00")),  // between imports -> 10.0
        (1L, ts("2024-04-01 00:00:00")))  // after both -> 20.0
        .toDF("user_id", "as_of")
      val pit = fs.pointInTime("users", queries, "user_id", "as_of",
          Seq("rating"))
        .select("as_of", "asof_rating")
        .as[(Timestamp, Double)].collect().toMap
      assert(pit == Map(ts("2024-02-01 00:00:00") -> 10.0,
        ts("2024-04-01 00:00:00") -> 20.0))
      val online = fs.latestOnlineView("users", "user_id", "rating")
        .select("user_id", "rating").as[(Long, Double)].collect().toSet
      assert(online == Set((1L, 20.0)))
    }
  }

  test("compactBucketed + pointInTimeBucketed wire the store to the " +
      "shuffle-lean PIT path with unchanged semantics") {
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      fs.importFeatureValues("users",
        Seq((1L, 10.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-01-01 00:00:00")))
      fs.importFeatureValues("users",
        Seq((1L, 20.0)).toDF("user_id", "rating"), "user_id",
        Some(ts("2024-03-01 00:00:00")))
      fs.compactBucketed("users", "user_id", "b_users_vals", 4)
      try {
        val queries = Seq((1L, ts("2024-02-01 00:00:00")),
          (1L, ts("2024-04-01 00:00:00"))).toDF("user_id", "as_of")
        val fast = fs.pointInTimeBucketed("b_users_vals", queries,
          "user_id", "as_of", Seq("rating"))
        val ref = fs.pointInTime("users", queries, "user_id", "as_of",
          Seq("rating"))
        assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
      } finally spark.sql("DROP TABLE IF EXISTS b_users_vals")
    }
  }

  /** The executed physical plan, through an adaptive root. */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("bucketed PIT: asofJoin reads the bucketed table in place, " +
      "row-identical to asofJoin over the plain values (plan-asserted)") {
    import graft.io.Bucketing
    import graft.ops.Relational
    val values = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-03-01 00:00:00"), 20.0),
      (1L, ts("2024-03-01 00:00:00"), 30.0), // equal-ts tie: 30 wins
      (2L, ts("2024-02-01 00:00:00"), 5.0),
      (3L, ts("2024-06-01 00:00:00"), 7.0))
      .toDF("user_id", "feature_ts", "rating")
    Bucketing.writeBucketed(values, "b_pit_vals", "user_id", 4)
    try {
      val queries = Seq(
        (1L, ts("2024-02-15 00:00:00")), // between imports -> 10.0
        (1L, ts("2024-03-01 00:00:00")), // tie ts, inclusive -> 30.0
        (1L, ts("2024-04-01 00:00:00")), // after both -> 30.0
        (2L, ts("2024-01-15 00:00:00")), // before first -> null
        (4L, ts("2024-05-01 00:00:00"))) // unknown entity -> null
        .toDF("user_id", "as_of")
      def bucketedMatchesPlain(direction: String): DataFrame = {
        val fast = Relational.asofJoin(queries, spark.table("b_pit_vals"),
          "user_id", "as_of", "feature_ts", Seq("rating"), direction)
        val ref = Relational.asofJoin(queries, values, "user_id",
          "as_of", "feature_ts", Seq("rating"), direction)
        assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
          direction)
        fast
      }
      val hashExchanges = "Exchange hashpartitioning".r
      val fast = bucketedMatchesPlain("backward")
      assert(fast.filter($"user_id" === 1 &&
        $"as_of" === ts("2024-03-01 00:00:00"))
        .select("asof_rating").as[Double].head() == 30.0)
      assert(fast.filter($"user_id" === 2).select("asof_rating")
        .as[Option[Double]].head().isEmpty)
      // The 100 TB contract: the bucketed feature scan feeds the union
      // and its window with no Exchange; the single hash shuffle in the
      // plan moves the query side into the bucket layout. No join.
      val plan = physical(fast)
      assert(!plan.toString.contains("Join"), plan)
      assert(hashExchanges.findAllMatchIn(plan.toString).size == 1, plan)
      assert(plan.collect { case e: ShuffleExchangeLike => e }
        .forall(_.find(_.isInstanceOf[UnionExec]).isEmpty), plan)
      // Forward direction over the same bucketed table.
      bucketedMatchesPlain("forward")
      // The rows do not rest on the plan shape: with Union dropping its
      // children's partitioning, the window shuffles both sides again.
      val conf = "spark.sql.unionOutputPartitioning"
      val prev = spark.conf.get(conf)
      try {
        spark.conf.set(conf, "false")
        val shuffled = physical(bucketedMatchesPlain("backward")).toString
        assert(hashExchanges.findAllMatchIn(shuffled).size == 2, shuffled)
      } finally spark.conf.set(conf, prev)
    } finally spark.sql("DROP TABLE IF EXISTS b_pit_vals")
  }

  test("long history: 10^4 bucketed PIT queries over one entity's 10^5 " +
      "versions read the closed-form value, with no join") {
    withStore { fs =>
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      // The version stamped at second i has value i.
      fs.importWithEventTime("users", spark.range(100000).select(
          lit(1L).as("user_id"), timestamp_seconds($"id").as("at"),
          $"id".as("v")), "at")
      fs.compactBucketed("users", "user_id", "b_long_vals", 4)
      try {
        // Query j asks at 10·j s, half a second later for odd j; the
        // first asks one second before the first version.
        val queries = spark.range(10000).select(lit(1L).as("user_id"),
          $"id".as("j"), timestamp_micros(
            when($"id" === 0, -1000000L)
              .otherwise($"id" * 10000000L + $"id" % 2 * 500000L))
            .as("as_of"))
        val out = fs.pointInTimeBucketed("b_long_vals", queries,
          "user_id", "as_of", Seq("v"))
        val got = out.select($"j", $"asof_v").as[(Long, Option[Long])]
          .collect().toMap
        assert(got.size == 10000)
        assert(got(0L).isEmpty, "a query before the first version")
        (1L until 10000L).foreach(j => assert(got(j).contains(10 * j), j))
        val plan = physical(out)
        assert(!plan.toString.contains("Join"), plan)
      } finally spark.sql("DROP TABLE IF EXISTS b_long_vals")
    }
  }

  /** A store over a fresh root whose `users` entity type holds two
    * imports of three entities.
    */
  private def withImported(f: (FeatureStore, String) => Unit): Unit = {
    val root = graft.Sessions.tempDirDeletedOnExit("fsbucketed").toString
    val fs = new FeatureStore(spark, root)
    fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
    fs.importFeatureValues("users", Seq((1L, 10.0), (2L, 5.0), (3L, 7.0))
      .toDF("user_id", "rating"), "user_id", Some(ts("2024-01-01 00:00:00")))
    fs.importFeatureValues("users", Seq((1L, 20.0), (3L, 8.0))
      .toDF("user_id", "rating"), "user_id", Some(ts("2024-03-01 00:00:00")))
    f(fs, root)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private val hashExchanges = "Exchange hashpartitioning".r

  private def pitQueries = Seq((1L, ts("2024-02-01 00:00:00")),
    (1L, ts("2024-04-01 00:00:00")), (2L, ts("2023-12-01 00:00:00")),
    (3L, ts("2024-03-01 00:00:00"))).toDF("user_id", "as_of")

  test("the store's values are bucketed: pointInTime shuffles only the " +
      "queries and latestOnlineView plans no Exchange") {
    withImported { (fs, _) =>
      val pit = fs.pointInTime("users", pitQueries, "user_id", "as_of",
        Seq("rating"))
      val plan = physical(pit).toString
      assert(!plan.contains("Join"), plan)
      assert(hashExchanges.findAllMatchIn(plan).size == 1, plan)
      assert(pit.select("as_of", "asof_rating").as[(Timestamp,
        Option[Double])].collect().toSet == Set(
        ts("2024-02-01 00:00:00") -> Some(10.0),
        ts("2024-04-01 00:00:00") -> Some(20.0),
        ts("2023-12-01 00:00:00") -> None,
        ts("2024-03-01 00:00:00") -> Some(8.0)))
      val online = fs.latestOnlineView("users", "user_id", "rating")
      assert(!physical(online).toString.contains("Exchange"),
        physical(online))
      assert(online.select("user_id", "rating").as[(Long, Double)]
        .collect().toSet == Set((1L, 20.0), (2L, 5.0), (3L, 8.0)))
    }
  }

  test("a new store over an existing root, its table gone from the " +
      "catalog, reads the same rows through the bucketed plan") {
    withImported { (fs, root) =>
      def rows(f: FeatureStore) = f.readValues("users")
        .select("user_id", "feature_ts", "rating")
        .as[(Long, Timestamp, Double)].collect().sorted.toSeq
      val before = rows(fs)
      spark.sql(s"DROP TABLE ${fs.meta("users").table}")
      val reopened = new FeatureStore(spark, root)
      assert(rows(reopened) == before)
      val plan = physical(reopened.pointInTime("users", pitQueries,
        "user_id", "as_of", Seq("rating"))).toString
      assert(hashExchanges.findAllMatchIn(plan).size == 1, plan)
      // and it imports into the re-registered table
      reopened.importFeatureValues("users", Seq((2L, 6.0))
        .toDF("user_id", "rating"), "user_id", Some(ts("2024-05-01 00:00:00")))
      assert(reopened.readValues("users").count() == before.size + 1)
    }
  }

  test("compactBucketed: at the store's bucket count a registration " +
      "that DROP TABLE leaves intact; at another count the same rows") {
    withImported { (fs, _) =>
      val b = fs.meta("users").buckets
      assert(b == spark.sparkContext.defaultParallelism)
      val values = fs.readValues("users")
      try {
        fs.compactBucketed("users", "user_id", "b_same", b)
        assert(sameRows(spark.table("b_same").drop("__import"), values))
        fs.compactBucketed("users", "user_id", "b_other", b + 1)
        assert(sameRows(spark.table("b_other"), values))
        spark.sql("DROP TABLE b_same")
        assert(fs.readValues("users").count() == 5)
        assert(sameRows(fs.readValues("users"), spark.table("b_other")))
      } finally {
        spark.sql("DROP TABLE IF EXISTS b_same")
        spark.sql("DROP TABLE IF EXISTS b_other")
      }
    }
  }

  test("deleteEntityType drops the values table from the catalog") {
    withImported { (fs, _) =>
      val table = fs.meta("users").table
      assert(spark.catalog.tableExists(table))
      fs.deleteEntityType("users")
      assert(!spark.catalog.tableExists(table))
      assert(fs.listEntityTypes().isEmpty)
    }
  }

  test("an import whose columns differ from the table's is refused") {
    import org.apache.spark.sql.AnalysisException
    withImported { (fs, _) =>
      val at = Some(ts("2024-06-01 00:00:00"))
      val rows = Seq((1L, 1.0)).toDF("user_id", "rating")
      intercept[AnalysisException](fs.importFeatureValues("users",
        rows.withColumn("extra", lit(1)), "user_id", at))
      intercept[AnalysisException](fs.importFeatureValues("users",
        rows.drop("rating"), "user_id", at))
      intercept[AnalysisException](fs.importFeatureValues("users",
        rows.withColumnRenamed("rating", "score"), "user_id", at))
      // another column order is matched by name
      fs.importFeatureValues("users", rows.select("rating", "user_id"),
        "user_id", at)
      assert(fs.readValues("users").filter($"feature_ts" === at.get)
        .select("user_id", "rating").as[(Long, Double)].collect().toSeq ==
        Seq((1L, 1.0)))
    }
  }

  test("meta.json is JSON: quotes and backslashes round-trip and the " +
      "store reopens") {
    val root = graft.Sessions.tempDirDeletedOnExit("fsmeta").toString
    val odd = "say \"hi\" \\ bye"
    new FeatureStore(spark, root).createEntityType(EntityTypeDef("users",
      "user_id", Seq(FeatureDef("rating", "DOUBLE", odd)), odd))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$root/users/meta.json"))
    assert(parsed.get("description").asText == odd)
    assert(parsed.get("features").get(0).get("description").asText == odd)
    val reopened = new FeatureStore(spark, root)
    assert(reopened.meta("users").features == Seq(
      FeatureDef("rating", "DOUBLE", odd)))
    reopened.importFeatureValues("users", Seq((1L, 2.0))
      .toDF("user_id", "rating"), "user_id", Some(ts("2024-01-01 00:00:00")))
    assert(reopened.readValues("users").count() == 1)
  }

  test("streamingImport survives a crash-replay: the same rows as an " +
      "uncrashed run, at most one file per bucket per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = graft.Sessions.tempDirDeletedOnExit("fsreplay").toString
    (0 until 3).foreach { k =>
      (0 until 20).map(i => (i % 7).toLong -> (k * 100 + i).toDouble)
        .toDF("user_id", "rating")
        .withColumn("event_ts", timestamp_seconds(lit(1700000000L + k)))
        .coalesce(1).write.json(s"$dir/topic/k=$k")
    }
    /** Imports the topic, three files, one per batch; returns the store. */
    def run(name: String, crash: Boolean): FeatureStore = {
      val fs = new FeatureStore(spark, s"$dir/$name")
      fs.createEntityType(EntityTypeDef("users", "user_id", Seq.empty))
      def fire(): Unit = {
        val q = fs.streamingImport("users", spark.readStream
            .schema("user_id LONG, rating DOUBLE, event_ts TIMESTAMP")
            .option("maxFilesPerTrigger", 1).json(s"$dir/topic/*"),
          "event_ts", s"$dir/$name/ckpt", Trigger.AvailableNow())
        try assert(q.awaitTermination(120000), "drain did not terminate")
        finally q.stop()
      }
      fire()
      if (crash) {
        val commits = new java.io.File(s"$dir/$name/ckpt/commits")
        val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
          .maxBy(_.getName.toLong)
        assert(last.getName == "2" && last.delete())
        new java.io.File(commits, s".${last.getName}.crc").delete()
        fire() // restart from the checkpoint: batch 2 runs again
      }
      fs
    }
    val clean = run("clean", crash = false).readValues("users")
    val crashed = run("crashed", crash = true)
    val replayed = crashed.readValues("users")
    assert(clean.count() == 60)
    assert(sameRows(replayed, clean), s"${replayed.count()} rows after " +
      "the replay, 60 without it")
    val b = crashed.meta("users").buckets
    val parts = new java.io.File(s"$dir/crashed/users/values").listFiles()
      .filter(_.getName.startsWith("__import=s-"))
    assert(parts.length == 3)
    parts.foreach { p =>
      val files = p.list().filter(_.endsWith(".parquet"))
      val buckets = files.map(_.split("_").last.takeWhile(_ != '.'))
      assert(files.length <= b && buckets.distinct.length == files.length,
        files.mkString(", "))
    }
  }
}
