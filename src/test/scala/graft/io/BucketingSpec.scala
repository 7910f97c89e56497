package graft.io

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed+sorted tables join with zero Exchange (co-located SMJ)") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.table(spark, dir, "orders")
    val lineitem = Tables.table(spark, dir, "lineitem")
    Bucketing.writeBucketed(
      orders.select("o_orderkey", "o_totalprice"),
      "b_orders", "o_orderkey", 4)
    Bucketing.writeBucketed(
      lineitem.select($"l_orderkey".as("o_orderkey"), $"l_quantity"),
      "b_lineitem", "o_orderkey", 4)
    try {
      val joined = Bucketing.bucketedJoin(spark, "b_orders",
        "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"expected sort-merge join, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // same answer as the plain (shuffling) join
      val expected = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucketed PIT path: row-identical to the union+window as-of " +
    "join, with zero shuffle on the feature side") {
    val dir = "/root/testdata/sf0.001"
    val plain = graft.Queries.queries("q_feature_pit")(spark, dir)
    // Disable broadcast so the plan shows the at-scale (SMJ) shape —
    // at sf0.001 the tiny feature side would otherwise broadcast and
    // hide the bucketing. Restore the conf afterwards (shared session).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val bucketed =
      try {
        spark.conf.set(key, "-1")
        val df = graft.Queries.queries("q_feature_pit_bucketed")(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        // exactly ONE hash Exchange: the click/query side moving to the
        // feature table's bucket partitioning. The as-of window reads
        // the bucketed scan in place.
        val exchanges = "Exchange hashpartitioning".r
          .findAllIn(plan).length
        assert(exchanges == 1,
          s"expected 1 hash exchange (query side only), got $exchanges:\n" +
            plan)
        df.collect()
      } finally spark.conf.set(key, prev)
    val plainRows = plain.collect()
    assert(bucketed.toSeq == plainRows.toSeq,
      "bucketed PIT path diverged from the union+window path")
  }

  test("saltedJoin is row-identical to the plain join (inner and left)") {
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_name")
    for (how <- Seq("inner", "left")) {
      val plain = orders.join(cust, Seq("o_custkey"), how)
      val salted = graft.ops.Relational.saltedJoin(orders, cust,
        "o_custkey", salts = 7, how = how)
      assert(salted.count() == plain.count(), s"count mismatch for $how")
      assert(salted.exceptAll(plain).isEmpty &&
        plain.exceptAll(salted).isEmpty, s"row mismatch for $how")
    }
  }

  test("join-strategy control: SHUFFLE_HASH hint plans a " +
    "ShuffledHashJoin with rows identical to the optimizer's choice") {
    // At scales where one side fits per-partition memory but exceeds
    // the broadcast threshold, shuffled-hash beats sort-merge by both
    // sorts. The hint is the supported control; rows must not change.
    val dir = "/root/testdata/sf0.001"
    val orders = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val cust = Tables.table(spark, dir, "customer")
      .select($"c_custkey".as("o_custkey"), $"c_name")
    val plain = orders.join(cust, Seq("o_custkey"))
    val hinted = orders.join(cust.hint("shuffle_hash"), Seq("o_custkey"))
    val plan = hinted.queryExecution.executedPlan
    val shj = (plan +: plan.collect {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
    }).flatMap(_.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        => j
    })
    assert(shj.nonEmpty, s"expected ShuffledHashJoin in:\n$plan")
    assert(hinted.count() == plain.count() &&
      hinted.exceptAll(plain).isEmpty && plain.exceptAll(hinted).isEmpty)
  }

  test("A9/A10: from_json/to_json round-trip the trajectory dict shape") {
    val df = Seq((1L, Seq(0.5, 1.5), 3L)).toDF("step", "reward", "action")
    val asJson = df.select($"step",
      to_json(struct($"reward", $"action")).as("payload"))
    val schema = "reward ARRAY<DOUBLE>, action BIGINT"
    val back = asJson.select($"step",
        from_json($"payload", org.apache.spark.sql.types.StructType
          .fromDDL(schema)).as("r"))
      .select($"step", $"r.reward", $"r.action")
    assert(back.as[(Long, Seq[Double], Long)].head() ==
      ((1L, Seq(0.5, 1.5), 3L)))
  }
}
