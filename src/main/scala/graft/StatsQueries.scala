package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Q._
import graft.QuerySpec.{rowsOnly, sql}

/** Statistical aggregates with cross-engine-exact formulations:
  * discrete percentiles pick actual data elements (no interpolation
  * drift), and variance/stddev run on quantized integers through the
  * identical IEEE expression tree on both sides (built-in stddev uses
  * engine-specific update formulas whose float rounding differs).
  */
object StatsQueries {

  /** Remediation appended to the co-occurrence guard's over-cap
    * message by the two registered graph queries (ADVICE r18: the
    * generic ops layer names no caller query or env var).
    */
  private val cooccurHint =
    "(q_graph_degree/q_graph_triangles consume this projection; " +
      "SPARK_GRAFT_COOC_PAIR_CAP raises their cap — the gen-sf30 " +
      "sweep priced this stream at 2.7B rows / ~60GB transient.)"

  /** The strong-tie customer–supplier co-supply projection both graph
    * queries consume: guarded, then parquet-memoized on the built edges
    * (so the guard's cap is still compared on every call).
    */
  private def cosupply(s: SparkSession, dir: String): DataFrame = {
    val cs = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
    val e = graft.ops.Graph.coOccurrenceEdgesGuarded(cs, "o_custkey",
      "l_suppkey", meanFactor = 1.08, maxDeg = 500L,
      maxPairs = graft.ops.Caps
        .longEnv("SPARK_GRAFT_COOC_PAIR_CAP", 200000000L),
      hint = cooccurHint)
    graft.ops.Memo.parquet(graft.ops.Memo.key(Seq(e), "cosupply"))(e)
  }

  def specs: Seq[QuerySpec] = Seq(

    sql("q_quantiles")(
      """SELECT l_returnflag,
        |       quantile_disc(l_quantity, 0.25) AS q25,
        |       quantile_disc(l_quantity, 0.5) AS q50,
        |       quantile_disc(l_quantity, 0.9) AS q90,
        |       min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)")
            .as("q25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
            .as("q50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)")
            .as("q90"),
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"))
        .orderBy("l_returnflag")
    },

    // The sketch twin of q_quantiles: approx_percentile (one-pass
    // mergeable quantile summary). At 100 TB the exact form's per-group
    // sort is the bottleneck; the sketch is the standard trade and its
    // rank error is bounded by 1/accuracy. Sketch internals differ
    // across engines → rows-only; SketchBoundsSpec pins the rank-error
    // bound against the exact twin on real data.
    rowsOnly("q_quantiles_approx") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_quantity"),
            array(lit(0.25), lit(0.5), lit(0.9)), lit(10000)).as("qs"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q90"),
          col("n"))
        .orderBy("l_returnflag")
    },

    // The ORACLE-CHECKED quantile sketch twin (the q_hll_md5 move
    // applied to quantiles): a grid-histogram inverse-CDF. Values are
    // quantized to integer cents and binned at a fixed $100 width; the
    // per-group histogram is an order-free, map-side-combinable partial
    // aggregate (the shuffle carries ≤ domain/width bins, never rows —
    // the same mergeable-summary shape as q_quantiles_approx's KLL),
    // and the quantile is the first bin whose running count reaches
    // ceil(p·n), computed in pure BIGINT on both engines. Rank error is
    // deterministic — bounded by the bin width — rather than
    // probabilistic, which is what makes it cross-engine exact.
    sql("q_quantiles_hist")(
      """WITH q AS (SELECT l_returnflag AS g,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) // 10000 AS bin
        |  FROM lineitem),
        |h AS (SELECT g, bin, count(*) AS c FROM q GROUP BY g, bin),
        |cw AS (SELECT g, bin, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY bin) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM h)
        |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum >= (n*25+99)//100 THEN bin END) * 10000
        |    AS q25_cents,
        |  min(CASE WHEN cum >= (n*50+99)//100 THEN bin END) * 10000
        |    AS q50_cents,
        |  min(CASE WHEN cum >= (n*90+99)//100 THEN bin END) * 10000
        |    AS q90_cents
        |FROM cw GROUP BY g ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT) div 10000")
          .as("bin"))
      val h = q.groupBy("g", "bin").agg(count(lit(1)).as("c"))
      val cw = h
        .withColumn("cum",
          sum("c").over(Window.partitionBy("g").orderBy("bin")))
        .withColumn("n", sum("c").over(Window.partitionBy("g")))
      def qAt(pct: Int, out: String) =
        (min(when(col("cum") >= expr(s"(n * $pct + 99) div 100"),
          col("bin"))) * 10000).as(out)
      cw.groupBy("g").agg(max("n").as("n"),
          qAt(25, "q25_cents"), qAt(50, "q50_cents"),
          qAt(90, "q90_cents"))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")
    },

    // Pearson correlation + OLS slope/intercept per group from exact
    // integer moments (x = quantity units, y = price cents): the five
    // sums are order-free and map-side combinable — ONE shuffle of 5
    // accumulators per group at any scale; the final formulas run the
    // identical IEEE double expression tree on both engines.
    // Built-in corr()/covar_samp() use engine-specific streaming update
    // formulas whose rounding differs — moments sidestep that.
    // Moments accumulate in DECIMAL(38,0), not BIGINT: y² ≈ 1.4e13 per
    // row, so a BIGINT Σy² wraps past ~6.5e5 rows/group — barely above
    // the sf0.1 verification scale — and Spark (non-ANSI) would wrap
    // silently while DuckDB promotes to HUGEINT: silent cross-engine
    // divergence. DECIMAL(38,0) is exact to 1e38 (~7e24 rows/group) on
    // both engines and still map-side combinable.
    sql("q_corr")(
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(l_quantity) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
        |    CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS sxx,
        |    CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS syy,
        |    CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS sxy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |   sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
      val dec19 = DecimalType(19, 0)
      val dec38 = DecimalType(38, 0)
      val q = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_quantity")).cast(LongType).as("x"),
        round(col("l_extendedprice") * 100).cast(LongType).as("y"))
      val m = q.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec38)).cast(dec38).as("sx"),
        sum(col("y").cast(dec38)).cast(dec38).as("sy"),
        sum(col("x").cast(dec19) * col("x")).cast(dec38).as("sxx"),
        sum(col("y").cast(dec19) * col("y")).cast(dec38).as("syy"),
        sum(col("x").cast(dec19) * col("y")).cast(dec38).as("sxy"))
      val nD = col("n").cast(DoubleType)
      val sxD = col("sx").cast(DoubleType)
      val syD = col("sy").cast(DoubleType)
      val cov = nD * col("sxy").cast(DoubleType) - sxD * syD
      val vx = nD * col("sxx").cast(DoubleType) - sxD * sxD
      val vy = nD * col("syy").cast(DoubleType) - syD * syD
      m.select(col("l_returnflag"), col("n"),
          (cov / (sqrt(vx) * sqrt(vy))).as("corr_xy"),
          (cov / vx).as("slope"),
          (syD / nD - (cov / vx) * (sxD / nD)).as("intercept"))
        .orderBy("l_returnflag")
    },

    // Sample variance/stddev from exact integer moments: x is cents,
    // Σx and Σx² accumulate in DECIMAL(38,0) (x² ≈ 1.6e13/row wraps a
    // BIGINT sum past ~5e5 rows/group — see q_corr note), and the final
    // (Σx² − (Σx)²/n)/(n−1) runs the same IEEE ops in both engines.
    sql("q_stats")(
      """WITH q AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS x
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        |    CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS s2
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
        |     / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) AS var_cents,
        |  sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)
        |     / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS std_cents
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("bigint").as("x"))
      val m = q.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("s1"),
        sum(col("x").cast("decimal(19,0)") * col("x"))
          .cast("decimal(38,0)").as("s2"))
      val varE = (col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") /
          col("n").cast("double")) / (col("n") - 1).cast("double")
      m.select(col("l_returnflag"), col("n"), varE.as("var_cents"),
          sqrt(varE).as("std_cents"))
        .orderBy("l_returnflag")
    },

    // Conditional / null-handling scalar functions.
    sql("q_cond_funcs")(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS rf_or_none,
        |  LEAST(l_quantity, 25.0) AS q_capped,
        |  GREATEST(l_discount, l_tax) AS max_rate,
        |  CASE WHEN l_quantity > 40 THEN 'bulk'
        |       WHEN l_quantity > 10 THEN 'mid'
        |       ELSE 'small' END AS size_class,
        |  IF(l_discount > 0.05, 1, 0) AS discounted
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount
        |""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none"))
            .as("rf_or_none"),
          least(col("l_quantity"), lit(25.0)).as("q_capped"),
          greatest(col("l_discount"), col("l_tax")).as("max_rate"),
          when(col("l_quantity") > 40, "bulk")
            .when(col("l_quantity") > 10, "mid")
            .otherwise("small").as("size_class"),
          when(col("l_discount") > 0.05, 1).otherwise(0)
            .as("discounted"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity",
          "l_discount")
    },

    // Ordered string aggregation (listagg/string_agg equivalent).
    sql("q_string_agg")(
      """SELECT n_nationkey,
        |       string_agg(c_name, '|' ORDER BY c_name) AS names
        |FROM nation JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin) {
      (s, dir) =>
        t(s, dir, "nation").join(t(s, dir, "customer"),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_nationkey")
          .agg(array_join(sort_array(collect_list(col("c_name"))), "|")
            .as("names"))
          .orderBy("n_nationkey")
    },

    // GROUP BY + HAVING over a join (restriction on the aggregate).
    sql("q_having")(
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_spend
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 12
        |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          Q.sumD2(col("o_totalprice")).as("total_spend"))
        .filter(col("n_orders") >= 12)
        .orderBy("o_custkey")
    },

    // Z-score anomaly detection per event_type — the outlier sweep a
    // training-data pipeline runs before ingesting metrics. Moments on
    // quantized cents (order-independent DECIMAL(38,0) sums — BIGINT Σx²
    // wraps at scale, see q_corr note), then one
    // identical IEEE expression tree on both engines for μ, σ, z.
    // Plan: one map-side-combinable aggregate (5 groups) broadcast back
    // onto the stream — no second shuffle at any scale.
    sql("q_events_anomaly")(
      """WITH q AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
        |    CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS s2
        |  FROM q GROUP BY event_type)
        |SELECT event_id, q.event_type, x AS value_cents,
        |  (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE)) /
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS
        |      DOUBLE)/CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS z
        |FROM q JOIN m ON q.event_type = m.event_type
        |WHERE abs((CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n AS
        |    DOUBLE)) /
        |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS
        |      DOUBLE)/CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))) > 2.5
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        round(col("value") * 100).cast("bigint").as("x"))
      val m = q.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("s1"),
        sum(col("x").cast("decimal(19,0)") * col("x"))
          .cast("decimal(38,0)").as("s2"))
      val mu = col("s1").cast("double") / col("n").cast("double")
      val sigma = sqrt((col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") /
          col("n").cast("double")) / col("n").cast("double"))
      val z = (col("x").cast("double") - mu) / sigma
      q.join(broadcast(m), "event_type")
        .filter(abs(z) > 2.5)
        .select(col("event_id"), col("event_type"),
          col("x").as("value_cents"), z.as("z"))
        .orderBy("event_id")
    },

    // Robust outliers via median absolute deviation — immune to the
    // outliers a mean/σ sweep absorbs (complement of
    // q_events_anomaly). Two aggregate passes (median of cents, then
    // median absolute deviation in exact integers), each broadcast
    // back; threshold |x − med| > 8·mad stays all-integer so the
    // oracle hashes exactly.
    sql("q_anomaly_mad")(
      """WITH q AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(quantile_disc(x, 0.5) AS BIGINT) AS med
        |  FROM q GROUP BY event_type),
        |d AS (SELECT q.event_id, q.event_type, q.x, m.med,
        |        abs(q.x - m.med) AS dev
        |      FROM q JOIN m ON q.event_type = m.event_type),
        |a AS (SELECT event_type,
        |    CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.x AS value_cents,
        |       d.dev, a.mad
        |FROM d JOIN a ON d.event_type = a.event_type
        |WHERE d.dev > 8 * a.mad
        |ORDER BY d.event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("x"))
      val m = q.groupBy("event_type").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)")
          .cast("bigint").as("med"))
      val d = q.join(broadcast(m), "event_type")
        .withColumn("dev", abs(col("x") - col("med")))
      val a = d.groupBy("event_type").agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
          .cast("bigint").as("mad"))
      d.join(broadcast(a), "event_type")
        .filter(col("dev") > col("mad") * 8)
        .select(col("event_id"), col("event_type"),
          col("x").as("value_cents"), col("dev"), col("mad"))
        .orderBy("event_id")
    },

    // Quantile binning (feature engineering): assign each event its
    // corpus value-quartile. The SCALABLE shape: exact discrete
    // quartile thresholds from one aggregate, broadcast back, CASE
    // assignment in a narrow map — never a global ntile() window
    // (which would collapse the corpus into one sorting task).
    sql("q_quantile_bin")(
      """WITH t AS (SELECT quantile_disc(value, 0.25) AS q1,
        |    quantile_disc(value, 0.5) AS q2,
        |    quantile_disc(value, 0.75) AS q3 FROM events)
        |SELECT event_id, value,
        |  CASE WHEN value <= q1 THEN 1 WHEN value <= q2 THEN 2
        |       WHEN value <= q3 THEN 3 ELSE 4 END AS bin
        |FROM events, t WHERE value IS NOT NULL
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
      val th = ev.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)")
          .as("q1"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
          .as("q2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)")
          .as("q3"))
      ev.crossJoin(broadcast(th))
        .select(col("event_id"), col("value"),
          when(col("value") <= col("q1"), 1)
            .when(col("value") <= col("q2"), 2)
            .when(col("value") <= col("q3"), 3)
            .otherwise(4).as("bin"))
        .orderBy("event_id")
    },

    // Distribution drift between two event populations (A = even ids,
    // B = odd ids) over value buckets — the feature-drift monitor of a
    // training pipeline, with the L1 distance computed EXACTLY in
    // integers: Σ|c_a·N_b − c_b·N_a| as BIGINT, one final IEEE division
    // by N_a·N_b. No float summation order to disagree on. Post-
    // aggregation tables are bucket-sized, so the two rejoins broadcast.
    sql("q_feature_drift")(
      """WITH e AS (SELECT CAST(floor(value / 5) AS BIGINT) AS bin,
        |    event_id % 2 = 0 AS in_a FROM events
        |  WHERE value IS NOT NULL),
        |c AS (SELECT bin,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |  FROM e GROUP BY bin),
        |t AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
        |             CAST(sum(c_b) AS BIGINT) AS n_b FROM c),
        |j AS (SELECT bin, c_a, c_b, n_a, n_b,
        |        CAST(abs(c_a * n_b - c_b * n_a) AS BIGINT) AS l1_term
        |      FROM c, t),
        |l AS (SELECT CAST(sum(l1_term) AS BIGINT) AS l1_total FROM j)
        |SELECT bin, c_a, c_b, l1_term, l1_total,
        |  CAST(l1_total AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS drift
        |FROM j, l ORDER BY bin""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").filter(col("value").isNotNull)
        .select(floor(col("value") / 5).cast("bigint").as("bin"),
          (col("event_id") % 2 === 0).as("in_a"))
      val c = e.groupBy("bin").agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).cast("bigint")
            .as("c_a"),
          sum(when(col("in_a"), 0L).otherwise(1L)).cast("bigint")
            .as("c_b"))
        .cache()
      val tot = c.agg(sum("c_a").cast("bigint").as("n_a"),
        sum("c_b").cast("bigint").as("n_b"))
      val j = c.crossJoin(broadcast(tot))
        .withColumn("l1_term",
          abs(col("c_a") * col("n_b") - col("c_b") * col("n_a"))
            .cast("bigint"))
      val l1 = j.agg(sum("l1_term").cast("bigint").as("l1_total"))
      j.crossJoin(broadcast(l1))
        .select(col("bin"), col("c_a"), col("c_b"), col("l1_term"),
          col("l1_total"),
          (col("l1_total").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("drift"))
        .orderBy("bin")
    },

    // -- quantized PageRank, 2 rounds over the bipartite trade graph
    // (the link-authority quality signal for corpus curation; exact
    // integer flows — see graft.ops.Graph) ------------------------------
    sql("q_pagerank")(
      """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT c AS src, 1000000 + s AS dst FROM e0
        |      UNION ALL SELECT 1000000 + s AS src, c AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |i1 AS (SELECT e.dst AS id,
        |         CAST(sum(1000000000 // deg.d) AS BIGINT) AS inflow
        |       FROM e JOIN deg USING (src) GROUP BY 1),
        |r1 AS (SELECT n.id, CAST(floor(1.5e-1 * 1e9 + 8.5e-1 *
        |         CAST(COALESCE(i1.inflow, 0) AS DOUBLE)) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN i1 USING (id)),
        |i2 AS (SELECT e.dst AS id,
        |         CAST(sum(r1.r // deg.d) AS BIGINT) AS inflow
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.id, CAST(floor(1.5e-1 * 1e9 + 8.5e-1 *
        |         CAST(COALESCE(i2.inflow, 0) AS DOUBLE)) AS BIGINT) AS r
        |       FROM nodes n LEFT JOIN i2 USING (id))
        |SELECT id AS node_id, r AS rank_q FROM r2
        |ORDER BY node_id""".stripMargin) { (s, dir) =>
      graft.ops.Graph.pageRankQuant(
        graft.ops.Graph.tradeGraph(t(s, dir, "orders"),
          t(s, dir, "lineitem")), iters = 2)
        .orderBy("node_id")
    },

    // -- triangle census over the supplier co-supply graph (strong
    // ties: pairs sharing >= 1.08× the mean customer overlap — a
    // scale-free threshold): thresholded bipartite projection, then
    // the DEGREE-ORDERED wedge-close count (Schank–Wagner; id
    // orientation explodes to 8.8 B wedges on the pl-sf3 hub graph
    // where degree order executes 65.7 M — see graft.ops.Graph).
    // The closing check is a plain JOIN (oriented edges are unique,
    // so the counts equal EXISTS semantics): DuckDB's correlated-
    // EXISTS plan spilled >45 GB to ENOSPC on the 65.7 M-wedge
    // oracle at pl-sf3 where the hash join streams it. ------------------
    sql("q_graph_triangles")(
      """WITH cs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS i
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |cf AS (SELECT c, i FROM (SELECT c, i,
        |         count(*) OVER (PARTITION BY c) AS deg FROM cs)
        |       WHERE deg <= 500),
        |p AS MATERIALIZED (SELECT a.i AS lo, b.i AS hi, count(*) AS sh
        |      FROM cf a JOIN cf b ON a.c = b.c AND a.i < b.i
        |      GROUP BY 1, 2),
        |m AS (SELECT CAST(CAST(sum(sh) AS BIGINT) AS DOUBLE) /
        |        CAST(count(*) AS DOUBLE) AS mu FROM p),
        |e AS MATERIALIZED (SELECT lo, hi FROM p, m
        |      WHERE CAST(sh AS DOUBLE) >= 1.08e0 * m.mu),
        |deg AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |          SELECT lo AS node FROM e
        |          UNION ALL SELECT hi AS node FROM e) GROUP BY 1),
        |o AS MATERIALIZED (SELECT CASE WHEN da.d < db.d
        |               OR (da.d = db.d AND e.lo < e.hi)
        |             THEN e.lo ELSE e.hi END AS src,
        |             CASE WHEN da.d < db.d
        |               OR (da.d = db.d AND e.lo < e.hi)
        |             THEN e.hi ELSE e.lo END AS dst,
        |             CASE WHEN da.d < db.d
        |               OR (da.d = db.d AND e.lo < e.hi)
        |             THEN db.d ELSE da.d END AS dd
        |      FROM e JOIN deg da ON da.node = e.lo
        |             JOIN deg db ON db.node = e.hi),
        |w AS (SELECT o1.dst AS x, o2.dst AS y FROM o o1 JOIN o o2
        |      ON o1.src = o2.src AND (o1.dd < o2.dd
        |        OR (o1.dd = o2.dd AND o1.dst < o2.dst))),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM w JOIN o oc ON oc.src = w.x AND oc.dst = w.y),
        |nw AS (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
        |         AS n_wedges
        |       FROM (SELECT src, count(*) AS c FROM o GROUP BY 1))
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |       nw.n_wedges, tri.n_triangles
        |FROM tri, nw""".stripMargin) { (s, dir) =>
      graft.ops.Graph.triangleStats(cosupply(s, dir))
    },

    // -- degree distribution of the same strong-tie projection ---------
    sql("q_graph_degree")(
      """WITH cs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS i
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |cf AS (SELECT c, i FROM (SELECT c, i,
        |         count(*) OVER (PARTITION BY c) AS deg FROM cs)
        |       WHERE deg <= 500),
        |p AS (SELECT a.i AS lo, b.i AS hi, count(*) AS sh
        |      FROM cf a JOIN cf b ON a.c = b.c AND a.i < b.i
        |      GROUP BY 1, 2),
        |m AS (SELECT CAST(CAST(sum(sh) AS BIGINT) AS DOUBLE) /
        |        CAST(count(*) AS DOUBLE) AS mu FROM p),
        |e AS (SELECT lo, hi FROM p, m
        |      WHERE CAST(sh AS DOUBLE) >= 1.08e0 * m.mu),
        |d AS (SELECT node, count(*) AS degree FROM (
        |        SELECT lo AS node FROM e
        |        UNION ALL SELECT hi AS node FROM e)
        |      GROUP BY 1)
        |SELECT degree, count(*) AS n_nodes FROM d
        |GROUP BY 1 ORDER BY degree""".stripMargin) { (s, dir) =>
      val e = cosupply(s, dir)
      e.select(col("lo").as("node"))
        .unionAll(e.select(col("hi").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("degree")
    },

    // -- mean imputation (feature prep): fill NULL values with the
    // per-type mean — one map-side-combinable aggregate (decimal-exact
    // sum, non-null count) broadcast back onto the stream; the imputed
    // value is floor(mean cents) so everything stays integer-exact.
    // Never a window over the full stream. ------------------------------
    sql("q_impute_mean")(
      """WITH q AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |m AS (SELECT event_type,
        |    CAST(floor(CAST(CAST(sum(CAST(x AS DECIMAL(38,0)))
        |        AS DECIMAL(38,0)) AS DOUBLE) /
        |      CAST(count(x) AS DOUBLE)) AS BIGINT) AS mean_cents
        |  FROM q GROUP BY event_type)
        |SELECT event_id, q.event_type, x AS value_cents,
        |  COALESCE(x, mean_cents) AS imputed_cents,
        |  (x IS NULL) AS was_imputed
        |FROM q JOIN m ON q.event_type = m.event_type
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        round(col("value") * 100).cast("bigint").as("x"))
      val m = q.groupBy("event_type").agg(
        floor(sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)")
            .cast("double") / count(col("x")).cast("double"))
          .cast("bigint").as("mean_cents"))
      q.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"),
          col("x").as("value_cents"),
          coalesce(col("x"), col("mean_cents")).as("imputed_cents"),
          col("x").isNull.as("was_imputed"))
        .orderBy("event_id")
    },

    // -- winsorization (feature prep): clip each value to its type's
    // exact [p05, p95] — discrete percentiles on integer cents from one
    // aggregate (percentile_disc ≡ DuckDB quantile_disc), broadcast
    // back, clamp in a narrow map. The robust-outlier complement of
    // dropping rows (q_anomaly_mad drops; winsorizing keeps the row,
    // bounds the leverage). ---------------------------------------------
    sql("q_winsorize")(
      """WITH q AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT event_type,
        |    CAST(quantile_disc(x, 0.05) AS BIGINT) AS p05,
        |    CAST(quantile_disc(x, 0.95) AS BIGINT) AS p95
        |  FROM q GROUP BY event_type)
        |SELECT event_id, q.event_type, x AS value_cents,
        |  CASE WHEN x < p05 THEN p05 WHEN x > p95 THEN p95 ELSE x END
        |    AS clipped_cents,
        |  (x < p05 OR x > p95) AS was_clipped
        |FROM q JOIN m ON q.event_type = m.event_type
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("x"))
      val m = q.groupBy("event_type").agg(
        expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY x)")
          .cast("bigint").as("p05"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY x)")
          .cast("bigint").as("p95"))
      q.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"),
          col("x").as("value_cents"),
          when(col("x") < col("p05"), col("p05"))
            .when(col("x") > col("p95"), col("p95"))
            .otherwise(col("x")).as("clipped_cents"),
          (col("x") < col("p05") || col("x") > col("p95"))
            .as("was_clipped"))
        .orderBy("event_id")
    },

    // -- min-max scaling (feature prep): per-type [0,1] normalization
    // from exact integer min/max, one IEEE division — the standard
    // feature-scaling pass before distance-based models. Same broadcast
    // shape as imputation/winsorization: aggregate → broadcast → map. --
    sql("q_scale_minmax")(
      """WITH q AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events
        |  WHERE value IS NOT NULL),
        |m AS (SELECT event_type, CAST(min(x) AS BIGINT) AS lo,
        |    CAST(max(x) AS BIGINT) AS hi
        |  FROM q GROUP BY event_type)
        |SELECT event_id, q.event_type, x AS value_cents,
        |  CASE WHEN hi = lo THEN 0e0
        |       ELSE CAST(x - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE)
        |  END AS scaled
        |FROM q JOIN m ON q.event_type = m.event_type
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("x"))
      val m = q.groupBy("event_type").agg(
        min(col("x")).cast("bigint").as("lo"),
        max(col("x")).cast("bigint").as("hi"))
      q.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"),
          col("x").as("value_cents"),
          when(col("hi") === col("lo"), lit(0.0))
            .otherwise((col("x") - col("lo")).cast("double") /
              (col("hi") - col("lo")).cast("double")).as("scaled"))
        .orderBy("event_id")
    }
  )
}
