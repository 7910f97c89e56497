package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q._
import graft.QuerySpec.sql
import graft.ops.Relational

/** Feature-store query surface over `events` (entity = user_id, time =
  * ts): online latest-value view, gap sessionization, and point-in-time
  * training-set assembly (SURVEY.md A14/A15, q_feature_*).
  */
object FeatureQueries {

  /** The oracle both PIT paths share — results must be identical
    * whether the as-of join shuffles the feature history or reads it
    * bucketed in place.
    */
  private val PitOracle: String =
    """WITH f AS (
      |  SELECT user_id, ts,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS BIGINT) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) AS total_purchase
      |  FROM events WHERE event_type = 'purchase'),
      |q AS (SELECT event_id, user_id, ts FROM events
      |      WHERE event_type = 'click'),
      |j AS (SELECT q.event_id, q.user_id, q.ts,
      |        f.n_purchases, f.total_purchase,
      |        row_number() OVER (PARTITION BY q.event_id
      |          ORDER BY f.ts DESC, f.n_purchases DESC) AS rn
      |      FROM q JOIN f ON f.user_id = q.user_id AND f.ts <= q.ts)
      |SELECT event_id, user_id, ts, n_purchases, total_purchase
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Shared pair pipeline of q_join_interval and its linear-output
    * aggregate companion: gap-sessionize once (one shuffle, cached for
    * both join sides), then the coarse-banded interval equi-join of
    * error-containing sessions against all concurrent sessions.
    * Output: (user_a, session_a, user_b, session_b, overlap_sec),
    * unordered.
    *
    * `guarded = true` (the pair-LIST query only) prices the candidate
    * volume first and refuses loudly past the cap — the list output is
    * quadratic by semantics and spilled >33 GB at gen-sf10 before this
    * guard existed (VERDICT r17 item 6). The aggregate companion runs
    * unguarded: its banded join streams the same pairs but the map-side
    * partial agg collapses them before any materialization, so it IS
    * the corpus-scale form the guard's error message points to. Cap
    * override: SPARK_GRAFT_INTERVAL_PAIR_CAP (candidate pairs; default
    * 2e8 ≈ low-GB of shuffled pair rows, comfortably inside one local
    * run yet far below the decade that died by spill).
    */
  private def overlapPairs(s: org.apache.spark.sql.SparkSession,
                           dir: String,
                           guarded: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val sessions = Relational
      .sessionize(t(s, dir, "events"), "user_id", "ts", "event_id",
        gapSeconds = 1800)
      .groupBy("user_id", "session_idx")
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
      .persist()
    val a = sessions.filter(col("n_err") >= 1)
      .select(col("user_id").as("user_a"),
        col("session_idx").cast("bigint").as("session_a"),
        col("st").as("st_a"), col("en").as("en_a"))
    val b = sessions
      .select(col("user_id").as("user_b"),
        col("session_idx").cast("bigint").as("session_b"),
        col("st").as("st_b"), col("en").as("en_b"))
    val joined =
      if (guarded) Relational.intervalJoinGuarded(
        a, b, "st_a", "en_a", "st_b", "en_b", bucketSeconds = 3600L,
        maxPairs = graft.ops.Caps
          .longEnv("SPARK_GRAFT_INTERVAL_PAIR_CAP", 200000000L),
        hint = "(q_join_interval_agg is the corpus-scale companion; " +
          "SPARK_GRAFT_INTERVAL_PAIR_CAP raises this query's cap.)")
      else Relational.intervalJoin(
        a, b, "st_a", "en_a", "st_b", "en_b", bucketSeconds = 3600L)
    joined
      .filter(not(col("user_a") === col("user_b") &&
        col("session_a") === col("session_b")))
      .select(col("user_a"), col("session_a"), col("user_b"),
        col("session_b"),
        floor((unix_micros(least(col("en_a"), col("en_b"))) -
          unix_micros(greatest(col("st_a"), col("st_b")))) / 1000000)
          .cast("bigint").as("overlap_sec"))
  }

  def specs: Seq[QuerySpec] = Seq(

    // A15: online-serving view — latest feature row per entity.
    sql("q_feature_latest")(
      """WITH r AS (SELECT user_id, event_id, ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts, event_type, value FROM r
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      Relational.latestPerKey(t(s, dir, "events"), "user_id", "ts",
          "event_id")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    },

    // Gap-based sessionization (batch session windows). Integer-µs gap
    // arithmetic keeps Spark and DuckDB bit-identical.
    sql("q_sessionize")(
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_idx
        |  FROM s)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM s2 GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin) { (s, dir) =>
      Relational.sessionize(t(s, dir, "events"), "user_id", "ts",
          "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_idx")
    },

    // Native session_window in BATCH: the same gap semantics as
    // q_sessionize but through Spark's dedicated SessionWindow
    // aggregation (merge-on-gap inside the agg operator, one shuffle on
    // the user key) — the operator the streaming session agg shares.
    // Native window end = last event + gap; the oracle mirrors that.
    sql("q_session_native")(
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM s)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       count(*) AS n_events
        |FROM s2 GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // SCD2 / temporal-table view: each observation becomes a
    // [valid_from, valid_to) version row via lead() — the history-table
    // build behind point-in-time semantics. Partitioned window, one
    // shuffle on the entity key. The open-interval sentinel must stay
    // below the int64-nanosecond horizon (2262-04-11): the events
    // column is TIMESTAMP(NANOS) parquet and a 9999-12-31 sentinel
    // overflows any ns-canonicalizing reader.
    sql("q_scd2")(
      """SELECT user_id, ts AS valid_from,
        |  coalesce(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id),
        |    TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
        |  value, (lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM events WHERE value IS NOT NULL
        |ORDER BY user_id, valid_from, event_id""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val nxt = lead(col("ts"), 1).over(w)
        t(s, dir, "events").filter(col("value").isNotNull)
          .select(col("user_id"), col("ts").as("valid_from"),
            coalesce(nxt, lit("2200-01-01 00:00:00").cast("timestamp"))
              .as("valid_to"),
            col("value"), nxt.isNull.as("is_current"), col("event_id"))
          .orderBy("user_id", "valid_from", "event_id")
          .drop("event_id")
    },

    // Interval-overlap join (range × range): sessions concurrent with
    // error-containing sessions. Catalyst alone would nested-loop the
    // full session-pair space; Relational.intervalJoin bands intervals
    // into coarse hour buckets and equi-joins on the band key — join
    // volume tracks actually-overlapping pairs. The PAIR LIST itself
    // is still output-quadratic by semantics (documented feature-scale,
    // SURVEY §2.2 — >33 GB spill at gen-sf10), so this query runs
    // guarded: candidate volume is priced first and an over-cap corpus
    // fails loudly, pointing at q_join_interval_agg below.
    sql("q_join_interval")(
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM s),
        |g AS (SELECT user_id, session_idx,
        |        CAST(session_idx AS BIGINT) AS sidx,
        |        min(ts) AS st, max(ts) AS en,
        |        sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |          AS n_err
        |      FROM s2 GROUP BY 1, 2)
        |SELECT i.user_id AS user_a, i.sidx AS session_a,
        |       g.user_id AS user_b, g.sidx AS session_b,
        |       CAST((epoch_us(least(i.en, g.en)) -
        |             epoch_us(greatest(i.st, g.st))) // 1000000
        |         AS BIGINT) AS overlap_sec
        |FROM g i JOIN g ON i.n_err >= 1
        |  AND i.st <= g.en AND g.st <= i.en
        |  AND NOT (i.user_id = g.user_id
        |           AND i.session_idx = g.session_idx)
        |ORDER BY user_a, session_a, user_b, session_b""".stripMargin) {
      (s, dir) =>
        overlapPairs(s, dir, guarded = true)
          .orderBy("user_a", "session_a", "user_b", "session_b")
    },

    // Linear-output companion to q_join_interval: the SAME bucketed
    // interval join, collapsed to per-error-user overlap statistics
    // (pair count / total / max). The exact pair list is
    // output-quadratic by semantics and unsweepable at scale; this
    // aggregate keeps the interval-join PATH exercised at any sf — the
    // shuffle still carries the true overlapping-pair stream, but the
    // result (one row per error-session user) is linear and the
    // map-side partial agg collapses it before the final exchange.
    sql("q_join_interval_agg")(
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM s),
        |g AS (SELECT user_id, session_idx,
        |        CAST(session_idx AS BIGINT) AS sidx,
        |        min(ts) AS st, max(ts) AS en,
        |        sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |          AS n_err
        |      FROM s2 GROUP BY 1, 2),
        |p AS (SELECT i.user_id AS user_a,
        |        CAST((epoch_us(least(i.en, g.en)) -
        |              epoch_us(greatest(i.st, g.st))) // 1000000
        |          AS BIGINT) AS overlap_sec
        |      FROM g i JOIN g ON i.n_err >= 1
        |        AND i.st <= g.en AND g.st <= i.en
        |        AND NOT (i.user_id = g.user_id
        |                 AND i.session_idx = g.session_idx))
        |SELECT user_a, CAST(count(*) AS BIGINT) AS n_overlaps,
        |       CAST(sum(overlap_sec) AS BIGINT) AS total_overlap_sec,
        |       CAST(max(overlap_sec) AS BIGINT) AS max_overlap_sec
        |FROM p GROUP BY user_a ORDER BY user_a""".stripMargin) {
      (s, dir) =>
        overlapPairs(s, dir)
          .groupBy("user_a")
          .agg(count(lit(1)).as("n_overlaps"),
            sum(col("overlap_sec")).as("total_overlap_sec"),
            max(col("overlap_sec")).as("max_overlap_sec"))
          .orderBy("user_a")
    },

    // Session path analysis on top of sessionize: the ordered
    // event-type journey per session, then journey frequencies — the
    // behavioral-pattern rollup over the same one-shuffle session
    // assignment. Path build is an ordered in-group collect (struct
    // sort, no second window); the journey count is a tiny aggregate.
    sql("q_user_journeys")(
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    SUM(is_new) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_idx
        |  FROM s),
        |j AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s2 GROUP BY user_id, session_idx)
        |SELECT path, count(*) AS n_sessions
        |FROM j GROUP BY path
        |ORDER BY n_sessions DESC, path""".stripMargin) { (s, dir) =>
      Relational.sessionize(t(s, dir, "events"), "user_id", "ts",
          "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_idx")
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            e => e.getField("event_type")), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
    },

    // Point-in-time training set: for each click, the user's purchase
    // history *so far* (count + exact running total). The as-of join is
    // the union+window algorithm — no range-join blowup at scale.
    sql("q_feature_pit")(PitOracle) { (s, dir) =>
      val ev = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val features = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          row_number().over(w).cast(LongType).as("n_purchases"),
          sum(col("value").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))
            .cast(DoubleType).as("total_purchase"))
      val queries = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      Relational.asofJoin(queries, features, "user_id", "ts", "ts",
          Seq("n_purchases", "total_purchase"))
        .filter(col("asof_n_purchases").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_n_purchases").as("n_purchases"),
          col("asof_total_purchase").as("total_purchase"))
        .orderBy("event_id")
    },

    // The SAME point-in-time training set over a bucketed feature
    // history — the 100 TB as-of-join story (SURVEY §7 risk #1): the
    // feature table is materialized once, bucketed by the entity key,
    // and the same as-of join reads it in place with ZERO shuffle on
    // the (huge) feature side — only the query side moves. Same oracle
    // as q_feature_pit: the two paths must be row-identical.
    // BucketingSpec pins the shuffle-free plan shape.
    sql("q_feature_pit_bucketed")(PitOracle) { (s, dir) =>
      // The feature history is imported ONCE per events input (memoized:
      // verify, warm and timed passes reuse it). The table is named
      // after the memo key, so another or a rewritten input never
      // overwrites a table that a live entry points at.
      val events = t(s, dir, "events")
      val key = graft.ops.Memo.key(Seq(events), "pit_bucketed")
      val tbl = graft.ops.Memo.value(key) {
        val name = "graft_pit_features_" + key.take(32)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.io.Bucketing.writeBucketed(
          events.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"),
              row_number().over(w).cast(LongType).as("n_purchases"),
              sum(col("value").cast(DecimalType(18, 2)))
                .over(w.rowsBetween(Window.unboundedPreceding,
                  Window.currentRow))
                .cast(DoubleType).as("total_purchase")),
          name, "user_id", 32)
        name
      }
      val queries = events.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      Relational.asofJoin(queries, s.table(tbl), "user_id", "ts", "ts",
          Seq("n_purchases", "total_purchase"))
        .filter(col("asof_n_purchases").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_n_purchases").as("n_purchases"),
          col("asof_total_purchase").as("total_purchase"))
        .orderBy("event_id")
    },

    // Rolling per-entity statistics (feature prep): count/mean/std of
    // the trailing hour, from exact integer moments inside ONE range
    // window frame — the classic time-series feature alongside
    // q_window_range's rolling sum. Moments accumulate in DECIMAL(38,0)
    // (see q_corr note: BIGINT Σx² wraps at scale); the mean/std
    // formulas are the identical IEEE tree on both engines. One shuffle
    // on the entity key; the frame is evaluated incrementally per key —
    // never a self-join on time.
    sql("q_rolling_stats")(
      """WITH q AS (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
        |    CAST(round(value * 100) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |f AS (SELECT event_id, user_id, ts_s,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) OVER w
        |      AS DECIMAL(38,0)) AS s1,
        |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) OVER w
        |      AS DECIMAL(38,0)) AS s2
        |  FROM q
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, ts_s, n,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS roll_mean_cents,
        |  CASE WHEN n > 1 THEN
        |    sqrt((CAST(s2 AS DOUBLE)
        |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |          / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
        |  ELSE 0e0 END AS roll_std_cents
        |FROM f ORDER BY event_id""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          floor(unix_timestamp(col("ts"))).cast("bigint").as("ts_s"),
          round(col("value") * 100).cast("bigint").as("x"))
      val w = Window.partitionBy("user_id").orderBy("ts_s")
        .rangeBetween(-3600L, Window.currentRow)
      val f = q.select(col("event_id"), col("user_id"), col("ts_s"),
        count(lit(1)).over(w).as("n"),
        sum(col("x").cast("decimal(38,0)")).over(w)
          .cast("decimal(38,0)").as("s1"),
        sum(col("x").cast("decimal(19,0)") * col("x")).over(w)
          .cast("decimal(38,0)").as("s2"))
      val nD = col("n").cast("double")
      val s1D = col("s1").cast("double")
      f.select(col("event_id"), col("user_id"), col("ts_s"), col("n"),
          (s1D / nD).as("roll_mean_cents"),
          when(col("n") > 1,
            sqrt((col("s2").cast("double") - s1D * s1D / nD)
              / (col("n") - 1).cast("double")))
            .otherwise(lit(0.0)).as("roll_std_cents"))
        .orderBy("event_id")
    },

    // Hashing-trick categorical encoding (feature prep): category →
    // fixed bucket via md5 (the cross-engine-exact digest, per the
    // dedup-md5 idiom: Spark conv(hex,16,10) ≡ DuckDB strpos-over-hex).
    // Purely per-row — no shuffle, no vocabulary state, unseen
    // categories hash to stable buckets, the property that makes the
    // trick the default encoder for high-cardinality features at scale.
    sql("q_feature_hash")(
      """SELECT doc_id, source || '|' || lang AS cat,
        |  ((strpos('0123456789abcdef',
        |      substr(md5(source || '|' || lang), 1, 1)) - 1) * 16
        |   + (strpos('0123456789abcdef',
        |      substr(md5(source || '|' || lang), 2, 1)) - 1)) % 64
        |    AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val cat = concat(col("source"), lit("|"), col("lang"))
      def nib(m: Int) =
        conv(substring(md5(cat), m + 1, 1), 16, 10).cast(LongType)
      t(s, dir, "documents").select(col("doc_id"), cat.as("cat"),
          ((nib(0) * 16 + nib(1)) % 64).as("bucket"))
        .orderBy("doc_id")
    },

    // Smoothed target (mean) encoding: enc(c) = (Σy_c + m·ȳ) / (n_c + m)
    // with m = 10 — the high-cardinality-categorical encoder that
    // shrinks rare categories toward the global mean. Exactness: both
    // sums are DECIMAL(38,0) cents, the formula is two IEEE divisions
    // over identical operands. Shape: one grouped aggregate + one 1-row
    // global aggregate, both broadcast back — no second shuffle.
    sql("q_target_encode")(
      """WITH q AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y FROM orders),
        |g AS (SELECT CAST(sum(CAST(y AS DECIMAL(38,0)))
        |        AS DECIMAL(38,0)) AS gs,
        |      CAST(count(*) AS BIGINT) AS gn FROM q),
        |m AS (SELECT o_orderpriority,
        |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY o_orderpriority)
        |SELECT q.o_orderkey, q.o_orderpriority,
        |  (CAST(s AS DOUBLE)
        |     + 10e0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) + 10e0) AS target_enc
        |FROM q
        |JOIN m ON q.o_orderpriority = m.o_orderpriority
        |CROSS JOIN g
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val q = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("bigint").as("y"))
      val g = q.agg(
        sum(col("y").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("gs"),
        count(lit(1)).as("gn"))
      val m = q.groupBy("o_orderpriority").agg(
        sum(col("y").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("s"),
        count(lit(1)).as("n"))
      q.join(broadcast(m), "o_orderpriority")
        .crossJoin(broadcast(g))
        .select(col("o_orderkey"), col("o_orderpriority"),
          ((col("s").cast("double")
              + lit(10.0) * (col("gs").cast("double")
                / col("gn").cast("double")))
            / (col("n").cast("double") + lit(10.0))).as("target_enc"))
        .orderBy("o_orderkey")
    }
  )
}
