package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Relational operator library backing SURVEY.md §2.2. Everything here is
  * declarative DataFrame composition — Catalyst keeps pushdown/pruning/AQE
  * working through these helpers.
  */
object Relational {

  /** Top-k rows per group, deterministic via caller-supplied total
    * ordering (include a unique tiebreak column!). Scales: single shuffle
    * on `partitionCols`, per-partition sort, no global sort.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Point-in-time as-of join (the feature-store keystone, reference
    * semantics: Vertex FS point-in-time retrieval,
    * feature_store_helper.py:142-185).
    *
    * For each left row (key, leftTs), attaches the right-side `valueCols`
    * of the latest right row with rightTs <= leftTs (inclusive). Ties on
    * rightTs resolve to the greatest `valueCols` tuple (matches an oracle
    * `row_number() OVER (ORDER BY ts DESC, value DESC...) = 1`).
    *
    * 100 TB design: this is the union+window formulation — ONE shuffle on
    * the key, per-key sort by time, O(n log n); it never materializes the
    * (query × candidate-feature) range-join blowup. Skewed keys ride on
    * AQE.
    *
    * A right side that is already hash-partitioned on exactly `key` (the
    * scan of a table bucketed by it, see `Bucketing.writeBucketed`) stays
    * where it is: the left is repartitioned into the same layout, `Union`
    * keeps a partitioning all its children share
    * (`spark.sql.unionOutputPartitioning`), and the window adds no
    * Exchange — only the left side moves. Without that conf, or for any
    * other right side, both sides shuffle; the rows are the same.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String,
               valueCols: Seq[String],
               direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val leftCols = left.columns
    // Move the left into a right side's hash partitioning on the key.
    // Read it from `sparkPlan`: on `executedPlan`, AQE and the
    // unnecessary-bucketed-scan rule report a bare bucketed scan as
    // UnknownPartitioning.
    val placed = right.queryExecution.sparkPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n)
          if SQLConf.get.resolver(a.name, key) =>
        left.repartition(n, col(key))
      case _ => left
    }
    // Align schemas: left payload + null feature slots, and vice versa.
    val lNorm = placed
      .withColumn("__ts", col(leftTs))
      .withColumn("__isq", lit(1))
    val rNorm0 = right.select(
      (col(key) +: col(rightTs).as("__ts") +: lit(0).as("__isq") +:
        valueCols.map(col)): _*)
    val rNorm = leftCols.filterNot(c => c == key)
      .foldLeft(rNorm0)((d, c) => d.withColumn(c, lit(null)))
    val lFull = valueCols.foldLeft(lNorm)((d, c) =>
      d.withColumn(s"__v_$c", lit(null).cast(right.schema(c).dataType)))
    val rFull = valueCols.foldLeft(rNorm)((d, c) =>
      d.withColumnRenamed(c, s"__v_$c"))
    val cols = (leftCols.toSeq ++ Seq("__ts", "__isq") ++
      valueCols.map(c => s"__v_$c")).map(col)
    val unioned = lFull.select(cols: _*).unionByName(rFull.select(cols: _*))
    // Features sort before queries at equal ts (inclusive as-of); among
    // equal-ts features the greatest value tuple wins (it sorts last).
    // direction=forward walks time descending, attaching the EARLIEST
    // feature at-or-after each query instead (merge_asof forward).
    val tsOrd =
      if (direction == "backward") col("__ts").asc else col("__ts").desc
    val ord: Seq[Column] = tsOrd +: col("__isq").asc +:
      valueCols.map(c => col(s"__v_$c").asc_nulls_first)
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withVals = valueCols.foldLeft(unioned)((d, c) =>
      d.withColumn(s"asof_$c",
        last(col(s"__v_$c"), ignoreNulls = true).over(w)))
    withVals.filter(col("__isq") === 1)
      .select((leftCols.toSeq.map(col) ++
        valueCols.map(c => col(s"asof_$c"))): _*)
  }

  /** Global 0-based dense row index under a total order, WITHOUT an
    * unpartitioned window (`Window.orderBy` with no partition spec
    * collapses the whole input onto one task). Range-repartition puts
    * partitions in global key order, a local sort orders within, and
    * RDD `zipWithIndex` assigns contiguous indices partition-parallel —
    * its only synchronization is one small job counting partition sizes.
    * `orderCols` MUST be a unique key: uniqueness makes the index
    * independent of the sampled range boundaries (any boundary split of
    * a strict total order concatenates to the same sequence).
    */
  def zipIndex(df: DataFrame, orderCols: Seq[Column],
               idxCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = df.repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(idxCol, LongType, nullable = false))
    df.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** Online-serving view: latest feature row per entity (A15,
    * FeaturestoreOnlineServingServiceClient surface). Deterministic
    * tiebreak on `tiebreak` descending.
    */
  def latestPerKey(df: DataFrame, key: String, ts: String,
                   tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col(tiebreak).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Gap-based sessionization (batch form of session windows): a new
    * session starts when the gap to the previous event of the same key
    * exceeds `gapSeconds`. Exact integer microsecond arithmetic so the
    * oracle (epoch_us) matches bit-for-bit.
    */
  def sessionize(df: DataFrame, key: String, ts: String, eventId: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(eventId))
    val gapMicros = gapSeconds * 1000000L
    val withFlag = df
      .withColumn("__prev_us", lag(unix_micros(col(ts)), 1).over(w))
      .withColumn("__new",
        when(col("__prev_us").isNull ||
          unix_micros(col(ts)) - col("__prev_us") > gapMicros, 1L)
          .otherwise(0L))
    withFlag.withColumn("session_idx",
        sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__new")
  }

  /** Deterministic stratified sampling for training-data curation:
    * keep a row iff hash(id) mod 1000 < permille(stratum). Unlike
    * `df.sample` (partition-dependent RNG), the decision is a pure
    * function of the row id — reproducible across runs, partitionings,
    * and engines (the Lehmer/MINSTD step `id*48271 mod 2^31-1` is plain
    * BIGINT arithmetic, DuckDB-expressible for the oracle, and
    * `id*48271 + seed` stays far below 2^63 for any 32-bit id, so ANSI
    * overflow never trips). Per-stratum rates arrive as a tiny map →
    * broadcast joined; the sample itself is a map-side filter — ZERO
    * shuffle at any scale.
    */
  def sampleStratifiedHash(df: DataFrame, idCol: String,
                           strataCol: String, permille: Map[String, Int],
                           seed: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(permille.values.forall(p => p >= 0 && p <= 1000),
      "permille rates must be in [0, 1000]")
    val rates = permille.toSeq.toDF(strataCol, "__permille")
    val h = pmod(pmod(col(idCol).cast("long") * 48271L + lit(seed),
      lit(2147483647L)), lit(1000L))
    // inner join: a stratum absent from the map samples at rate 0
    df.join(broadcast(rates), strataCol)
      .filter(h < col("__permille"))
      .select(df.columns.map(col): _*)
  }

  /** Exactly-n-per-group deterministic sample: rows ordered inside
    * each group by a content-independent md5 of the id (a stable
    * pseudo-random shuffle both engines compute identically), top n
    * kept. The quota form of stratified sampling ("5 docs per domain"),
    * vs [[sampleStratifiedHash]]'s rate form. One (group)-partitioned
    * window — shuffle on the group key only; no global sort.
    */
  def sampleNPerGroup(df: DataFrame, groupCol: String, idCol: String,
                      n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(df.columns.map(col): _*)
  }

  /** Interval-overlap join (range × range) via coarse time banding —
    * the scale path for a join Catalyst can only express as a
    * nested-loop over the full pair space. Each interval explodes into
    * the `bucketSeconds`-wide bands it covers; candidates come from a
    * plain equi-join on the band key (shuffle-on-key, AQE-managed);
    * the exact overlap predicate filters inside the join. Pick
    * `bucketSeconds` near the typical interval length: bands per
    * interval stays O(1), so join volume is O(overlapping pairs),
    * never O(n²).
    *
    * Multi-band dedup is BY CONSTRUCTION, not by `distinct()`: a pair
    * is emitted only in the band containing the LATER of the two
    * starts (for overlapping intervals max(start) ≤ min(end), so that
    * band is covered by both sides — each true pair matches in exactly
    * one band). The r18 gen-sf30 sweep caught the old
    * distinct-afterwards form re-shuffling the ENTIRE pair stream just
    * to drop band duplicates — ENOSPC past ~70 GB of exchange spill on
    * a query whose AGGREGATE output is one row per user; with the
    * band-assignment predicate the pair stream flows straight from the
    * join into its consumer (map-side partial agg, guard, or sink)
    * with no second corpus-scale exchange. Contract change vs the old
    * form: duplicate INPUT rows are no longer collapsed (the old
    * whole-row distinct did both jobs) — callers' sides carry unique
    * keys, which every registered caller does.
    *
    * Inclusive overlap: [aStart, aEnd] ∩ [bStart, bEnd] ≠ ∅. Column
    * names of `a` and `b` must be disjoint (rename before calling).
    */
  def intervalJoin(a: DataFrame, b: DataFrame,
                   aStart: String, aEnd: String,
                   bStart: String, bEnd: String,
                   bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val us = bucketSeconds * 1000000L
    def banded(df: DataFrame, s: String, e: String) =
      df.withColumn("__bkt", explode(sequence(
        floor(unix_micros(col(s)) / us).cast("long"),
        floor(unix_micros(col(e)) / us).cast("long"))))
    // hint("merge"): both sides are Generate (explode) outputs, whose
    // size estimate passes through the un-exploded child — Catalyst
    // auto-broadcasts the "smaller" side on that underestimate, which
    // at corpus scale materializes a multi-GB broadcast (the gen-sf30
    // sweep caught the sibling defect failing at 8 GiB in the SimHash
    // band join). SMJ is what correct stats would pick; AQE still
    // handles skew/coalesce on the shuffle.
    banded(a, aStart, aEnd).as("a").hint("merge")
      .join(banded(b, bStart, bEnd).as("b").hint("merge"),
        col("a.__bkt") === col("b.__bkt") &&
          col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd) &&
          col("a.__bkt") === floor(unix_micros(
            greatest(col(aStart), col(bStart))) / us).cast("long"))
      .drop("__bkt")
  }

  /** Upper-bound estimate of [[intervalJoin]]'s candidate-pair volume:
    * Σ over bands of (a-intervals in band × b-intervals in band). One
    * cheap aggregate — two banded per-bucket counts, an equi-join on
    * the band key (band count ≈ time-range / bucketSeconds, tiny), one
    * scalar sum. Upper bound because in-band candidates that fail the
    * exact overlap predicate, and pairs double-counted across shared
    * bands, are all included — which is the right direction for a
    * guard: the estimate bounds the join's SHUFFLE-side work even when
    * the post-filter output is smaller.
    */
  def intervalJoinPairEstimate(a: DataFrame, b: DataFrame,
                               aStart: String, aEnd: String,
                               bStart: String, bEnd: String,
                               bucketSeconds: Long): Long = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val us = bucketSeconds * 1000000L
    def bandCounts(df: DataFrame, s: String, e: String) =
      df.select(explode(sequence(
          floor(unix_micros(col(s)) / us).cast("long"),
          floor(unix_micros(col(e)) / us).cast("long"))).as("__bkt"))
        .groupBy("__bkt").agg(count(lit(1)).as("__n"))
    // Per-band product and the sum both run in DOUBLE: two bands of
    // ~3 B intervals each already push n_a·n_b past BIGINT, and under
    // ANSI (Spark 4 default) the overflow would surface as a raw
    // ArithmeticException instead of this guard's loud refusal (ADVICE
    // r18). Double loses only low-order precision at that magnitude —
    // irrelevant for a bound that is compared against caps in the 1e8
    // range — and any non-finite / ≥Long.Max reading saturates to
    // Long.MaxValue, i.e. "exceeds every cap", the safe direction.
    val est = bandCounts(a, aStart, aEnd).as("ac")
      .join(bandCounts(b, bStart, bEnd).as("bc"), "__bkt")
      .agg(sum(col("ac.__n").cast("double") * col("bc.__n").cast("double")))
      .collect()(0)
    if (est.isNullAt(0)) 0L else Caps.saturate(est.getDouble(0))
  }

  /** [[intervalJoin]] behind a loud output-volume guard (VERDICT r17
    * item 6). The exact pair LIST an interval join materializes is
    * output-quadratic by semantics — at gen-sf10 the ungated form
    * spilled >33 GB before failing (documented feature-scale in SURVEY
    * §2.2). This wrapper prices the candidate volume first with
    * [[intervalJoinPairEstimate]] (one scalar aggregate, band-count
    * sized) and throws past `maxPairs` instead of launching a job that
    * dies by spill, pointing at the linear-output aggregate companion
    * (q_join_interval_agg's shape: same banded join, collapsed by a
    * map-side partial aggregate) as the corpus-scale form. Estimation
    * runs eagerly at plan-build time; callers that cannot afford the
    * extra pass (or whose pair volume is known bounded) use
    * [[intervalJoin]] directly.
    *
    * @param hint optional caller-supplied remediation appended to the
    *             over-cap message (e.g. the registered companion query
    *             and cap env var) — the generic layer names neither
    *             (ADVICE r18)
    */
  def intervalJoinGuarded(a: DataFrame, b: DataFrame,
                          aStart: String, aEnd: String,
                          bStart: String, bEnd: String,
                          bucketSeconds: Long,
                          maxPairs: Long,
                          hint: String = ""): DataFrame = {
    // Memoized on both inputs (Memo.key — VERDICT r19 item 7): the
    // same join skips the ~0.9 s re-pricing pass; other rows, files or
    // bucketing price fresh. The CAP comparison below runs per call.
    val est = Memo.value(Memo.key(Seq(a, b), "interval", aStart, aEnd,
        bStart, bEnd, bucketSeconds)) {
      intervalJoinPairEstimate(
        a, b, aStart, aEnd, bStart, bEnd, bucketSeconds)
    }
    if (est > maxPairs) throw new IllegalStateException(
      s"intervalJoin candidate-pair estimate $est exceeds maxPairs " +
        s"$maxPairs: the exact pair list is output-quadratic and this " +
        "corpus would spill, not stream. Use a linear-output aggregate " +
        "companion (same banded join collapsed by a map-side partial " +
        "aggregate) at corpus scale, or raise the cap deliberately." +
        (if (hint.nonEmpty) " " + hint else ""))
    intervalJoin(a, b, aStart, aEnd, bStart, bEnd, bucketSeconds)
  }

  /** Numeric band equi-join (point × interval): rows of `points` whose
    * `valCol` lands in [`centerCol` − halfWidth, `centerCol` + halfWidth]
    * of `bands`. Same coarse-banding trick as [[intervalJoin]], on a
    * numeric axis: bucket width = the full band (2·halfWidth), so a band
    * covers ≤ 2 buckets and a point exactly 1 — candidates come from a
    * plain equi-join on the bucket key (broadcast/shuffle-on-key,
    * AQE-managed, parallel over the point side), the exact BETWEEN
    * filters inside the join, and no dedup is needed (each point maps to
    * one bucket). Join work is O(points sharing a bucket with a band) ≈
    * O(output), never the O(|points|·|bands|) nested loop Catalyst
    * plans for a raw non-equi BETWEEN — the gen-sf10 sweep caught that
    * form doing 2×10¹¹ comparisons on one task.
    * Column names of the two sides must be disjoint, and neither side
    * may already carry the reserved internal columns `__pbkt`/`__bbkt`
    * (they are overwritten and dropped — same reservation as
    * [[intervalJoin]]'s `__bkt`).
    */
  def bandJoin(points: DataFrame, bands: DataFrame, valCol: String,
               centerCol: String, halfWidth: Double): DataFrame = {
    require(halfWidth > 0, "halfWidth must be positive")
    val w = 2 * halfWidth
    val p = points.withColumn("__pbkt",
      floor(col(valCol) / w).cast("long"))
    val b = bands.withColumn("__bbkt", explode(sequence(
      floor((col(centerCol) - halfWidth) / w).cast("long"),
      floor((col(centerCol) + halfWidth) / w).cast("long"))))
    // No merge hint here, unlike intervalJoin: bandJoin's band side is
    // dimension-shaped in practice (q_join_range pre-aggregates part to
    // its distinct prices), so the broadcast Catalyst picks for the
    // exploded side is usually the RIGHT plan. A caller whose bands
    // genuinely scale with the corpus should pre-aggregate or use
    // intervalJoin's always-shuffle form.
    p.join(b, col("__pbkt") === col("__bbkt") &&
        col(valCol).between(col(centerCol) - halfWidth,
          col(centerCol) + halfWidth))
      .drop("__pbkt", "__bbkt")
  }

  /** Deterministic train/val/test assignment: split = the first band
    * whose cumulative permille bound exceeds hash(id) mod 1000. Same
    * Lehmer-step hash (and the same reproducibility contract) as
    * [[sampleStratifiedHash]]; a pure narrow map, ZERO shuffle, and any
    * engine can recompute the assignment from the id alone — the
    * property that keeps train/test membership stable as the corpus
    * grows (a row's split never changes when other rows arrive).
    *
    * @param bands (name, permille) in order; permille must sum to 1000
    */
  def hashSplit(df: DataFrame, idCol: String, seed: Long,
                bands: Seq[(String, Int)]): DataFrame = {
    require(bands.map(_._2).sum == 1000, "band permilles must sum to 1000")
    val h = pmod(pmod(col(idCol).cast("long") * 48271L + lit(seed),
      lit(2147483647L)), lit(1000L))
    val cum = bands.scanLeft(0)(_ + _._2).tail
    val split = bands.zip(cum).init
      .foldRight(lit(bands.last._1)) { case (((name, _), bound), e) =>
        when(h < bound, name).otherwise(e)
      }
    df.withColumn("split", split)
  }

  /** Exact dedup with a deterministic survivor: group on the dedup key,
    * keep the minimum id. (dropDuplicates picks an arbitrary row — fine
    * interactively, not reproducible; SURVEY.md §5.)
    */
  def dedupExact(df: DataFrame, dedupCols: Seq[String],
                 idCol: String): DataFrame =
    df.groupBy(dedupCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** One-pass column profiling — the data-quality sweep every ingest
    * pipeline runs before training: per column, non-null count and
    * exact distinct count. One wide aggregate (Catalyst expands the
    * multi-column distinct internally), then melted to one row per
    * column.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        count_distinct(col(c)).as(s"__d_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val melted = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"__n_$c").as("n_nonnull"),
        col(s"__d_$c").as("n_distinct"))
    }
    wide.select(explode(array(melted: _*)).as("p"))
      .select(col("p.col_name"), col("p.n_nonnull"), col("p.n_distinct"))
  }

  /** Salted equi-join for skewed keys (manual fallback where AQE skew
    * handling can't reach, e.g. a hot entity id owning 1% of a 100 TB
    * fact table). The skewed (large) side gets a uniform salt in
    * [0, salts); the other side is replicated `salts` times; joining on
    * (key, salt) splits each hot key's rows across `salts` tasks.
    * Result is row-identical to the plain join: every left row matches
    * exactly the replica carrying its salt. Supports inner/left joins
    * (right/full would need the salt on the other side).
    *
    * hint("shuffle_hash") on the replicated side: salting only does
    * anything in a SHUFFLE join — if Catalyst broadcasts the replicated
    * side (which it will: the Generate's size estimate passes through
    * the un-replicated child, and a broadcast ignores the salt columns'
    * partitioning entirely), the salt is dead weight and the skew the
    * caller is mitigating lands on one task anyway. Shuffle-hash, not
    * merge: the salt makes partitions uniform by construction, so the
    * hash build needs no sort and no skew handling.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int, how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left" || how == "left_outer",
      s"saltedJoin supports inner/left, got $how")
    val sl = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salts.toLong))
        .cast("int"))
    val sr = right.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    sl.join(sr.hint("shuffle_hash"), Seq(key, "__salt"), how)
      .drop("__salt")
  }
}
