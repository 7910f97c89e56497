package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed graph scoring — PageRank as the corpus-curation quality
  * signal (rank web domains / documents by link authority, the classic
  * pre-filter for crawl corpora).
  *
  * Determinism scheme: ranks live as BIGINT scaled by 1e9. Per
  * iteration each node sends `rank div outdeg` (exact integer floor
  * division) along its edges; inflows are exact integer sums
  * (order-free), and the damping update
  * `floor(0.15·1e9 + 0.85·inflow)` is two IEEE multiplies, one add and
  * a floor over identical integers — bit-equal across engines, so the
  * unrolled oracle SQL hash-matches.
  *
  * Scale shape: edges are the big table — persisted once, shuffled on
  * `src` by the join; ranks (one row per node) re-shuffle each
  * iteration; the groupBy(dst) sum is map-side combined. No driver
  * state at all (the loop is a fixed unroll of DataFrame ops; nothing
  * is collected). This is the standard Pregel-as-join layout.
  */
object Graph {

  private val Scale = 1000000000L

  /** `iters` rounds of quantized PageRank over a directed edge list
    * (src, dst). Returns (node_id, rank_q) for every node with an
    * outgoing edge. Damping fixed at 0.85.
    */
  def pageRankQuant(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src").cast(LongType),
      col("dst").cast(LongType)).persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val withDeg = e.join(deg, "src").persist()
    val nodes = e.select(col("src").as("id")).distinct().persist()
    var ranks = nodes.select(col("id"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      val inflow = withDeg
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("r div d").as("contrib"))
        .groupBy("id").agg(sum(col("contrib")).as("inflow"))
      ranks = nodes.join(inflow, Seq("id"), "left")
        .select(col("id"),
          floor(lit(0.15) * lit(1.0e9) + lit(0.85) *
            coalesce(col("inflow"), lit(0L)).cast(DoubleType))
            .cast(LongType).as("r"))
    }
    ranks.select(col("id").as("node_id"), col("r").as("rank_q"))
  }

  /** Thresholded co-occurrence projection of a bipartite (ctx, item)
    * relation: an undirected (lo, hi) edge between items whose shared-
    * context count is at least `meanFactor` × the mean shared count.
    * The relative threshold is scale-free (the same query is sparse at
    * every SF) and is what keeps the projection scale-safe — the raw
    * pair space is Σ deg²(ctx) (bounded per context by its item count),
    * and the filter collapses it to the strong ties before anything
    * downstream touches it. The mean folds in as a broadcast one-row
    * aggregate — no driver action.
    *
    * `maxDeg` is the hot-context skew guard (analog of
    * `Dedup.ngramJaccardPairs`' `maxDf`): a single context touching d
    * items contributes C(d, 2) rows to the self-join, so one viral
    * context with d = 10⁵ alone emits ~5×10⁹ pairs at 100 TB. Contexts
    * with more than maxDeg distinct items are dropped BEFORE the join.
    * The degree is a window count partitioned by the context key, so it
    * rides the same hash-partitioning the self-join needs — no extra
    * shuffle shape. SEMANTICS: a context that broad co-occurs with
    * nearly everything, so its pairs carry no tie-strength signal (the
    * mean threshold would drown them anyway); with maxDeg far above the
    * realistic per-context fan-out the result is exact. Default = no
    * pruning.
    */
  def coOccurrenceEdges(pairs: DataFrame, ctxCol: String, itemCol: String,
                        meanFactor: Double,
                        maxDeg: Long = Long.MaxValue): DataFrame =
    edgesFromPruned(prunedPairs(pairs, ctxCol, itemCol, maxDeg), meanFactor)

  /** The distinct'd, maxDeg-pruned bipartite relation both
    * [[coOccurrenceEdges]] variants self-join.
    */
  private def prunedPairs(pairs: DataFrame, ctxCol: String,
                          itemCol: String, maxDeg: Long): DataFrame = {
    val distinctP = pairs.select(col(ctxCol).as("c"), col(itemCol).as("i"))
      .distinct()
    if (maxDeg == Long.MaxValue) distinctP
    else {
      val byCtx =
        org.apache.spark.sql.expressions.Window.partitionBy(col("c"))
      distinctP.withColumn("deg", count(lit(1)).over(byCtx))
        .filter(col("deg") <= maxDeg)
        .drop("deg")
    }
  }

  private def edgesFromPruned(p: DataFrame,
                              meanFactor: Double): DataFrame = {
    // Intra-context pairs via ONE exchange (Dedup.intraBucketPairs)
    // instead of the context self-join, which paid the bipartite
    // relation's shuffle twice under AQE (no stage reuse across
    // cached self-join sides — the r21 finding that removed every
    // band/posting self-join). One (a, b) row per context both items
    // share, items oriented lo < hi exactly like the join's strict
    // `a.i < b.i` (items are distinct within a context, and null
    // items drop in both forms); the tie-strength count per pair is
    // unchanged. When maxDeg is set, the degree window has already
    // hash-partitioned the relation by context, so the bucket groupBy
    // reuses that layout exchange-free.
    val banded = p.select(col("c"), struct(col("i")).as("m"))
    val shared = graft.text.Dedup
      .intraBucketPairs(banded, Seq("c"), col("m"), "i")
      .groupBy(col("a")("i").as("lo"), col("b")("i").as("hi"))
      .agg(count(lit(1)).as("shared"))
      .persist()
    val mu = shared.agg(
      (sum(col("shared")).cast(LongType).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("mu"))
    shared.crossJoin(broadcast(mu))
      .filter(col("shared").cast(DoubleType) >= lit(meanFactor) * col("mu"))
      .select(col("lo"), col("hi"))
  }

  /** Exact candidate-pair volume of the co-occurrence self-join:
    * Σ over contexts of C(deg, 2) on the SAME distinct'd, maxDeg-pruned
    * relation the join consumes — this is the join's shuffle-side work,
    * not an upper bound, because every in-context (i < j) pair reaches
    * the pre-aggregate stream. One map-side-combined groupBy(ctx) plus
    * a scalar sum; per-context products and the sum run in DOUBLE and
    * saturate (see [[Caps.saturate]]) so pathological fan-outs can
    * never overflow BIGINT into an ANSI ArithmeticException.
    */
  def coOccurrencePairEstimate(pairs: DataFrame, ctxCol: String,
                               itemCol: String,
                               maxDeg: Long = Long.MaxValue): Long = {
    val est = prunedPairs(pairs, ctxCol, itemCol, maxDeg)
      .groupBy("c").agg(count(lit(1)).cast(DoubleType).as("d"))
      .agg(sum(col("d") * (col("d") - 1) / 2))
      .collect()(0)
    if (est.isNullAt(0)) 0L else Caps.saturate(est.getDouble(0))
  }

  /** [[coOccurrenceEdges]] behind a loud candidate-volume guard
    * (VERDICT r18 item 3 — the [[Relational.intervalJoinGuarded]]
    * pattern). The projection's pair stream is Σ deg²(ctx): linear in
    * the corpus only while per-context fan-out stays bounded, and the
    * gen-shaped dense corpus grew it to 2.7 B rows / tens of GB of
    * spill at gen-sf30 (sweep_spot_sf30.jsonl) — a cost profile that
    * should be REFUSED, not discovered by ENOSPC, when it exceeds what
    * the deployment budgeted. Prices the volume with
    * [[coOccurrencePairEstimate]] (one aggregate over the same pruned
    * relation the join would consume) and throws past `maxPairs`.
    * Estimation runs eagerly at plan-build time.
    *
    * @param hint optional caller-supplied remediation appended to the
    *             over-cap message (the generic layer names no caller
    *             query or env var — ADVICE r18)
    */
  def coOccurrenceEdgesGuarded(pairs: DataFrame, ctxCol: String,
                               itemCol: String, meanFactor: Double,
                               maxDeg: Long, maxPairs: Long,
                               hint: String = ""): DataFrame = {
    val p = prunedPairs(pairs, ctxCol, itemCol, maxDeg).persist()
    // Memoized on `p` (Memo.key — VERDICT r19 item 7): re-invocations
    // of the same projection in one JVM skip the 0.5 s re-pricing pass;
    // a different or rewritten corpus is a different key and prices
    // fresh. The CAP comparison below still runs per call.
    val est = Memo.value(Memo.key(Seq(p), "cooc")) {
      Caps.saturate {
        val r = p.groupBy("c").agg(count(lit(1)).cast(DoubleType).as("d"))
          .agg(sum(col("d") * (col("d") - 1) / 2)).collect()(0)
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
    }
    if (est > maxPairs) throw new IllegalStateException(
      s"co-occurrence candidate-pair estimate $est exceeds maxPairs " +
        s"$maxPairs: the projection's self-join stream is Σ C(deg,2) " +
        "over contexts and this corpus would spill, not stream. " +
        "Tighten maxDeg (drops only signal-free viral contexts), or " +
        "raise the cap deliberately." +
        (if (hint.nonEmpty) " " + hint else ""))
    // The estimate materialized `p` into the cache, so the join below
    // reuses it — the guard's second pass over the bipartite relation
    // is a cache scan, not a recompute.
    edgesFromPruned(p, meanFactor)
  }

  /** Edge/wedge/triangle census over an undirected (lo < hi) edge
    * list — the classic clustering-structure metric, computed with
    * DEGREE-ORDERED orientation (Schank–Wagner / Suri–Vassilvitskii):
    * each edge is re-oriented from its lower-(degree, id) endpoint to
    * its higher one, and a triangle is counted exactly once, from its
    * unique ≺-minimal apex, as an out-neighbor common to both ends of
    * an oriented edge: n_triangles = Σ over oriented edges (u → v) of
    * |adj(u) ∩ adj(v)| (the oriented 3-cycle has out-degrees 2/1/0, so
    * only its apex edge (u→v, both → w) contributes, and contributes 1).
    *
    * WHY degree order and not id order: the candidate space is
    * Σ outdeg²(src), and id orientation puts a node's FULL fan-out on
    * whichever side its id happens to fall — on a skewed graph the hubs
    * dominate and the stream explodes. Degree orientation caps every
    * out-degree at O(√m) (arboricity bound), so the candidate space is
    * O(m^{3/2}) REGARDLESS of skew. Measured on the power-law trade
    * projection at pl-sf3 (1.92 M edges, hub degree ≈ 30 k): id-ordered
    * wedges = 8.81 B — the r15 sweep ground >8 min at 16 cores before
    * being killed — vs degree-ordered = 65.7 M, a 134× cut
    * (`sweeps/sweep_graph.jsonl`). The `n_wedges` output column is the
    * degree-ordered count: the size of the wedge space the census
    * traverses (the meaningful scale metric), computed analytically
    * from the out-degree table (Σ d·(d−1)/2), never by materializing
    * the stream.
    *
    * WHY adjacency-intersection and not the r13–r19 wedge-close
    * self-join (expand wedges (u→v, u→w), left-semi against the edge
    * list): the two count the SAME triangles, but the self-join
    * materializes every wedge as a row through a hashed-relation
    * iterator + a second 2-column hash probe — measured 28 CPU-s for
    * the 13.5 M-wedge sf0.1 census (≈1 µs/wedge through the BHJ row
    * pipeline) — where the intersection walks the same candidate space
    * inside one array-intersect kernel per edge: 154 k intersections,
    * ≈1.4 CPU-s, the identical n_triangles = 5 978 360. One row per
    * EDGE flows through the plan instead of one row per WEDGE; the
    * O(m^1.5) wedge space is traversed only inside the kernel.
    *
    * All joins are equi-joins on node ids (shuffle-on-key,
    * AQE-managed; adjacency lists broadcast while they fit). The
    * explicit repartition on the streamed edge side exists because the
    * oriented edge list of a strong-tie projection is kB-sized — one
    * scan partition, and AQE would coalesce a size-based split right
    * back — while the work per row is an O(outdeg) intersection: the
    * cost is the OUTPUT of the expansion, which no size heuristic sees.
    * The count is the session's shuffle sizing, so at cluster scale it
    * is the exchange a shuffle join on `src` would run anyway.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("lo"), col("hi")).persist()
    val deg = e.select(col("lo").as("node"))
      .unionAll(e.select(col("hi").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val loFirst = col("dlo") < col("dhi") ||
      (col("dlo") === col("dhi") && col("lo") < col("hi"))
    val o = e
      .join(deg.select(col("node").as("lo"), col("d").as("dlo")), "lo")
      .join(deg.select(col("node").as("hi"), col("d").as("dhi")), "hi")
      .select(
        when(loFirst, col("lo")).otherwise(col("hi")).as("src"),
        when(loFirst, col("hi")).otherwise(col("lo")).as("dst"))
      .persist()
    val nWedges = o.groupBy("src").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0L))
        .cast(LongType).as("n_wedges"))
    val parts = math.max(
      o.sparkSession.sparkContext.defaultParallelism,
      o.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    // Persisted: adj feeds BOTH sides of the intersect join (nu on
    // src, nv on dst) and the two consumers do not share the exchange
    // under AQE (same no-reuse mechanism as the r21 band self-joins —
    // Debug showed the collect_list aggregation's map stage running
    // twice, 198 kB each). One materialization, two cache scans.
    val adj = o.groupBy("src").agg(collect_list(col("dst")).as("nbrs"))
      .persist()
    val tri = o.repartition(parts, col("src"))
      .join(adj.select(col("src"), col("nbrs").as("nu")), "src")
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), "dst")
      .select(size(array_intersect(col("nu"), col("nv"))).as("k"))
      .agg(coalesce(sum(col("k")), lit(0L)).cast(LongType)
        .as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nWedges))
      .crossJoin(broadcast(tri))
  }

  /** The bipartite customer↔supplier trade graph from orders⋈lineitem,
    * both edge directions (so no dangling nodes). Supplier ids are
    * offset by 1e6 into the shared node-id space.
    */
  def tradeGraph(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val pairs = orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    pairs.select(col("c").as("src"), (lit(1000000L) + col("s")).as("dst"))
      .unionAll(pairs.select((lit(1000000L) + col("s")).as("src"),
        col("c").as("dst")))
  }
}
