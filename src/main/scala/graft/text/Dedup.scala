package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import org.apache.spark.sql.types._

/** Near-duplicate detection: exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): nothing here ever materializes the n² pair
  * space. Candidate pairs come from discrete keys (shingle postings,
  * MinHash/SimHash band keys): [[intraBucketPairs]] pairs the docs
  * sharing a key (one exchange, no join), with skew bounded by dropping
  * ultra-common postings (`maxDf`). Every banding scheme is a per-row
  * key-array function defined here ([[minhashBandKeys]],
  * [[simhashBandKeys]], [[simhashWideBandKeys]]; `Native.simhashBlockKeys`)
  * fed to the one helper [[bandPairs]]. Verification touches only the
  * candidates.
  *
  * Caching contract: the pair builders (`minhashPairs`,
  * `simhashPairsBlocked`, `simhashPairsWide`) `cache()` their
  * fingerprint/shingle intermediates and do NOT unpersist them (the
  * returned DataFrame is lazy; the intermediate must outlive this
  * call). `minhashPairs` reads its shingle sets twice (signatures and
  * the verification attach); the SimHash fingerprint tables are read
  * once per execution since the band self-joins went (r21), so their
  * cache only saves re-fingerprinting when the returned DataFrame is
  * executed more than once. Callers running many pipelines in one
  * session should `spark.catalog.clearCache()` between them.
  *
  * Join strategy: the corpus×corpus JOINs left here are the MinHash
  * verification attaches ([[verifyJaccard]]) and the probe × corpus
  * posting join of [[crossOverlapPairs]]; each carries an explicit
  * `hint("merge")`. Their sides derive from Generate (explode) outputs
  * whose size estimate passes through the un-exploded child, so
  * Catalyst would auto-broadcast them — silently at small scale,
  * fatally at corpus scale (the gen-sf30 sweep caught the 56-way
  * blocked-SimHash band table, then a join side, failing the 8 GiB
  * broadcast limit). SMJ is the plan correct stats would produce; AQE
  * still applies skew-split and partition coalescing to the shuffles.
  */
object Dedup {

  /** Exact dedup groups via content hash: (hash, keep_id = min id,
    * n_dups). Deterministic survivor — dropDuplicates picks an arbitrary
    * row per partition-race (SURVEY.md §5).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextOps.contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Per-doc distinct word-n-gram shingle sets. Tokens materialize as a
    * real column in a separate projection BEFORE the shingle lambda:
    * element_at over an attribute is an O(1) array read, whereas an
    * inline `split(text)` child would be re-evaluated on every lambda
    * invocation (~3n re-splits per doc) — CollapseProject keeps the two
    * projections apart because the token expression is non-cheap and
    * multiply-referenced.
    */
  def shingleSets(df: DataFrame, textCol: String, idCol: String,
                  n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), TextOps.shingles(col("toks"), n).as("sh"))

  /** All pairs with n-gram Jaccard >= minJaccard — EXACT result via an
    * inverted index: each shared shingle contributes exactly one row to
    * the posting-list self-join, so |a ∩ b| is a plain groupBy-count over
    * the join output and |a ∪ b| = |a| + |b| − |a ∩ b| from the cached
    * set sizes. No n² pair space, no distinct(), no array re-intersect.
    *
    * A size filter inside the join prunes hopeless pairs before the
    * aggregation: jaccard >= t forces t·max(|a|,|b|) <= min(|a|,|b|)
    * (checked with a 0.5 slack so double rounding can never drop an
    * exact-boundary pair — sizes are integers).
    *
    * Scale: one shuffle on the shingle key (AQE splits skewed common
    * shingles), map-side partial counts collapse the pair stream. Pick n
    * so the shingle vocabulary is large relative to the corpus (word
    * trigrams for prose); low-entropy vocabularies degrade any exact
    * scheme toward n² and are what [[minhashPairs]] is for.
    *
    * `maxDf` is the skew guard: shingles appearing in more than maxDf
    * documents are dropped from the posting lists BEFORE the self-join —
    * one viral stop-phrase shingle otherwise contributes df² join rows
    * (quadratic blowup at 100 TB). The document frequency is computed
    * with a window count partitioned by the shingle itself, so it rides
    * the same hash-partitioning the self-join needs — no extra shuffle
    * shape. RECALL CONTRACT: a pruned shingle is invisible to both
    * n_inter and candidate generation, so a pair is missed (or its
    * jaccard undercounted) only if its overlap depends on shingles
    * shared by > maxDf docs; with maxDf far above the expected
    * duplicate-cluster size the result is exact. Default = no pruning.
    *
    * `maxPairs` (default unguarded) prices the posting self-join's
    * exact candidate volume Σ C(df_s, 2) first and throws loudly past
    * the cap — the VERDICT-r18 guard pattern; `guardHint` is appended
    * to the over-cap message by callers that know their registered
    * companion query / cap env var (the generic layer names neither).
    *
    * Output: (doc_a, doc_b, n_inter, n_union, jaccard), doc_a < doc_b.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, minJaccard: Double,
                        maxDf: Long = Long.MaxValue,
                        maxPairs: Long = Long.MaxValue,
                        guardHint: String = ""): DataFrame = {
    // Persisted: the set table is tiny relative to the corpus (ids +
    // shingle arrays) and feeds BOTH sides of the self-join — without it
    // each side re-tokenizes the full corpus. The 100 TB analogue is
    // materializing the shingle table once before the join stage.
    val sized = shingleSets(df, textCol, idCol, n)
      .select(col("doc_id"), col("sh"),
        size(col("sh")).cast(LongType).as("sz"))
      .filter(col("sz") > 0)
      .persist()
    val allPosts = sized.select(col("doc_id"), col("sz"),
      explode(col("sh")).as("s"))
    val posts =
      if (maxDf == Long.MaxValue) allPosts
      else {
        val byShingle =
          org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
        allPosts.withColumn("df", count(lit(1)).over(byShingle))
          .filter(col("df") <= maxDf)
          .drop("df")
      }
    // Candidate-volume guard (VERDICT r18 item 3 — the
    // intervalJoinGuarded pattern): the posting self-join streams
    // Σ C(df_s, 2) rows over the surviving shingles, exact — every
    // in-posting (x < y) pair reaches the pre-aggregate stream (the
    // size filter prunes AFTER the join pairs them). A low-entropy
    // vocabulary degrades that toward n² by semantics, so past
    // `maxPairs` this REFUSES at plan-build time (one map-side-combined
    // groupBy over the cached set table, double-summed and saturated
    // per Caps.saturate) instead of dying by spill mid-join. The banded
    // MinHash form (minhashPairs) is the corpus-scale companion.
    if (maxPairs != Long.MaxValue) {
      // Memoized on `posts` (Memo.key — VERDICT r19 item 7; the plan
      // embeds the maxDf pruning, so a different maxDf prices fresh).
      // The CAP comparison below still runs per call.
      val est = graft.ops.Memo.value(graft.ops.Memo.key(Seq(posts),
          "ngram")) {
        val r = posts.groupBy("s")
          .agg(count(lit(1)).cast(DoubleType).as("d"))
          .agg(sum(col("d") * (col("d") - 1) / 2)).collect()(0)
        if (r.isNullAt(0)) 0L else graft.ops.Caps.saturate(r.getDouble(0))
      }
      if (est > maxPairs) throw new IllegalStateException(
        s"n-gram posting-pair estimate $est exceeds maxPairs $maxPairs: " +
          "the exact inverted-index self-join is output-quadratic on " +
          "low-entropy vocabularies and this corpus would spill, not " +
          "stream. Use a banded approximate companion (MinHash-LSH) at " +
          "corpus scale, tighten maxDf, or raise the cap deliberately." +
          (if (guardHint.nonEmpty) " " + guardHint else ""))
    }
    // Intra-posting pairs via ONE exchange (intraBucketPairs) instead
    // of the posting self-join, which paid the posting table's shuffle
    // twice under AQE (no stage reuse across cached self-join sides —
    // the r21 finding that removed every band self-join). One (a, b)
    // row per shared shingle, exactly like the join; the symmetric
    // size prune applies per pair before the counting aggregate, as
    // the join condition did. When maxDf is set, the posting table is
    // already hash-partitioned by the shingle (the df window), so the
    // bucket groupBy reuses that layout exchange-free.
    val banded = posts.select(col("s"),
      struct(col("doc_id"), col("sz")).as("m"))
    val inter = intraBucketPairs(banded, Seq("s"), col("m"), "doc_id")
      .filter(col("b")("sz") >= col("a")("sz") * minJaccard - 0.5 &&
        col("a")("sz") >= col("b")("sz") * minJaccard - 0.5)
      .groupBy(col("a")("doc_id").as("doc_a"),
        col("b")("doc_id").as("doc_b"),
        col("a")("sz").as("sz_a"), col("b")("sz").as("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .withColumn("n_union", col("sz_a") + col("sz_b") - col("n_inter"))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) / col("n_union").cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
  }

  /** Cross-corpus n-gram overlap — the train/test CONTAMINATION check:
    * for every (probe, corpus) doc pair sharing >= minShared n-grams,
    * the shared count and the fraction of the probe's shingles it
    * covers. Same inverted-index shape as [[ngramJaccardPairs]] (one
    * shuffle on the shingle key, counted intersection, no pair-space
    * materialization, `maxDf` skew guard) but across TWO corpora, so
    * the candidate space is |probe postings| × |corpus postings per
    * shingle| — at 100 TB the probe side (test set) is tiny next to
    * the corpus (train set) and the join skews broadcast-ish.
    *
    * Output: (probe_id, corpus_id, n_shared, overlap_frac).
    */
  def crossOverlapPairs(probe: DataFrame, corpus: DataFrame,
                        textCol: String, idCol: String, n: Int,
                        minShared: Long,
                        maxDf: Long = Long.MaxValue): DataFrame = {
    // Persisted like ngramJaccardPairs' set table: shingling is the
    // expensive narrow stage and each side feeds the join exactly once
    // per invocation — the 100 TB analogue is materializing the shingle
    // tables before the join stage.
    def posts(df: DataFrame) = {
      val sized = shingleSets(df, textCol, idCol, n)
        .select(col("doc_id"), col("sh"),
          size(col("sh")).cast(LongType).as("sz"))
        .filter(col("sz") > 0)
        .persist()
      sized.select(col("doc_id"), col("sz"), explode(col("sh")).as("s"))
    }
    val corpusPosts =
      if (maxDf == Long.MaxValue) posts(corpus)
      else {
        val byShingle =
          org.apache.spark.sql.expressions.Window.partitionBy(col("s"))
        posts(corpus).withColumn("df", count(lit(1)).over(byShingle))
          .filter(col("df") <= maxDf).drop("df")
      }
    posts(probe).as("p").hint("merge").join(
        corpusPosts.as("c").hint("merge"),
        col("p.s") === col("c.s"))
      .groupBy(col("p.doc_id").as("probe_id"),
        col("c.doc_id").as("corpus_id"), col("p.sz").as("sz_p"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .withColumn("overlap_frac",
        col("n_shared").cast(DoubleType) / col("sz_p").cast(DoubleType))
      .select("probe_id", "corpus_id", "n_shared", "overlap_frac")
  }

  /** Join candidate (doc_a, doc_b) pairs back to their shingle sets and
    * keep those with exact Jaccard >= minJaccard.
    */
  def verifyJaccard(cand: DataFrame, sets: DataFrame,
                    minJaccard: Double): DataFrame =
    cand
      .hint("merge")
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        .hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        .hint("merge"), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("n_union",
        size(array_union(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) / col("n_union").cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")

  /** MinHash signature from PRE-HASHED shingles: sig[j] = min over base
    * hashes h of (h · a_j + b_j) wrapping mod 2^64 — a universal-hash
    * family over ONE xxhash64 per shingle instead of k string hashes
    * per shingle. `hs` must be an attribute column (see
    * [[minhashPairs]]): a lambda body re-evaluates non-attribute
    * children per invocation, so an inlined hash array would be
    * recomputed k times per row.
    */
  def minhashSignature(hs: Column, k: Int): Column =
    // Native codegen'd k×n min-hash loop (functions.MinHashSig) —
    // bit-identical to the declarative
    // `transform(sequence(0,k-1), j -> array_min(transform(hs, h ->
    // xxhash64(j, h))))` but one tight Java loop instead of an
    // interpreted nested HOF with a k×n intermediate per row.
    graft.functions.Native.minhashSig(hs, k)

  /** One xxhash64 per distinct shingle — the base hashes the k-band
    * signature derives from.
    */
  def baseHashes(sh: Column): Column = transform(sh, s => xxhash64(s))

  /** All intra-bucket ordered pairs (a, b) with a.`idField` <
    * b.`idField` from a banded table, via ONE exchange: groupBy(bucket)
    * → collect_list → intra-bucket pair explode. Replaces the banded
    * SELF-JOIN the pair builders used through r20: under AQE the
    * stage cache does not reuse the exchange across the two join sides
    * when the input is cached (measured: two identical 32-task map
    * stages, each writing the full exploded table — Debug profile,
    * r21), so the join paid the banded table's shuffle TWICE plus two
    * sorts. The bucket form shuffles it once and needs no sort; the
    * r21 interleaved A/B on q_dedup_simhash read 1.08–1.19 s vs
    * 1.39–1.76 s for the join, identical output (exceptAll both ways
    * = 0).
    *
    * Pair semantics are exactly the join's: one row per unordered
    * pair per bucket (position i < j in the collected array), oriented
    * so a.`idField` < b.`idField`; pairs whose ids are null or equal
    * are dropped (the join's strict `<` did the same). Callers
    * `.distinct()` afterwards exactly as before.
    *
    * Skew bound: one bucket's members materialize as ONE array in one
    * task — the same per-key locality the sort-merge join had (its
    * buffered right-side group), minus the spill fallback. Every
    * registered banding keeps buckets collision-floor-sized (blocked
    * 2^-40, wide 2^-32, minhash 64-bit bucket hash); the 4×16-bit
    * banded forms saturate at corpus scale and are NOT the registered
    * corpus-scale shape (SURVEY §6.1).
    *
    * NOT spread: an explicit `repartition(parts, bucketCols)` replacing
    * the groupBy's AQE-coalescible exchange was A/B'd (r21 third pass,
    * interleaved same-JVM, calibrated pairs; sweeps/
    * sweep_merge_hint_ab.jsonl `r21_third_pass_bucket_spread_rejected`)
    * and REJECTED — calm-window pairs at sf0.1 read plain ~0.71 s vs
    * spread ~0.92 s medians, and ov-sf10 (500k docs) pairs tied
    * (2.07/2.02, 1.70/1.67). The Debug reading that motivated it (a
    * 5-task coalesced pair stage "costing 2.4 s of run") was
    * steal-inflated host noise; the banded table's bytes scale with
    * the corpus, so AQE's size-based coalescing tracks the real work
    * here, unlike the guard-capped q_embed_pairs probe side.
    */
  private[graft] def intraBucketPairs(banded: DataFrame,
                               bucketCols: Seq[String],
                               m: Column, idField: String): DataFrame = {
    val buckets = banded.groupBy(bucketCols.map(col): _*)
      .agg(collect_list(m).as("arr"))
      .filter(size(col("arr")) > 1)
    val aFirst = col("x")(idField) < col("y")(idField)
    buckets
      .select(col("arr"), posexplode(col("arr")).as(Seq("i", "x")))
      .select(col("x"), explode(slice(col("arr"), col("i") + lit(2),
        size(col("arr")) - col("i") - lit(1))).as("y"))
      .select(when(aFirst, col("x")).otherwise(col("y")).as("a"),
        when(aFirst, col("y")).otherwise(col("x")).as("b"))
      .filter(col("a")(idField) < col("b")(idField))
  }

  /** Banded candidate pairs: `keys` is each row's array of band keys
    * (element i = the row's key in band i); two rows are candidates in
    * band i when their i-th keys are equal. Posexplodes `keys` into
    * (band, key) rows whose member struct packs `id` plus `carry`, then
    * [[intraBucketPairs]] emits one (a, b) row per pair per shared band
    * — a pair colliding in three bands gives three rows, so callers
    * `distinct()` — with a.`id` < b.`id` and null or equal ids
    * dropped. Carried columns come out as `a.<name>` / `b.<name>`.
    */
  private[graft] def bandPairs(table: DataFrame, keys: Column,
                               carry: Seq[Column], id: String): DataFrame =
    intraBucketPairs(
      table.select(posexplode(keys).as(Seq("band", "key")),
        struct(col(id) +: carry: _*).as("m")),
      Seq("band", "key"), col("m"), id)

  /** MinHash LSH band keys: the k-wide signature split into `bands`
    * slices of r = k/bands rows, key i = `xxhash64(i, slice_i)`. A pair
    * with Jaccard j shares at least one key with probability
    * 1 − (1 − j^r)^bands.
    */
  def minhashBandKeys(sig: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * r + 1, lit(r))))
  }

  /** LSH banding over [[minhashBandKeys]]: docs colliding in any band
    * become candidates (doc_a, doc_b), doc_a < doc_b.
    */
  def minhashCandidates(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    bandedMinhash(sigs, k, bands, None)

  /** LSH banding with the signature-estimate PREFILTER fused into the
    * band pairs — stage one of two-stage verification. The banded rows
    * carry a BYTE-PACKED signature ([[graft.functions.SigPack]]: each
    * value's low byte, k/8 longs — 32 B at k=32 instead of 256 B), so
    * the estimated agreement count (byte-agreements, a one-sided proxy
    * for the Broder '97 estimator: value equality implies byte
    * equality, false byte matches at P = 1/256 per disagreeing
    * position) is computed inline on the band pairs and candidates
    * below `minAgree` agreements are dropped BEFORE the distinct
    * shuffle and the shingle-array attach joins. The packed payload
    * rides only the banded table's shuffle — n·bands rows — never the
    * candidate stream, and the pair output is pipeline-fused
    * (pair explode → sig_agree_bytes → filter) so pruned candidates
    * never touch disk. Because the proxy errs only toward keeping
    * candidates, the recall of any threshold is ≥ the full-signature
    * gate's; survivors inflate by ≤ E[Binom(k − agree, 1/256)] ≈ 0.1
    * expected false agreements per pair at k=32. k not divisible by 8
    * falls back to the full-signature gate.
    */
  def minhashCandidatesEst(sigs: DataFrame, k: Int, bands: Int,
                           minAgree: Int): DataFrame =
    bandedMinhash(sigs, k, bands, Some(minAgree))

  /** The one body of [[minhashCandidates]] (no agreement gate) and
    * [[minhashCandidatesEst]] (gate at `minAgree`).
    */
  private def bandedMinhash(sigs: DataFrame, k: Int, bands: Int,
                            minAgree: Option[Int]): DataFrame = {
    import graft.functions.Native.{sigAgree, sigAgreeBytes, sigPack}
    val keys = minhashBandKeys(col("sig"), k, bands)
    val packed = k % 8 == 0
    val sigp = if (packed) sigPack(col("sig")) else col("sig")
    val agree = if (packed) sigAgreeBytes _ else sigAgree _
    val pairs = minAgree.fold(bandPairs(sigs, keys, Nil, "doc_id"))(m =>
      bandPairs(sigs, keys, Seq(sigp.as("sigp")), "doc_id")
        .filter(agree(col("a.sigp"), col("b.sigp")) >= m))
    pairs.select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket
    * pairs → signature-estimate prefilter → exact-Jaccard verification
    * of the surviving candidates.
    *
    * TWO-STAGE VERIFICATION (the corpus-scale contract): the exact
    * verification attaches two per-doc shingle arrays (~doc-sized
    * payload) to every candidate; at gen-sf100 the registered banding
    * produced a measured-n² 279M-row candidate stream on the saturated
    * corpus and the attach joins ENOSPC'd at ~600 GB of sort spill.
    * Stage one therefore estimates Jaccard from the already-computed
    * k-hash signature — O(1) payload, codegen'd — and only candidates
    * with at least `ceil(k·(minJaccard − prefilterSigmas·σ))` agreeing
    * positions reach the exact stage, where σ =
    * sqrt(minJaccard·(1−minJaccard)/k) is the estimator's standard
    * deviation at the threshold. When 8 | k (the registered k=32) the
    * banded table carries the low-byte-packed signature
    * ([[graft.functions.SigPack]], k/8 longs) and the gate counts byte
    * agreements ([[graft.functions.SigAgreeBytes]]) — an 8× payload
    * cut whose proxy error is one-sided toward KEEPING candidates;
    * otherwise the full signature rides with
    * [[graft.functions.SigAgree]].
    *
    * Recall contract: a band-colliding pair gets ≥ r = k/bands
    * agreements free (the colliding band's slice is equal), so a TRUE
    * pair (exact Jaccard j ≥ τ) is pruned only when its OTHER k−r
    * positions agree fewer than ceil(k·(τ − s·σ)) − r times — a
    * Binomial(k−r, j) lower tail. At the registered parameters
    * (k=32, bands=8, τ=0.5, s=3 → minAgree=8) that is
    * P[Binom(28, 0.5) ≤ 3] ≈ 1.4e-5 per boundary pair (an upper bound
    * for the byte gate, whose false byte-matches only add agreements),
    * and it decays
    * geometrically above the boundary (j=0.55 → ~1e-7, j=0.6 → ~1e-9);
    * measured two-stage-vs-single-stage symmetric diff is zero at
    * testdata sf0.1, gen-sf3/sf10/sf30 and open-vocab
    * ov-sf3/ov-sf10/ov-sf30/ov-sf100 — re-measured in full after the
    * byte-packed gate landed, ~390k pairs per ladder (SURVEY §6.1
    * "Two-stage MinHash verification, measured" + "Byte-packed
    * prefilter", and sweeps/sweep_minhash_diff.jsonl).
    * `prefilterSigmas = Double.PositiveInfinity`
    * disables the prefilter (bit-exact single-stage semantics); the
    * plain path is also taken automatically when the computed minAgree
    * ≤ r, where the filter could never prune a collision.
    */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   n: Int, k: Int, bands: Int, minJaccard: Double,
                   prefilterSigmas: Double = 3.0): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n).cache()
    // Cached so `hs` is a real attribute when the signature lambda reads
    // it: CollapseProject would otherwise inline the per-shingle string
    // hashing into the band lambda, re-hashing every shingle k times
    // (static ref-count 1, dynamic eval-count k).
    val hashed = sets.filter(size(col("sh")) > 0)
      .select(col("doc_id"), baseHashes(col("sh")).as("hs"))
      .cache()
    val sigs = hashed
      .select(col("doc_id"), minhashSignature(col("hs"), k).as("sig"))
    val sigma = math.sqrt(minJaccard * (1.0 - minJaccard) / k)
    val minAgree =
      if (prefilterSigmas.isPosInfinity) 0
      else math.ceil(k * (minJaccard - prefilterSigmas * sigma)).toInt
    val cand =
      if (minAgree > k / bands) minhashCandidatesEst(sigs, k, bands,
        minAgree)
      else minhashCandidates(sigs, k, bands)
    verifyJaccard(cand, sets, minJaccard)
  }

  /** (doc_id, fp): the 64-bit SimHash of each doc's token bag — bit i
    * of each token's `xxhash64` votes +1/−1, the sign of the tally is
    * bit i of the fingerprint. Tokens materialize as a real column, then
    * one codegen'd in-row loop ([[graft.functions.SimHashFp]]) folds
    * them into the fingerprint: no per-token rows, no shuffle. Docs
    * with a null text are absent (no fingerprint to compare); an empty
    * text is present, since it splits into one empty token.
    *
    * Precondition: `idCol` is unique. The output has one row per input
    * row; rows sharing an id are NOT merged into one fingerprint.
    */
  def simhashTable(df: DataFrame, textCol: String,
                   idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        graft.functions.Native.simhashFp(col("toks"), 42L).as("fp"))
      .filter(col("fp").isNotNull)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The 4×16-bit band keys of a 64-bit fingerprint: key i = bits
    * [16i, 16i + 16). Hamming distance ≤ 3 leaves at least one of the 4
    * bands intact (pigeonhole), so some key is shared. Only the md5
    * oracle twin of `q_dedup_simhash` bands on these (the shape DuckDB
    * can express); the production forms are [[simhashPairsBlocked]] and
    * [[simhashPairsWide]].
    */
  def simhashBandKeys(fp: Column): Column =
    array((0 until 4).map(b => shiftright(fp, b * 16).bitwiseAND(65535L))
      : _*)

  /** The 4×32-bit band keys of a 128-bit (lo, hi) fingerprint: the two
    * 32-bit halves of `lo`, then of `hi`. Same pigeonhole guarantee as
    * [[simhashBandKeys]].
    */
  def simhashWideBandKeys(lo: Column, hi: Column): Column =
    array((0 until 4).map { b =>
      shiftright(if (b < 2) lo else hi, (b % 2) * 32)
        .bitwiseAND(0xffffffffL)
    }: _*)

  /** The SimHash verification tail shared by every banded form: band
    * pairs of the doc_id-keyed fingerprint table `fps` over `keys`, each
    * pair once, hamming = Σ popcount(a.c ^ b.c) over the fingerprint
    * columns `fpCols`, kept at ≤ `maxHamming`. Output (doc_a, doc_b,
    * hamming), doc_a < doc_b.
    */
  private[graft] def simhashVerified(fps: DataFrame, fpCols: Seq[String],
                                     keys: Column,
                                     maxHamming: Int): DataFrame =
    bandPairs(fps, keys, fpCols.map(col), "doc_id")
      .select(col("a.doc_id").as("doc_a") +: col("b.doc_id").as("doc_b") +:
        fpCols.flatMap(c =>
          Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b"))): _*)
      .distinct()
      .withColumn("hamming", fpCols.map(c =>
        hamming(col(s"${c}_a"), col(s"${c}_b"))).reduce(_ + _))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")

  /** 128-bit SimHash fingerprint — the WIDE form that keeps banded
    * near-dup search linear at corpus scale. The 64-bit scheme's
    * 4×16-bit bands collide at random with probability 2^-16 per band,
    * so its candidate-pair space grows ~4·n²/2^16 — measured
    * superlinear at gen-sf10 (500k docs: q_dedup_simhash walled 5.1×
    * for 3.3× rows). Two independent 64-bit vote tallies (seeded
    * xxhash64) give 128 bits → 4×32-bit bands: the same pigeonhole
    * guarantee for hamming ≤ 3, with the random-collision floor pushed
    * to 4·n²/2^32 — negligible into the billions of documents.
    * Output: (doc_id, fp_lo, fp_hi): fp_lo is [[simhashTable]]'s
    * fingerprint, fp_hi the same vote under `xxhash64(lit(1L), t)`, i.e.
    * token hashes seeded with `xxhash64(1L)` — two in-row
    * [[graft.functions.SimHashFp]] calls over one token attribute, no
    * shuffle. Same absent/present rules and the same unique-`idCol`
    * precondition as [[simhashTable]].
    */
  def simhashWideTable(df: DataFrame, textCol: String,
                       idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        graft.functions.Native.simhashFp(col("toks"), 42L).as("fp_lo"),
        graft.functions.Native.simhashFp(col("toks"),
          XXH64.hashLong(1L, 42L)).as("fp_hi"))
      .filter(col("fp_lo").isNotNull)

  /** 128-bit hamming distance over the (lo, hi) fingerprint pair. */
  def hammingWide(aLo: Column, aHi: Column,
                  bLo: Column, bHi: Column): Column =
    hamming(aLo, bLo) + hamming(aHi, bHi)

  /** SimHash near-dup pairs over the 128-bit fingerprint: the 4×32-bit
    * bands of [[simhashWideBandKeys]], distance ≤ 3 ⇒ one band exact —
    * the pigeonhole structure of the 4×16-bit [[simhashBandKeys]], with
    * a collision floor of 2^-32 per band instead of 2^-16. The
    * corpus-scale form.
    */
  def simhashPairsWide(df: DataFrame, textCol: String, idCol: String,
                       maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band scheme guarantees recall only to 3")
    val fps = simhashWideTable(df, textCol, idCol).cache()
    simhashVerified(fps, Seq("fp_lo", "fp_hi"),
      simhashWideBandKeys(col("fp_lo"), col("fp_hi")), maxHamming)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming over
    * the 64-bit [[simhashTable]] fingerprint, with a collision floor of
    * 2^-40 instead of the 4×16-bit bands' 2^-16 — the
    * permuted-block scheme of Manku et al. (WWW'07, public paper) on
    * the same 64-bit fingerprint: split into 8 blocks of 8 bits; ≤ 3
    * errors corrupt ≤ 3 blocks, so ≥ 5 blocks survive intact and the
    * C(8,5) = 56-table index keyed on each 5-block combination (a
    * 40-bit key) finds every qualifying pair. The 56 keys come from one
    * codegen'd [[graft.functions.SimHashBlockKeys]] call per doc, banded
    * by [[bandPairs]] like the other forms. Candidates are 56 rows per doc
    * (vs 4) but random key collisions are
    * ~56·n²/2^41 — negligible into the trillions of documents, where
    * the 4×16-bit scheme's 4·n²/2^17 goes quadratic (measured: 2.39B
    * candidate pairs at 500k docs). Exact-popcount verification, so
    * the pair set is the brute-force hamming ≤ maxHamming self-join's
    * (TextSpec pins it on real documents).
    */
  def simhashPairsBlocked(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "8-block/5-intact scheme guarantees <= 3")
    val fps = simhashTable(df, textCol, idCol).cache()
    simhashVerified(fps, Seq("fp"),
      graft.functions.Native.simhashBlockKeys(col("fp")), maxHamming)
  }
}
