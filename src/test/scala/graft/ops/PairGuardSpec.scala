package graft.ops

import graft.SparkSpec
import graft.text.{Dedup, Similarity}

/** The r19 guard family (VERDICT r18 item 3): every registered
  * output-quadratic pair path prices its candidate volume first and
  * fails loudly at plan-build time — planted over-cap corpora for the
  * n-gram posting self-join, the exact cosine all-pairs form, and the
  * co-occurrence projection, plus the [[Caps]] plumbing they share
  * (defensive env parse + saturating double estimates, ADVICE r18).
  */
class PairGuardSpec extends SparkSpec {
  import spark.implicits._

  // ---- Caps plumbing -------------------------------------------------

  test("Caps.parseLong: default, valid, and malformed-names-the-var") {
    assert(Caps.parseLong("X_CAP", None, 7L) == 7L)
    assert(Caps.parseLong("X_CAP", Some(" 123 "), 7L) == 123L)
    val e = intercept[IllegalArgumentException] {
      Caps.parseLong("SPARK_GRAFT_INTERVAL_PAIR_CAP", Some("2e8"), 7L)
    }
    assert(e.getMessage.contains("SPARK_GRAFT_INTERVAL_PAIR_CAP"))
    assert(e.getMessage.contains("2e8"))
    assert(e.getCause.isInstanceOf[NumberFormatException])
  }

  test("Caps.saturate: finite, overflow, and non-finite all land safe") {
    assert(Caps.saturate(42.9) == 42L)
    assert(Caps.saturate(-1.0) == 0L)
    assert(Caps.saturate(1e30) == Long.MaxValue)
    assert(Caps.saturate(Double.PositiveInfinity) == Long.MaxValue)
    assert(Caps.saturate(Double.NaN) == Long.MaxValue)
  }

  // ---- n-gram posting self-join --------------------------------------

  private val dupDocs = (0 until 30)
    .map(i => (i.toLong, "alpha beta gamma delta"))
    .toDF("doc_id", "text")

  test("ngram guard: 30 identical docs exceed a 100-pair cap loudly") {
    // two trigram shingles, df=30 each -> Σ C(30,2) = 870 candidates
    val e = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(dupDocs, "text", "doc_id", n = 3,
        minJaccard = 0.2, maxDf = 10000L, maxPairs = 100L,
        guardHint = "(q_dedup_minhash is the banded companion.)")
    }
    assert(e.getMessage.contains("exceeds maxPairs"))
    assert(e.getMessage.contains("q_dedup_minhash")) // hint appended
    val bare = intercept[IllegalStateException] {
      Dedup.ngramJaccardPairs(dupDocs, "text", "doc_id", n = 3,
        minJaccard = 0.2, maxDf = 10000L, maxPairs = 100L)
    }
    assert(!bare.getMessage.contains("q_dedup_minhash"))
  }

  test("dedupClusters inherits the posting-pair guard: an over-cap " +
    "corpus refuses at plan time instead of dying by spill (r21: the " +
    "unguarded pipeline ENOSPC'd 77 GB at gen-sf10)") {
    val e = intercept[IllegalStateException] {
      graft.text.Cluster.dedupClusters(dupDocs, "text", "doc_id",
        n = 3, minJaccard = 0.2, maxPairs = 100L)
    }
    assert(e.getMessage.contains("exceeds maxPairs"))
    assert(e.getMessage.contains("SPARK_GRAFT_CLUSTER_PAIR_CAP"))
  }

  test("ngram guard under the cap ≡ unguarded result") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val guarded = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3,
        0.2, maxPairs = 1000L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val plain = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(guarded == plain && guarded == Set((1L, 2L)))
  }

  // ---- exact cosine all-pairs ----------------------------------------

  private def vecs(n: Int) = (0 until n)
    .map(i => (i.toLong, Array(1.0f, i.toFloat / 100)))
    .toDF("vec_id", "embedding")

  test("cosine guard: n(n-1)/2 over the cap refuses before any join") {
    // 200 vectors -> 19,900 pairs, cap 10,000
    val e = intercept[IllegalStateException] {
      Similarity.cosinePairsGuarded(vecs(200), "vec_id", "embedding",
        minCosine = 0.0, dim = 2, maxPairs = 10000L,
        hint = "(q_embed_pairs_lsh_auto is the companion.)")
    }
    assert(e.getMessage.contains("exceeds maxPairs"))
    assert(e.getMessage.contains("q_embed_pairs_lsh_auto"))
  }

  test("cosine guard under the cap ≡ unguarded cosinePairs") {
    val guarded = Similarity.cosinePairsGuarded(vecs(10), "vec_id",
        "embedding", minCosine = 0.9, dim = 2, maxPairs = 1000L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val plain = Similarity.cosinePairs(vecs(10), "vec_id", "embedding",
        minCosine = 0.9, dim = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(guarded == plain && guarded.nonEmpty)
  }

  // ---- co-occurrence projection --------------------------------------

  test("co-occurrence guard: one dense context exceeds the cap loudly") {
    // a single context touching 100 items -> C(100,2) = 4,950 candidates
    val dense = (0 until 100).map(i => (1L, i.toLong)).toDF("ctx", "item")
    assert(Graph.coOccurrencePairEstimate(dense, "ctx", "item") == 4950L)
    val e = intercept[IllegalStateException] {
      Graph.coOccurrenceEdgesGuarded(dense, "ctx", "item",
        meanFactor = 1.0, maxDeg = 500L, maxPairs = 1000L,
        hint = "(SPARK_GRAFT_COOC_PAIR_CAP raises the cap.)")
    }
    assert(e.getMessage.contains("exceeds maxPairs"))
    assert(e.getMessage.contains("SPARK_GRAFT_COOC_PAIR_CAP"))
    // maxDeg pruning is applied BEFORE pricing: the same corpus under
    // maxDeg=50 prunes the viral context entirely -> estimate 0
    assert(Graph.coOccurrencePairEstimate(dense, "ctx", "item", 50L) == 0L)
  }

  test("co-occurrence guard under the cap ≡ unguarded edges") {
    val p = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L),
      (3L, 12L)).toDF("ctx", "item")
    val guarded = Graph.coOccurrenceEdgesGuarded(p, "ctx", "item",
        meanFactor = 1.0, maxDeg = 500L, maxPairs = 1000L)
      .as[(Long, Long)].collect().toSet
    val plain = Graph.coOccurrenceEdges(p, "ctx", "item",
        meanFactor = 1.0).as[(Long, Long)].collect().toSet
    assert(guarded == plain && guarded == Set((10L, 11L)))
  }
}
