package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.io.Tables
    .table(spark, "/root/testdata/sf0.001", "documents")

  test("shingles: shorter-than-n doc yields empty set; distinct applied") {
    val df = Seq((1L, "a b"), (2L, "a b a b"), (3L, "x")).toDF("id", "t")
    val out = df.select($"id",
      TextOps.shingles(TextOps.tokens($"t"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L).isEmpty && out(3L).isEmpty)
    assert(out(2L) == Seq("a b a", "b a b"))
    val bi = df.select(TextOps.shingles(TextOps.tokens($"t"), 2).as("sh"))
      .where($"id" === 2).as[Seq[String]].head()
    assert(bi.sorted == Seq("a b", "b a")) // "a b" appears twice → once
  }

  test("bigrams keep duplicates in order; short docs yield empty") {
    val df = Seq((1L, "a b a b"), (2L, "x")).toDF("id", "t")
    val toked = df.select($"id", TextOps.tokens($"t").as("toks"))
    val out = toked.select($"id", TextOps.bigrams($"toks").as("bg"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a b", "b a", "a b")) // non-distinct
    assert(out(2L).isEmpty)
    val pairs = toked.where($"id" === 1)
      .select(TextOps.bigramPairs($"toks").as("bp"))
      .as[Seq[(String, String)]].head()
    assert(pairs == Seq(("a", "b"), ("b", "a"), ("a", "b")))
  }

  test("multisetStats (nd, top) equals the explode+groupBy counts") {
    // the in-row fold that replaced q_text_repetition's two shuffles
    // (r21): distinct count and max multiplicity must match the
    // aggregation form on real corpus rows and on degenerate arrays.
    val bg = docs.select($"doc_id",
        TextOps.bigrams(TextOps.tokens($"text")).as("bg"))
      .filter(size($"bg") > 0)
    val inRow = bg.select($"doc_id", TextOps.multisetStats($"bg").as("st"))
      .select($"doc_id", $"st"("nd").as("nd"), $"st"("top").as("top"))
    val grouped = bg.select($"doc_id", explode($"bg").as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(count(lit(1)).as("nd"), max($"cnt").as("top"))
    assert(inRow.exceptAll(grouped).isEmpty)
    assert(grouped.exceptAll(inRow).isEmpty)
    val edge = Seq(
      (1L, Seq("x")),              // singleton: nd=1, top=1
      (2L, Seq("x", "x", "x")),    // all equal: nd=1, top=3
      (3L, Seq("c", "a", "b")),    // all distinct, unsorted input
      (4L, Seq("b", "a", "b", "a", "b"))).toDF("id", "arr")
    val st = edge.select($"id", TextOps.multisetStats($"arr").as("st"))
      .select($"id", $"st"("nd"), $"st"("top"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    assert(st(1L) == ((1L, 1L)) && st(2L) == ((1L, 3L)))
    assert(st(3L) == ((3L, 1L)) && st(4L) == ((2L, 3L)))
  }

  test("crossOverlapPairs finds planted contamination, skips unrelated") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text")
    val probe = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // == train 1
      (11L, "red green blue cyan magenta yellow black"))
      .toDF("doc_id", "text")
    val out = Dedup.crossOverlapPairs(probe, train, "text", "doc_id",
        n = 3, minShared = 3L)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out == List((10L, 1L, 5L, 1.0))) // all 5 trigrams covered
  }

  test("redact scrubs every digit run, not just the first") {
    val out = Seq("id 123 and 456, ok").toDF("t")
      .select(TextOps.redact($"t", "[0-9]+", "<NUM>"))
      .as[String].head()
    assert(out == "id <NUM> and <NUM>, ok")
  }

  test("exact dedup groups duplicate texts under min id survivor") {
    val df = Seq((5L, "same text"), (2L, "same text"), (9L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out == Set((2L, 2L), (9L, 1L)))
  }

  test("minhash pairs are a subset of exact ngram pairs at same threshold" +
      " and recall the planted near-dups") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashPairs(docs, "text", "doc_id", 2, 64, 16, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(exact))
    // High-jaccard pairs collide in >=1 of 16 bands w.p. ~1-2e-4 each:
    val planted = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 2, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(planted.nonEmpty && planted.subsetOf(mh))
  }

  test("two-stage minhash: prefiltered pairs identical to single-stage" +
      " on the real corpus") {
    def pairs(sigmas: Double) =
      Dedup.minhashPairs(docs, "text", "doc_id", 2, 32, 8, 0.5,
          prefilterSigmas = sigmas)
        .select("doc_a", "doc_b", "n_inter", "n_union")
        .as[(Long, Long, Long, Long)].collect().toSet
    val twoStage = pairs(3.0) // registered default: minAgree = 8 of 32
    val exact = pairs(Double.PositiveInfinity) // prefilter disabled
    assert(twoStage == exact && exact.nonEmpty)
  }

  test("signature-estimate prefilter prunes a band-lucky low-jaccard" +
      " pair, keeps true near-dups") {
    // doc 3 is unrelated prose; docs 1/2 are near-identical. With
    // bands=k (r=1) every shared minhash position is its own band, so
    // ANY agreement makes a candidate — the est filter is what must
    // separate the j≈0 collision from the true pair.
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota mu"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sigs = Dedup.shingleSets(df, "text", "doc_id", 2)
      .filter(size($"sh") > 0)
      .select($"doc_id", Dedup.baseHashes($"sh").as("hs"))
      .select($"doc_id", Dedup.minhashSignature($"hs", 32).as("sig"))
    val all = Dedup.minhashCandidatesEst(sigs, 32, 32, minAgree = 1)
      .as[(Long, Long)].collect().toSet
    val filtered = Dedup.minhashCandidatesEst(sigs, 32, 32, minAgree = 8)
      .as[(Long, Long)].collect().toSet
    assert(filtered.contains((1L, 2L)))
    assert(!filtered.exists { case (a, b) => a == 3L || b == 3L })
    // the unfiltered candidate set is a superset (est only prunes)
    assert(filtered.subsetOf(all))
  }

  test("minhashCandidatesEst at a non-pruning threshold equals the" +
      " plain band candidates") {
    val sigs = Dedup.shingleSets(docs, "text", "doc_id", 2)
      .filter(size($"sh") > 0)
      .select($"doc_id", Dedup.baseHashes($"sh").as("hs"))
      .select($"doc_id", Dedup.minhashSignature($"hs", 32).as("sig"))
      .cache()
    val plain = Dedup.minhashCandidates(sigs, 32, 8)
      .as[(Long, Long)].collect().toSet
    // any band collision carries r = 4 free agreements, so minAgree = 4
    // can never prune — the two forms must agree bit for bit
    val est = Dedup.minhashCandidatesEst(sigs, 32, 8, minAgree = 4)
      .as[(Long, Long)].collect().toSet
    assert(est == plain && plain.nonEmpty)
  }

  test("maxDf prunes viral shingles from ngram postings, keeps rare ones") {
    // Docs 1-4 all share the stop-phrase "click here to continue now"
    // (df=4 for its shingles); only 1 and 2 also share a rare phrase.
    val df = Seq(
      (1L, "click here to continue now rare alpha beta gamma delta"),
      (2L, "click here to continue now rare alpha beta gamma delta"),
      (3L, "click here to continue now something else entirely said"),
      (4L, "click here to continue now unrelated filler words again"))
      .toDF("doc_id", "text")
    // Unpruned: every pair shares the viral shingles.
    val all = Dedup.ngramJaccardPairs(df, "text", "doc_id", 2, 0.1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
    // maxDf=2 drops the df=4 stop-phrase postings before the self-join;
    // only the rare-phrase pair (df=2 shingles) survives, and its
    // intersection now counts rare shingles only.
    val pruned = Dedup.ngramJaccardPairs(df, "text", "doc_id", 2, 0.1,
        maxDf = 2L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pruned == Set((1L, 2L)))
    // Recall contract: a generous maxDf (>= corpus size) prunes nothing.
    val loose = Dedup.ngramJaccardPairs(df, "text", "doc_id", 2, 0.1,
        maxDf = 100L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(loose == all)
  }

  test("simhash: identical docs at distance 0; near-dups close") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words appear here tonight"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairsBlocked(df, "text", "doc_id", 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._3 > 3))
  }

  test("wide simhash: identical docs at distance 0; recall exact vs " +
    "brute force at hamming <= 3; no pair exceeds the bound") {
    // exactness: banding must find EVERY pair the brute-force 128-bit
    // hamming join finds (pigeonhole: distance <= 3 => one band equal)
    def pairsAndBrute(df: org.apache.spark.sql.DataFrame) = {
      val pairs = Dedup.simhashPairsWide(df, "text", "doc_id", 3)
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      val fps = Dedup.simhashWideTable(df, "text", "doc_id")
      val a = fps.select($"doc_id".as("ida"), $"fp_lo".as("alo"),
        $"fp_hi".as("ahi"))
      val b = fps.select($"doc_id".as("idb"), $"fp_lo".as("blo"),
        $"fp_hi".as("bhi"))
      val brute = a.join(b, $"ida" < $"idb")
        .withColumn("d", Dedup.hammingWide($"alo", $"ahi", $"blo", $"bhi"))
        .filter($"d" <= 3)
        .select($"ida", $"idb", $"d".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      (pairs, brute)
    }
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words appear here tonight"),
      (4L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val (pairs, brute) = pairsAndBrute(df)
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._3 > 3))
    assert(pairs == brute)
    // The real documents hold 128-bit pairs at exactly the bound, so an
    // off-by-one in the hamming filter shows.
    val (realPairs, realBrute) = pairsAndBrute(docs)
    assert(realBrute.exists(_._3 == 3L))
    assert(realPairs == realBrute)
  }

  /** (doc_a, doc_b, hamming) of every 64-bit [[Dedup.simhashTable]]
    * pair at hamming <= 3, by a brute-force self-join. */
  private def bruteSimhash64(df: org.apache.spark.sql.DataFrame) = {
    val fps = Dedup.simhashTable(df, "text", "doc_id")
    val a = fps.select($"doc_id".as("ida"), $"fp".as("fa"))
    val b = fps.select($"doc_id".as("idb"), $"fp".as("fb"))
    a.join(b, $"ida" < $"idb")
      .withColumn("d", Dedup.hamming($"fa", $"fb"))
      .filter($"d" <= 3)
      .select($"ida", $"idb", $"d".cast("long"))
      .as[(Long, Long, Long)].collect().toSet
  }

  test("64-bit simhash: recall exact vs the brute-force hamming <= 3 " +
    "self-join on real documents") {
    val pairs = Dedup.simhashPairsBlocked(docs, "text", "doc_id", 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val brute = bruteSimhash64(docs)
    // the planted near-dups make this non-vacuous
    assert(brute.nonEmpty)
    assert(pairs == brute)
  }

  test("bandPairs: one row per shared band, ids oriented a < b, null " +
    "and equal ids dropped, carried columns under a.* / b.*") {
    val table = Seq(
      (Some(1L), Seq(10L, 20L, 30L, 40L), "x"),
      (Some(2L), Seq(10L, 20L, 30L, 99L), "y"), // shares bands 0-2 with 1
      (None, Seq(10L, 20L, 30L, 40L), "n"),     // null id: shares all
      (Some(3L), Seq(11L, 21L, 31L, 41L), "p"),
      (Some(3L), Seq(11L, 21L, 31L, 41L), "q"), // equal id
      (Some(5L), Seq(50L, 60L, 70L, 80L), "s"),
      (Some(4L), Seq(51L, 61L, 71L, 80L), "r"), // shares band 3 with 5
      (Some(6L), Seq(80L, 600L, 601L, 602L), "t")) // 80 in band 0 only
      .toDF("id", "keys", "tag")
    val out = Dedup.bandPairs(table, $"keys", Seq($"tag"), "id")
      .select($"a.id", $"b.id", $"a.tag", $"b.tag")
      .as[(Long, Long, String, String)]
    assert(out.collect().toSeq.sorted == Seq((1L, 2L, "x", "y"),
      (1L, 2L, "x", "y"), (1L, 2L, "x", "y"), (4L, 5L, "r", "s")))
    assert(out.distinct().collect().toSet ==
      Set((1L, 2L, "x", "y"), (4L, 5L, "r", "s")))
  }

  test("blocked simhash (8x8-bit, C(8,5) tables) equals the " +
    "brute-force hamming <= 3 self-join bit-for-bit on real documents") {
    val blocked = Dedup.simhashPairsBlocked(docs, "text", "doc_id", 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val brute = bruteSimhash64(docs)
    // the planted near-dups hold pairs at every distance 0..3, so a
    // block key that only matches identical fingerprints, or an
    // off-by-one in the hamming filter, shows
    assert((0L to 3L).forall(d => brute.exists(_._3 == d)))
    assert(blocked == brute)
  }

  test("wide simhash collapses the random-collision candidate space " +
    "that makes 16-bit bands quadratic (gen-sf10 finding)") {
    // 400 docs of unrelated random-ish words: 4x16-bit bands collide by
    // chance (C(400,2)*4/65536 ~ 4.9 expected), 4x32-bit essentially
    // never. Deterministic corpus — hash-derived words, no RNG.
    val docs = (1 to 400).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 131 + j * 7919) % 100000}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    def candidates(fps: org.apache.spark.sql.DataFrame,
                   keys: org.apache.spark.sql.Column): Long =
      fps.select(posexplode(keys).as(Seq("band", "key")))
        .groupBy("band", "key").count()
        .agg(coalesce(sum($"count" * ($"count" - 1) / 2), lit(0L))
          .cast("long")).head().getLong(0)
    val n64 = candidates(Dedup.simhashTable(docs, "text", "doc_id"),
      Dedup.simhashBandKeys($"fp"))
    val nW = candidates(Dedup.simhashWideTable(docs, "text", "doc_id"),
      Dedup.simhashWideBandKeys($"fp_lo", $"fp_hi"))
    // the wide form must eliminate (essentially all of) the random
    // collisions the 16-bit bands admit
    assert(nW < n64, s"wide=$nW narrow=$n64")
    assert(nW <= 2L, s"32-bit bands should be collision-free here: $nW")
  }

  test("fingerprint stays within the modulus and is order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fp = df.select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp.values.forall(v => v >= 0 && v < 2147483647L))
    assert(fp(1L) != fp(2L))
  }

  test("langId votes marker stopwords with first-wins tiebreak") {
    val df = Seq((1L, "the cat and the dog"), (2L, "der hund ist nicht"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextOps.langId(df, "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("bpeish tokenizer splits contractions, digits, punct like GPT-2") {
    val df = Seq((1L, "don't panic, it's 42 tokens!")).toDF("id", "t")
    val toks = df.select(TextOps.bpeishTokens($"t"))
      .as[Seq[String]].head()
    assert(toks == Seq("don", "'t", " panic", ",", " it", "'s", " 42",
      " tokens", "!"))
  }

  test("quality metrics on a known doc") {
    val df = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val r = TextOps.qualityMetrics(df, "text")
      .select("n_tokens", "n_distinct", "ttr", "stopword_ratio")
      .as[(Long, Long, Double, Double)].head()
    assert(r == ((3L, 2L, 2.0 / 3.0, 2.0 / 3.0)))
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)), (2L, Seq(1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f)), (4L, Seq(0.9f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df,
        df.filter($"vec_id" === 1), "vec_id", "embedding", 2, dim = 3)
      .orderBy("rnk").select("nbr_id").as[Long].collect().toSeq
    assert(top == Seq(2L, 4L))
  }

  test("bucketed top-k only pairs vectors sharing the sign bucket") {
    val df = Seq(
      (1L, Seq(1f, 1f, 1f, 1f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(-1f, -1f, -1f, -1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bucketedTopK(df, df, "vec_id", "embedding", 5, 4, dim = 4)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L))) // 3 is alone in its bucket
  }

  test("multi-probe top-k recovers a Hamming-1 neighbor that " +
      "single-bucket probing misses") {
    // Query sits just past a hyperplane boundary from its true nearest
    // neighbor: buckets differ in bit 0 only (0b01 vs 0b00).
    val df = Seq(
      (1L, Seq(0.1f, -1f, 1f, 1f)),   // query,    bucket 0b01
      (2L, Seq(-0.1f, -1f, 1f, 1f)),  // near-dup, bucket 0b00
      (3L, Seq(0.2f, -1f, -1f, -1f))) // same bucket as query, far
      .toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" === 1)
    val single = Similarity.bucketedTopK(df, q, "vec_id", "embedding",
        k = 1, bits = 2, dim = 4)
      .select("nbr_id").as[Long].collect().toSeq
    val multi = Similarity.multiProbeTopK(df, q, "vec_id", "embedding",
        k = 1, bits = 2)
      .select("nbr_id").as[Long].collect().toSeq
    assert(single == Seq(3L)) // stuck with its own bucket's far vector
    assert(multi == Seq(2L))  // probe of bucket^1 recovers the near-dup
  }

  test("IVF with nprobe = nlist is exactly brute force; fewer probes " +
      "stay a subset") {
    val rnd = new scala.util.Random(11)
    val df = Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val q = df.filter($"vec_id" < 5)
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "nbr_id", "rnk")
        .as[(Long, Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(df, q, "vec_id",
      "embedding", k = 3, dim = 8))
    val full = pairs(Similarity.ivfTopK(df, q, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4))
    assert(full == brute) // probing every cell ≡ exact search
    val partial = Similarity.ivfTopK(df, q, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 1)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val bruteAll = brute.map { case (a, b, _) => (a, b) }
    assert(partial.nonEmpty)
    // every reported neighbor is a real vector pair drawn from probed
    // cells; with 1 probe recall may drop but never invents pairs
    assert(partial.forall { case (a, b) => a != b })
    assert(bruteAll.nonEmpty)
  }

  test("bucketedPairs scores only same-bucket pairs above the floor") {
    val df = Seq(
      (1L, Seq(1f, 1f, 1f, 1f)), (2L, Seq(1f, 1f, 1f, 1f)),
      (3L, Seq(-1f, -1f, -1f, -1f)), (4L, Seq(-1f, -1f, -1f, -0.5f)))
      .toDF("vec_id", "embedding")
    val out = Similarity
      .bucketedPairs(df, "vec_id", "embedding", 0.5, bits = 4, dim = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,2) share bucket 0b1111; (3,4) share bucket 0b0000; cross-bucket
    // pairs like (1,3) are never scored despite cosine = -1 < floor.
    assert(out == Set((1L, 2L), (3L, 4L)))
  }

  test("bucketedPairs plan is a distributed join, not a driver collect") {
    val df = Seq((1L, Seq(1f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity
      .bucketedPairs(df, "vec_id", "embedding", 0.5, bits = 2, dim = 2)
      .queryExecution.executedPlan.toString
    // The 100 TB contract: pairs come from a bucket-key equi-join
    // executed by Spark (shuffle or broadcast per stats), never from an
    // RDD kernel over a driver-collected corpus (which would surface as
    // MapPartitions/DeserializeToObject nodes and no Join at all).
    assert(plan.contains("Join"), plan)
    assert(!plan.contains("MapPartitions"), plan)
    assert(!plan.contains("DeserializeToObject"), plan)
  }

  test("q_ann_recall: IVF with 4/16 probes keeps mean recall@5 >= 0.5") {
    val out = graft.Queries.queries("q_ann_recall")(
        spark, "/root/testdata/sf0.001")
      .select("recall_at_5").as[Double].collect()
    assert(out.nonEmpty)
    val mean = out.sum / out.length
    // 4-of-16 probes scans ~25% of the corpus; on the synthetic
    // embeddings the coarse cells keep most true neighbors local. The
    // floor is deliberately loose — it guards "index returns garbage /
    // empty", not a tuned recall target.
    assert(mean >= 0.5, s"mean recall@5 = $mean")
  }
}
