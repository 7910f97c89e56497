package graft

import org.apache.spark.sql.functions._

import org.apache.spark.sql.types._

import graft.text.{Dedup, PQ, Rank, Similarity, Sketches, TextOps}

/** Text/LLM-data operators (dedup, tokens, quality, language-ID,
  * fingerprint, similarity search) — build-plan step 7 (SURVEY.md §7),
  * north_star surface.
  *
  * Oracle determinism notes:
  *  - All float outputs are integer-counts-divided-as-doubles or
  *    quantized-integer arithmetic with one final IEEE div/sqrt —
  *    bit-equal across Spark and DuckDB (see text/Similarity.scala).
  *  - MinHash/SimHash depend on Spark's xxhash64 → not SQL-expressible →
  *    rows-only checks (SURVEY.md §2.2).
  */
object TextQueries {

  private val stop = Seq("a", "an", "the", "of", "and", "or", "in", "on")

  /** The md5-derived SimHash differential twin, parameterized on
    * fingerprint width (64 = first 16 nibbles of the digest, 128 = the
    * whole digest): per-token ±1 votes from md5 nibble bits, majority
    * per bit, 4 bands of `bits/4` bits (pigeonhole-exact for
    * hamming <= 3), exact hamming verification on band collisions.
    * All-integer output — nothing to round cross-engine. The Spark
    * side keeps the production shape: `bits` codegen'd vote sums,
    * map-side combined, ONE shuffle on doc_id, then the production
    * band keys and verification tail (`Dedup.simhashBandKeys` /
    * `simhashWideBandKeys` + `simhashVerified`).
    *
    * The fingerprint is BIT-PACKED and hamming is `bit_count(xor(...))`
    * per packed word (r17): the original ARRAY<INT> fingerprint's
    * hamming — `aggregate(zip_with(...))` — is a non-codegen
    * higher-order expression that Catalyst pushed into the then band
    * self-join's SMJ predicate, so it ran INTERPRETED once per
    * candidate pair; at gen-sf10's planted duplicate clusters two such
    * tasks ground for ~28 min each (jstack: ArrayAggregate.eval inside
    * SortMergeJoinEvaluator). Packed, it is 1–4 codegen'd
    * xor+popcounts per pair, identical output (bands still partition
    * the bits, so the hamming<=3 pigeonhole is unchanged). The SQL side
    * packs 32-bit words so DuckDB needs no sign games; the Spark side
    * packs the same bits into 64-bit lanes (two words each).
    */
  private def simhashMd5Spec(name: String, bits: Int): QuerySpec = {
    val words = bits / 32 // 2 (64-bit twin) or 4 (wide twin)
    // SQL: packed word w from the fp bit array (bit w*32+j -> 1L<<j)
    def sqlWord(w: Int): String =
      s"CAST(list_sum(list_transform(range(1, 33), j -> " +
        s"CASE WHEN fp[CAST(${w * 32} + j AS INT)] = 1 " +
        s"THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) " +
        s"ELSE 0 END)) AS BIGINT)"
    // SQL: band key for band bd (4 bands of bits/4 bits). 64-bit: two
    // 16-bit halves per word; 128-bit: one word per band.
    val sqlBandKey =
      if (bits == 64)
        "(ws[CAST(bd // 2 + 1 AS INT)] >> CAST((bd % 2) * 16 AS INT))" +
          " & 65535"
      else "ws[CAST(bd + 1 AS INT)]"
    val sqlHam = (0 until words)
      .map(w => s"bit_count(xor(wa[${w + 1}], wb[${w + 1}]))")
      .mkString(" + ")
    QuerySpec.sql(name)(
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |           FROM documents),
         |h AS (SELECT doc_id, md5(tok) AS hx FROM t),
         |nb AS (SELECT doc_id, list_transform(range(0, $bits), b ->
         |         CASE WHEN floor(CAST(
         |             strpos('0123456789abcdef',
         |               substr(hx, CAST(b // 4 AS INT) + 1, 1)) - 1
         |             AS BIGINT) / CAST(2 ** (b % 4) AS BIGINT)) % 2 = 1
         |           THEN 1 ELSE -1 END) AS votes
         |       FROM h),
         |v AS (SELECT doc_id, unnest(range(0, $bits)) AS b, votes FROM nb),
         |s AS (SELECT doc_id, b,
         |        sum(CAST(list_extract(votes, CAST(b + 1 AS INT))
         |          AS BIGINT)) AS vote
         |      FROM v GROUP BY 1, 2),
         |fp AS (SELECT doc_id,
         |         array_agg(CASE WHEN vote > 0 THEN 1 ELSE 0 END
         |           ORDER BY b) AS fp
         |       FROM s GROUP BY 1),
         |pk AS (SELECT doc_id,
         |         [${(0 until words).map(sqlWord).mkString(", ")}] AS ws
         |       FROM fp),
         |band AS (SELECT doc_id, ws, unnest(range(0, 4)) AS bd FROM pk),
         |bk AS (SELECT doc_id, ws, bd, $sqlBandKey AS key FROM band),
         |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |           x.ws AS wa, y.ws AS wb
         |         FROM bk x JOIN bk y
         |         ON x.bd = y.bd AND x.key = y.key
         |            AND x.doc_id < y.doc_id
         |         GROUP BY 1, 2, 3, 4),
         |ham AS (SELECT doc_a, doc_b,
         |          CAST($sqlHam AS BIGINT) AS hamming
         |        FROM cand)
         |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val toked = Q.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), md5(col("tok")).as("hx"))
      // nibble m of the digest, as 0..15 (conv: hex digit -> decimal)
      def nib(m: Int) =
        conv(substring(col("hx"), m + 1, 1), 16, 10).cast(IntegerType)
      val votes = (0 until bits).map { i =>
        val bit = nib(i / 4).bitwiseAND(lit(1 << (i % 4)))
        sum(when(bit =!= 0, 1L).otherwise(-1L)).as(s"v$i")
      }
      val tallies = toked.groupBy("doc_id")
        .agg(votes.head, votes.tail: _*)
      // 64-bit lanes (bit j of lane l = fingerprint bit 64l + j): the
      // SQL side's 32-bit words, two per lane, so the production band
      // keys reproduce its keys exactly.
      val lanes = (0 until bits / 64).map { l =>
        (0 until 64).map { j =>
          when(col(s"v${l * 64 + j}") > 0, lit(1L << j)).otherwise(0L)
        }.reduce(_ bitwiseOR _).as(s"fp$l")
      }
      val fps = tallies.select(col("doc_id") +: lanes: _*).persist()
      val keys =
        if (bits == 64) Dedup.simhashBandKeys(col("fp0"))
        else Dedup.simhashWideBandKeys(col("fp0"), col("fp1"))
      Dedup.simhashVerified(fps, lanes.indices.map(l => s"fp$l"), keys, 3)
        .withColumn("hamming", col("hamming").cast(LongType))
        .orderBy("doc_a", "doc_b")
    }
  }

  def specs: Seq[QuerySpec] = Seq(

    // -- exact dedup (A-series north_star; SURVEY.md q_dedup_exact) -----
    QuerySpec.sql("q_dedup_exact")(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM documents GROUP BY md5(text)
        |ORDER BY content_hash""".stripMargin) { (s, dir) =>
      Dedup.exact(Q.t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash")
    },

    // -- tokenize + word frequency (q_text_tokens) ----------------------
    QuerySpec.sql("q_text_tokens")(
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word
        |      FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
    },

    // -- BPE merge-candidate statistics (q_bpe_pairs) -------------------
    // Tokenizer-training support: corpus-weighted adjacent character-
    // pair counts, the statistic every BPE merge step maximizes. Done
    // the way a 100 TB trainer must: ONE aggregation over the corpus
    // collapses it to the word-frequency table (vocabulary-sized), and
    // the bigram explode runs over the vocabulary — never the corpus.
    // Iterative merge training on top of this table: text/Bpe.
    QuerySpec.sql("q_bpe_pairs")(
      """WITH wf AS (
        |  SELECT word, count(*) AS wf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  WHERE length(word) >= 2 GROUP BY word),
        |p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, wf
        |      FROM (SELECT word, wf,
        |              unnest(generate_series(1, length(word) - 1)) AS i
        |            FROM wf))
        |SELECT pair, CAST(sum(wf) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy("word").agg(count(lit(1)).as("wf"))
        .select(col("wf"), explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum(col("wf")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // -- per-doc token budgeting: whitespace + BPE-ish regex counts -----
    // (LLM-corpus sizing; the GPT-2-style pre-tokenizer subset behaves
    // identically under Java regex and RE2, so counts oracle-match)
    QuerySpec.sql("q_token_count")(
      ("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(text,
        |    '""" + TextOps.BpeishPattern.replace("'", "''") + """'))
        |    AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""").stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_ws"),
          size(TextOps.bpeishTokens(col("text"))).cast(LongType)
            .as("n_bpe"))
        .orderBy("doc_id")
    },

    // -- per-doc quality metrics (q_text_quality) -----------------------
    QuerySpec.sql("q_text_quality")(
      s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS tk
         |           FROM documents)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
         |  CAST(len(list_distinct(tk)) AS DOUBLE) /
         |    CAST(len(tk) AS DOUBLE) AS ttr,
         |  CAST(CAST(list_sum(list_transform(tk,
         |      x -> CAST(length(x) AS BIGINT))) AS BIGINT) AS DOUBLE) /
         |    CAST(len(tk) AS DOUBLE) AS mean_tok_len,
         |  CAST(len(list_filter(tk, x -> list_contains(
         |      [${stop.map("'" + _ + "'").mkString(",")}], x)))
         |    AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stopword_ratio,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]'))
         |    AS BIGINT) AS n_bpeish
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.qualityMetrics(Q.t(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "n_distinct", "ttr", "mean_tok_len",
          "stopword_ratio", "n_bpeish")
        .orderBy("doc_id")
    },

    // -- language-ID by marker voting (q_lang_id) -----------------------
    QuerySpec.sql("q_lang_id") {
      val scoreCols = TextOps.langMarkers.map { case (lang, ms) =>
        s"""CAST(len(list_filter(tk, x -> list_contains(
           |  [${ms.map("'" + _ + "'").mkString(",")}], x)))
           |  AS BIGINT) AS score_$lang""".stripMargin
      }.mkString(",\n  ")
      val langs = TextOps.langMarkers.map(_._1)
      val g = s"greatest(${langs.map("score_" + _).mkString(",")})"
      val cases = langs.map(l => s"WHEN score_$l = $g THEN '$l'")
        .mkString(" ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk
         |           FROM documents),
         |s AS (SELECT doc_id, $scoreCols FROM t)
         |SELECT doc_id,
         |  ${langs.map("score_" + _).mkString(", ")},
         |  CASE WHEN $g = 0 THEN 'und' $cases END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    } { (s, dir) =>
      TextOps.langId(Q.t(s, dir, "documents"), "text")
        .select("doc_id" +: TextOps.langMarkers.map("score_" + _._1) :+
          "pred_lang" map col: _*)
        .orderBy("doc_id")
    },

    // -- end-to-end curation pipeline: quality gate → exact dedup →
    // per-source survivor stats. The composed form a real LLM-data
    // pipeline runs, expressed as one declarative plan. -----------------
    QuerySpec.sql("q_pipeline_e2e")(
      """WITH q AS (SELECT doc_id, text, source,
        |    len(string_split(text,' ')) AS n_tok,
        |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
        |      len(string_split(text,' ')) AS ttr
        |  FROM documents),
        |filtered AS (SELECT * FROM q WHERE n_tok >= 10 AND ttr >= 0.2),
        |deduped AS (SELECT md5(text) AS h, min(doc_id) AS keep_id
        |            FROM filtered GROUP BY md5(text)),
        |survivors AS (SELECT f.* FROM filtered f
        |              JOIN deduped d ON f.doc_id = d.keep_id)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM survivors GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val toks = TextOps.tokens(col("text"))
        val q = Q.t(s, dir, "documents").select(
          col("doc_id"), col("text"), col("source"),
          size(toks).as("n_tok"),
          (size(array_distinct(toks)).cast(DoubleType) /
            size(toks).cast(DoubleType)).as("ttr"))
        val filtered = q.filter(col("n_tok") >= 10 && col("ttr") >= 0.2)
        val deduped = filtered
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"))
        filtered.join(deduped,
            filtered("doc_id") === deduped("keep_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast(LongType).as("total_tokens"))
          .orderBy("source")
    },

    // -- raw-text normalization (q_text_normalize) ----------------------
    QuerySpec.sql("q_text_normalize")(
      """SELECT doc_id,
        |  regexp_replace(trim(regexp_replace(lower(
        |    source || ': ' || text), '[^a-z0-9 ]', '', 'g')),
        |    ' +', ' ', 'g') AS norm
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalize(concat(col("source"), lit(": "), col("text")))
            .as("norm"))
        .orderBy("doc_id")
    },

    // -- value histogram over fixed-width bins (q_histogram) ------------
    QuerySpec.sql("q_histogram")(
      """SELECT CAST(floor(value/50) AS BIGINT) AS bin, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "events")
        .groupBy(floor(col("value") / 50).cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n"), Q.sumD2(col("value")).as("sum_v"))
        .orderBy("bin")
    },

    // -- rolling document fingerprint (q_fingerprint) -------------------
    QuerySpec.sql("q_fingerprint")(
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text,' '),
        |        x -> CAST(ascii(x) AS BIGINT) * 131071 +
        |             CAST(length(x) AS BIGINT))),
        |    (acc, c) -> (acc * 1000003 + c) % 2147483647) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // -- exact n-gram Jaccard near-dup pairs (q_dedup_ngram) ------------
    // Inverted-index intersection counting (no n² pair space, no
    // distinct); oracle is the naive all-pairs form — same result.
    // Word trigrams: vocabulary large relative to corpus → sparse
    // posting lists (bigram postings over this 30-word vocab degenerate).
    QuerySpec.sql("q_dedup_ngram")(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        |              FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t)-2, 0)+1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM toks),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
        |        CAST(len(list_distinct(list_concat(a.sh, b.sh)))
        |          AS BIGINT) AS n_union
        |      FROM sets a, sets b
        |      WHERE a.doc_id < b.doc_id AND len(a.sh) > 0
        |        AND len(b.sh) > 0)
        |SELECT doc_a, doc_b, n_inter, n_union,
        |       CAST(n_inter AS DOUBLE)/CAST(n_union AS DOUBLE) AS jaccard
        |FROM p
        |WHERE CAST(n_inter AS DOUBLE)/CAST(n_union AS DOUBLE) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      // maxDf exercises the skew guard while staying recall-exact: the
      // verify corpus has 500 docs, so no shingle can exceed df 10000
      // and the pruning filter removes nothing (oracle stays hash-equal).
      // maxPairs: the exact posting self-join is output-quadratic on
      // low-entropy corpora (excluded at sf>=10 by documentation until
      // r19 — now it refuses loudly at estimate time instead).
      Dedup.ngramJaccardPairs(Q.t(s, dir, "documents"), "text", "doc_id",
          n = 3, minJaccard = 0.2, maxDf = 10000L,
          maxPairs = graft.ops.Caps
            .longEnv("SPARK_GRAFT_NGRAM_PAIR_CAP", 200000000L),
          guardHint = "(q_dedup_minhash is the registered banded " +
            "companion; SPARK_GRAFT_NGRAM_PAIR_CAP raises this " +
            "query's cap.)")
        .orderBy("doc_a", "doc_b")
    },

    // -- dedup clustering: pairs → connected components → canonical doc
    // (min-label fixpoint == min-reachable-id recursive CTE) -----------
    QuerySpec.sql("q_dedup_clusters")(
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text,' ') t
        |  FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t)-2, 0)+1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) sh FROM toks),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b FROM sets a, sets b
        |      WHERE a.doc_id < b.doc_id AND len(a.sh) > 0
        |        AND len(b.sh) > 0
        |        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2),
        |e AS (SELECT doc_a s, doc_b d FROM p
        |      UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.d, r.root FROM reach r JOIN e ON e.s = r.node)
        |SELECT node AS doc_id, min(root) AS component,
        |       (node = min(root)) AS is_canonical
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        text.Cluster.materializedClusters(Q.t(s, dir, "documents"), "text",
            "doc_id", n = 3, minJaccard = 0.2)
          .orderBy("doc_id")
    },

    // -- dedup survivorship: the curation DECISION — per near-dup
    // cluster keep the highest-quality member (token count, doc_id
    // tiebreak), report what got dropped. Composes the clustering with
    // quality scoring; one extra window over the component key ----------
    QuerySpec.sql("q_dedup_survivors")(
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text,' ') t
        |  FROM documents),
        |sets AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t)-2, 0)+1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) sh FROM toks),
        |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b FROM sets a, sets b
        |      WHERE a.doc_id < b.doc_id AND len(a.sh) > 0
        |        AND len(b.sh) > 0
        |        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2),
        |e AS (SELECT doc_a s, doc_b d FROM p
        |      UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT doc_id AS node, doc_id AS root FROM documents
        |  UNION
        |  SELECT e.d, r.root FROM reach r JOIN e ON e.s = r.node),
        |cc AS (SELECT node AS doc_id, min(root) AS component
        |       FROM reach GROUP BY node),
        |q AS (SELECT cc.doc_id, cc.component,
        |        CAST(len(string_split(d.text,' ')) AS BIGINT) n_tokens
        |      FROM cc JOIN documents d ON cc.doc_id = d.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY component
        |        ORDER BY n_tokens DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY component) AS n_members
        |      FROM q)
        |SELECT component, doc_id AS survivor_id, n_tokens,
        |       CAST(n_members AS BIGINT) AS n_members
        |FROM r WHERE rk = 1 ORDER BY component""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val docs = Q.t(s, dir, "documents")
        val cc = text.Cluster.materializedClusters(docs, "text", "doc_id",
            n = 3, minJaccard = 0.2)
          .select(col("doc_id"), col("component"))
        val q = cc.join(docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast(LongType)
              .as("n_tokens")), "doc_id")
        val w = Window.partitionBy("component")
          .orderBy(col("n_tokens").desc, col("doc_id"))
        q.withColumn("rk", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("component")))
          .filter(col("rk") === 1)
          .select(col("component"), col("doc_id").as("survivor_id"),
            col("n_tokens"), col("n_members").cast(LongType)
              .as("n_members"))
          .orderBy("component")
    },

    // -- TF-IDF top terms per doc (log-free idf = N/df keeps both
    // engines' floats identical: integer ratio + IEEE multiply) ---------
    QuerySpec.sql("q_tfidf_top")(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) df FROM tok
        |       GROUP BY 1),
        |n AS (SELECT count(*) n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |        CAST(tf.tf AS DOUBLE) *
        |          (CAST(n.n AS DOUBLE)/CAST(df.df AS DOUBLE)) AS score
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk FROM s)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Q.t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("term"))
      // Persisted: tf feeds the score join AND derives df (tf rows are
      // already distinct per (doc_id, term), so df = count per term —
      // no second corpus tokenization, no count-distinct expand).
      val tf = tok.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
        .persist()
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      // Corpus size stays IN the plan (broadcast 1-row cross join), not
      // a driver-side .count() — one job, no eager action at build time.
      val n = Q.t(s, dir, "documents")
        .agg(count(lit(1)).cast(DoubleType).as("corpus_n"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(n))
        .withColumn("score", col("tf").cast(DoubleType) *
          (col("corpus_n") / col("df").cast(DoubleType)))
        .drop("corpus_n")
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("score"),
          col("rnk").cast(LongType).as("rnk"))
        .orderBy("doc_id", "rnk")
    },

    // -- inverted index: term → df + ordered posting list ---------------
    QuerySpec.sql("q_inverted_index")(
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(string_split(text,' ')) term FROM documents)
        |SELECT term, count(*) AS df,
        |       string_agg(CAST(doc_id AS VARCHAR), ','
        |         ORDER BY doc_id) AS postings
        |FROM tok GROUP BY term ORDER BY term""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text")))
          .as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(transform(sort_array(collect_list(col("doc_id"))),
            _.cast(StringType)), ",").as("postings"))
        .orderBy("term")
    },

    // -- MinHash-LSH near-dup (q_dedup_minhash; rows-only: xxhash64) ----
    QuerySpec.rowsOnly("q_dedup_minhash") { (s, dir) =>
      Dedup.minhashPairs(Q.t(s, dir, "documents"), "text", "doc_id",
          n = 2, k = 32, bands = 8, minJaccard = 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // -- SimHash near-dup (q_dedup_simhash; rows-only: xxhash64) --------
    // Registered plan is the Manku permuted-block form (2^-40 random-
    // collision floor): the 4x16-bit band join's candidate space is
    // measured quadratic at corpus scale (4·n²/2^16 — 2.39B candidate
    // pairs at 500k docs, gen-sf10 sweep) while the blocked form's
    // pair set is spec-pinned to the brute-force hamming <= 3 self-join
    // (TextSpec). The 4x16-bit band keys (Dedup.simhashBandKeys) stay
    // only as the banded shape the md5 oracle twin mirrors
    // (DuckDB-expressible).
    QuerySpec.rowsOnly("q_dedup_simhash") { (s, dir) =>
      Dedup.simhashPairsBlocked(Q.t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    // -- SimHash, 128-bit wide form (q_dedup_simhash_wide; rows-only) ---
    // The stricter-threshold corpus family: two seeded 64-bit vote
    // tallies -> 4x32-bit bands, random-collision floor 4·n²/2^32
    // (55x smaller candidate space than 64-bit banded, measured at
    // gen-sf10). Rows-only: recall exactness for hamming <= 3 on the
    // 128-bit fingerprint is pinned by TextSpec (brute-force equality
    // on the real documents table); no DuckDB shape exists for the
    // seeded dual-xxhash64 fingerprint.
    QuerySpec.rowsOnly("q_dedup_simhash_wide") { (s, dir) =>
      Dedup.simhashPairsWide(Q.t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    // -- SimHash, ORACLE-CHECKED variant (md5-derived 64-bit
    // fingerprint — 16 hex nibbles): per-token votes from md5 nibble
    // bits, majority per bit, 4 bands x 16 bits (pigeonhole-exact for
    // hamming <= 3), exact hamming verification. All-integer output —
    // nothing to round. Spark side keeps the production shape:
    // codegen'd vote sums, map-side combined, one shuffle on doc_id.
    // 64 bits (not 32): at sf0.1's 5k docs a 32-bit fingerprint let
    // ~83k candidate pairs through hamming <= 3 — the loose filter,
    // not the hashing, dominated runtime. 64 bits matches the
    // production variant's discrimination. --------------------------------
    simhashMd5Spec("q_dedup_simhash_md5", bits = 64),

    // -- SimHash WIDE, ORACLE-CHECKED variant (r17: the one dedup
    // family member with no differential twin since r11). md5 is
    // exactly 128 bits = 32 hex nibbles, so the full digest IS the
    // wide fingerprint — same per-token votes, 4 bands x 32 bits
    // (still pigeonhole-exact for hamming <= 3), random-collision
    // floor 4·n²/2^32 like the production dual-xxhash64 form whose
    // banded shape this mirrors (q_dedup_simhash_wide stays
    // registered: recall pinned brute-force by TextSpec). -----------------
    simhashMd5Spec("q_dedup_simhash_wide_md5", bits = 128),

    // -- MinHash-LSH, ORACLE-CHECKED variant: md5 is bit-identical in
    // both engines and lexicographic min over fixed-width lowercase hex
    // equals numeric min — so the whole shingle → k-signature → band →
    // bucket-join → estimate pipeline differentially verifies, unlike
    // the xxhash64 production variant above (same plan shape; the
    // production one keeps the cheaper codegen'd hash). k=16 sigs,
    // 4 bands × 4 rows, est >= 0.5. -------------------------------------
    QuerySpec.sql("q_dedup_minhash_md5")(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |sh0 AS (SELECT doc_id, list_distinct(list_transform(
        |          range(0, greatest(len(toks) - 1, 0)),
        |          i -> concat(toks[CAST(i+1 AS INT)], ' ',
        |                      toks[CAST(i+2 AS INT)]))) AS sh
        |        FROM t),
        |s AS (SELECT doc_id, sh FROM sh0 WHERE len(sh) > 0),
        |sig AS (SELECT doc_id, list_transform(range(0, 16), j ->
        |          list_min(list_transform(sh, x ->
        |            md5(concat(CAST(j AS VARCHAR), '|', x))))) AS sig
        |        FROM s),
        |band AS (SELECT doc_id, sig, unnest(range(0, 4)) AS b FROM sig),
        |bk AS (SELECT doc_id, b, array_to_string(
        |         sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], '')
        |         AS bucket FROM band),
        |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bk x JOIN bk y
        |         ON x.b = y.b AND x.bucket = y.bucket
        |            AND x.doc_id < y.doc_id
        |         GROUP BY 1, 2),
        |est AS (SELECT c.doc_a, c.doc_b,
        |         CAST(list_sum(list_transform(range(1, 17), i ->
        |           CASE WHEN a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)]
        |                THEN 1 ELSE 0 END)) AS BIGINT) AS matches
        |        FROM cand c
        |        JOIN sig a ON a.doc_id = c.doc_a
        |        JOIN sig b ON b.doc_id = c.doc_b)
        |SELECT doc_a, doc_b,
        |  CAST(matches AS DOUBLE) / 16 AS est_jaccard
        |FROM est WHERE matches >= 8
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val k = 16
      val bands = 4
      val r = k / bands
      val sets = Dedup.shingleSets(Q.t(s, dir, "documents"), "text",
          "doc_id", n = 2)
        .filter(size(col("sh")) > 0)
      val docShingle = sets.select(col("doc_id"),
        explode(col("sh")).as("sh1"))
      // Hash each DISTINCT shingle once (k md5s per vocabulary entry,
      // not per doc-shingle occurrence — at 100 TB the shingle
      // vocabulary is orders of magnitude smaller than the occurrence
      // stream), then fold per-position minima per doc with a single
      // shuffle on doc_id. "~" sorts after every hex digit, so it is
      // the fold identity for lexicographic min.
      val hashes = docShingle.select(col("sh1")).distinct()
        .select(col("sh1"),
          transform(sequence(lit(0), lit(k - 1)), j =>
            md5(concat(j.cast(StringType), lit("|"), col("sh1"))))
            .as("hs"))
      val sigs = docShingle.hint("merge").join(hashes.hint("merge"), "sh1")
        .groupBy("doc_id")
        .agg(aggregate(collect_list(col("hs")),
          array_repeat(lit("~"), k),
          (acc, x) => zip_with(acc, x, (a, b) => least(a, b))).as("sig"))
        .persist()
      // Estimator FUSED into the banding (r20, mirroring the
      // production two-stage shape of Dedup.minhashCandidatesEst):
      // the banded table carries the k-md5 signature (n·bands rows,
      // ~0.5 KB payload each — linear in the corpus), `matches` is
      // computed inline on the band pairs, and sub-threshold
      // candidates are dropped BEFORE the distinct shuffle. The prior
      // shape distinct'd the raw candidate stream and then attached
      // two signature arrays to every candidate via joins — at
      // gen-sf100 the saturated candidate space made those attach
      // sorts exceed the box's disk (UnsafeExternalSorter ENOSPC,
      // VERDICT r19 item 2). Output is IDENTICAL: `matches` is a
      // function of the pair, so filtering before vs after the dedup
      // admits exactly the same (doc_a, doc_b) set — both oracles
      // (the one-shot SQL here and compare_sliced.oracle_minhash_md5)
      // are unchanged.
      val keys = transform(sequence(lit(0), lit(bands - 1)), b =>
        concat_ws("", slice(col("sig"), b * r + 1, lit(r))))
      Dedup.bandPairs(sigs, keys, Seq(col("sig")), "doc_id")
        .withColumn("matches",
          aggregate(zip_with(col("a.sig"), col("b.sig"),
            (p, q2) => when(p === q2, 1L).otherwise(0L)),
            lit(0L), (acc, e) => acc + e))
        .filter(col("matches") >= k / 2)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("matches"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          (col("matches").cast(DoubleType) / k).as("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // -- brute-force cosine top-k (q_similarity_topk) -------------------
    QuerySpec.sql("q_similarity_topk")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv,
        |    x -> x*x)) AS BIGINT) AS n2 FROM v),
        |q AS (SELECT vec_id AS query_id, qv AS qw, n2 AS m2 FROM n
        |      WHERE vec_id < 20),
        |s AS (SELECT q.query_id, n.vec_id AS nbr_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> n.qv[i]*q.qw[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(n.n2 AS DOUBLE)*CAST(q.m2 AS DOUBLE)) AS cosine
        |      FROM n, q WHERE n.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cosine, rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rnk
        |  FROM s) WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, dim = 64)
        .orderBy("query_id", "rnk")
    },

    // -- embedding-cosine near-dup pairs (exact; north_star) ------------
    QuerySpec.sql("q_embed_pairs")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv,
        |    x -> x*x)) AS BIGINT) AS n2 FROM v),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE))
        |          AS cosine
        |      FROM n a, n b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      // Guarded (VERDICT r18 item 3): n(n-1)/2 output + full-corpus
      // broadcast by construction — refuses loudly past the cap.
      Similarity.cosinePairsGuarded(Q.t(s, dir, "embeddings"), "vec_id",
          "embedding", minCosine = 0.4, dim = 64,
          maxPairs = graft.ops.Caps
            .longEnv("SPARK_GRAFT_EMBED_PAIR_CAP", 200000000L),
          hint = "(q_embed_pairs_lsh_auto is the registered " +
            "occupancy-sized companion; SPARK_GRAFT_EMBED_PAIR_CAP " +
            "raises this query's cap.)")
        .orderBy("id_a", "id_b")
    },

    // -- sign-LSH bucketed variant (now a distributed self-equi-join,
    // deterministic → full DuckDB oracle instead of rows-only) ----------
    QuerySpec.sql("q_embed_pairs_lsh")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv,
        |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
        |    (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
        |    (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) +
        |    (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) +
        |    (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bucket
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv, bucket,
        |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2
        |  FROM v),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> a.qv[i]*b.qv[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE))
        |          AS cosine
        |      FROM n a JOIN n b ON a.bucket = b.bucket
        |      WHERE b.vec_id > a.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      Similarity.bucketedPairs(Q.t(s, dir, "embeddings"), "vec_id",
          "embedding", minCosine = 0.3, bits = 6, dim = 64)
        .orderBy("id_a", "id_b")
    },

    // -- adaptive-width sign-LSH pairs (q_embed_pairs_lsh_auto) ---------
    // The production form of q_embed_pairs_lsh: bucket bits sized by
    // Similarity.bitsFor(n) so occupancy — and with it join cost per
    // row — stays constant as the corpus grows (fixed bits measured
    // 7.2x for 3x rows at sf1->sf3; occupancy-matched bits 3.1x).
    // ORACLE-CHECKED since r17: bitsFor(n) = clamp(floor(log2(n/256)))
    // is a deterministic integer function of COUNT(*), and
    // floor(log2(x)) is integer-exact in SQL as len(bin(x)) - 1 (no
    // libm) — so the oracle derives the SAME bit width from the same
    // count and the whole adaptive plan differentially verifies.
    // LshAutoSpec retains the precision/recall/sizing pins.
    QuerySpec.sql("q_embed_pairs_lsh_auto")(
      """WITH bw AS (SELECT least(62, greatest(1,
        |    len(bin(greatest(1, count(*) // 256))) - 1)) AS bits
        |  FROM embeddings),
        |v AS (SELECT vec_id, embedding, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |b AS (SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(
        |      range(1, (SELECT bits FROM bw) + 1),
        |      i -> CASE WHEN embedding[CAST(i AS INT)] > 0
        |           THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT))
        |           ELSE 0 END)) AS BIGINT) AS bucket
        |  FROM v),
        |n AS (SELECT vec_id, qv, bucket,
        |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2
        |  FROM b),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> a.qv[CAST(i AS INT)]*b.qv[CAST(i AS INT)]))
        |          AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(a.n2 AS DOUBLE)*CAST(b.n2 AS DOUBLE))
        |          AS cosine
        |      FROM n a JOIN n b ON a.bucket = b.bucket
        |      WHERE b.vec_id > a.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.bucketedPairs(emb, "vec_id", "embedding",
          minCosine = 0.3, bits = Similarity.bitsFor(emb.count()),
          dim = 64)
        .orderBy("id_a", "id_b")
    },

    // -- sign-LSH bucketed ANN top-k (q_similarity_bucketed) ------------
    QuerySpec.sql("q_similarity_bucketed")(
      """WITH v AS (SELECT vec_id, embedding, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT)
        |          AS n2,
        |        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
        |        (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
        |        (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
        |        (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) +
        |        (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) +
        |        (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) +
        |        (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) +
        |        (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |      FROM v),
        |q AS (SELECT vec_id AS query_id, qv AS qw, n2 AS m2, bucket
        |      FROM n WHERE vec_id < 20),
        |s AS (SELECT q.query_id, n.vec_id AS nbr_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> n.qv[i]*q.qw[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(n.n2 AS DOUBLE)*CAST(q.m2 AS DOUBLE)) AS cosine
        |      FROM n JOIN q ON n.bucket = q.bucket
        |      WHERE n.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cosine, rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rnk
        |  FROM s) WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, bits = 8, dim = 64)
        .orderBy("query_id", "rnk")
    },

    // -- multi-probe sign-LSH ANN top-k: each query probes its own
    // bucket plus all Hamming-1 neighbors (recall fix for vectors near
    // a hyperplane; same one-shuffle equi-join plan) --------------------
    QuerySpec.sql("q_similarity_multiprobe")(
      """WITH v AS (SELECT vec_id, embedding, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |        CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT)
        |          AS n2,
        |        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
        |        (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
        |        (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
        |        (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) +
        |        (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) +
        |        (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) +
        |        (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) +
        |        (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
        |      FROM v),
        |q AS (SELECT n.vec_id AS query_id, n.qv AS qw, n.n2 AS m2,
        |        xor(n.bucket, f.flip) AS bucket
        |      FROM n CROSS JOIN (SELECT unnest(
        |        [0,1,2,4,8,16,32,64,128]) AS flip) f
        |      WHERE n.vec_id < 20),
        |s AS (SELECT q.query_id, n.vec_id AS nbr_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> n.qv[i]*q.qw[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(n.n2 AS DOUBLE)*CAST(q.m2 AS DOUBLE)) AS cosine
        |      FROM n JOIN q ON n.bucket = q.bucket
        |      WHERE n.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cosine, rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rnk
        |  FROM s) WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.multiProbeTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, bits = 8)
        .orderBy("query_id", "rnk")
    },

    // -- random-hyperplane sign-LSH ANN top-k: the production variant
    // of q_similarity_bucketed — dense seeded Gaussian hyperplanes
    // instead of axis-aligned dimensions, same one-shuffle equi-join
    // plan. Rows-only: the seeded projection matrix is not
    // oracle-expressible; RpLshSpec pins recall ≥ the axis-aligned
    // variant on anisotropic data and TextSpec-style determinism holds
    // (fixed seed → identical buckets every run) ------------------------
    // ORACLE-CHECKED since r17: the hyperplanes are md5-derived ±1
    // Achlioptas signs (Similarity.achlioptasSign, seed 42), so the
    // whole plane matrix is a DuckDB CTE and the bucketed plan
    // differentially verifies; previously rows-only (seeded Gaussian).
    QuerySpec.sql("q_similarity_rp")(
      """WITH g AS (SELECT i, j,
        |    CASE WHEN (strpos('0123456789abcdef',
        |        substr(md5(concat('42|', CAST(i AS VARCHAR), '|',
        |          CAST(j AS VARCHAR))), 1, 1)) - 1) % 2 = 1
        |      THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT unnest(range(0, 8)) AS i)
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
        |pl AS (SELECT i, list(sgn ORDER BY j) AS p FROM g GROUP BY i),
        |v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |pr AS (SELECT vec_id, i,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      jj -> qv[CAST(jj AS INT)] * p[CAST(jj AS INT)]))
        |      AS BIGINT) AS proj
        |  FROM v CROSS JOIN pl),
        |bkt AS (SELECT vec_id,
        |    sum(CASE WHEN proj > 0
        |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |        ELSE 0 END) AS bucket
        |  FROM pr GROUP BY 1),
        |n AS (SELECT v.vec_id, v.qv, bkt.bucket,
        |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2
        |  FROM v JOIN bkt USING (vec_id)),
        |q AS (SELECT vec_id AS query_id, qv AS qw, n2 AS m2, bucket
        |      FROM n WHERE vec_id < 20),
        |s AS (SELECT q.query_id, n.vec_id AS nbr_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> n.qv[CAST(i AS INT)]*q.qw[CAST(i AS INT)]))
        |          AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(n.n2 AS DOUBLE)*CAST(q.m2 AS DOUBLE)) AS cosine
        |      FROM n JOIN q ON n.bucket = q.bucket
        |      WHERE n.vec_id <> q.query_id)
        |SELECT query_id, nbr_id, cosine, rnk FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rnk
        |  FROM s) WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.rpBucketedTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, bits = 8, dim = 64)
        .orderBy("query_id", "rnk")
    },

    // -- IVF ANN top-k (rows-only: k-means centroids are not DuckDB-
    // expressible; exactness property covered by TextSpec's
    // nprobe=nlist ≡ brute-force test) ----------------------------------
    QuerySpec.rowsOnly("q_similarity_ivf") { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .orderBy("query_id", "rnk")
    },

    // -- ANN index quality report: recall@5 of the IVF index against
    // exact brute force, per query (the metric every ANN deployment
    // tracks). Oracle-checked since r18 (VERDICT r17 item 8): the
    // coarse quantizer here is Similarity.ivfTopKSeeded — centroids =
    // the vec_id<16 seed vectors (the q_kmeans_step convention), so
    // assignment, probe choice and rescoring are all exact integer
    // arithmetic both engines compute identically. The TRAINED MLlib
    // quantizer path stays exercised by q_similarity_ivf (rows-only)
    // and AnnRecallSpec's recall floor. Zero-hit queries surface with
    // recall 0 via the left join (a semi-join would silently drop
    // them — a recall REPORT must show its failures).
    QuerySpec.sql("q_ann_recall")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv, CAST(list_sum(list_transform(qv,
        |    x -> x*x)) AS BIGINT) AS n2 FROM v),
        |c AS (SELECT vec_id AS cell, qv AS qc, n2 AS cn2 FROM n
        |      WHERE vec_id < 16),
        |aff AS (SELECT n.vec_id, c.cell,
        |        2*CAST(list_sum(list_transform(range(1, 65),
        |          i -> n.qv[i]*c.qc[i])) AS BIGINT) - c.cn2 AS a
        |      FROM n, c),
        |ca AS (SELECT vec_id AS nbr_id, cell FROM (
        |        SELECT vec_id, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY a DESC, cell) AS rn
        |        FROM aff) WHERE rn = 1),
        |qa AS (SELECT vec_id AS query_id, cell FROM (
        |        SELECT vec_id, cell, row_number() OVER (
        |          PARTITION BY vec_id ORDER BY a DESC, cell) AS rn
        |        FROM aff WHERE vec_id < 20) WHERE rn <= 4),
        |cd AS (SELECT qa.query_id, ca.nbr_id,
        |        CAST(CAST(list_sum(list_transform(range(1, 65),
        |          i -> nn.qv[i]*nq.qv[i])) AS BIGINT) AS DOUBLE) /
        |          sqrt(CAST(nn.n2 AS DOUBLE)*CAST(nq.n2 AS DOUBLE))
        |          AS cosine
        |      FROM qa JOIN ca USING (cell)
        |        JOIN n nn ON nn.vec_id = ca.nbr_id
        |        JOIN n nq ON nq.vec_id = qa.query_id
        |      WHERE ca.nbr_id <> qa.query_id),
        |ap AS (SELECT query_id, nbr_id FROM (
        |        SELECT query_id, nbr_id, row_number() OVER (
        |          PARTITION BY query_id ORDER BY cosine DESC, nbr_id)
        |          AS rnk
        |        FROM cd) WHERE rnk <= 5),
        |ex AS (SELECT query_id, nbr_id FROM (
        |        SELECT nq.vec_id AS query_id, nn.vec_id AS nbr_id,
        |          row_number() OVER (PARTITION BY nq.vec_id ORDER BY
        |            CAST(CAST(list_sum(list_transform(range(1, 65),
        |              i -> nn.qv[i]*nq.qv[i])) AS BIGINT) AS DOUBLE) /
        |            sqrt(CAST(nn.n2 AS DOUBLE)*CAST(nq.n2 AS DOUBLE))
        |            DESC, nn.vec_id) AS rnk
        |        FROM n nn, n nq
        |        WHERE nq.vec_id < 20 AND nn.vec_id <> nq.vec_id)
        |      WHERE rnk <= 5)
        |SELECT ex.query_id,
        |  CAST(count(ap.nbr_id) AS DOUBLE) / 5.0 AS recall_at_5
        |FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id
        |  AND ap.nbr_id = ex.nbr_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(emb, queries,
          "vec_id", "embedding", k = 5, dim = 64)
        .select(col("query_id"), col("nbr_id"))
      val approx = Similarity.ivfTopKSeeded(emb, queries,
          "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("nbr_id"))
        .withColumn("__hit", lit(1L))
      exact.join(approx, Seq("query_id", "nbr_id"), "left")
        .groupBy("query_id").agg(count(col("__hit")).as("n_hit"))
        .select(col("query_id"),
          (col("n_hit").cast(DoubleType) / lit(5.0)).as("recall_at_5"))
        .orderBy("query_id")
    },

    // -- product quantization encode: 64-dim → 8 sub-codes against a
    // deterministic 16-entry codebook per subspace (exact quantized
    // distances → full DuckDB oracle; see text/PQ.scala) ---------------
    QuerySpec.sql("q_pq_encode")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sp AS (SELECT vec_id, s.range AS sub_id,
        |         list_transform(range(1, 9),
        |           i -> qv[CAST(s.range*8 + i AS BIGINT)]) AS sv
        |       FROM v, range(0, 8) s),
        |cb AS (SELECT vec_id AS cid, sub_id, sv AS cv,
        |         CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT)
        |           AS c2
        |       FROM sp WHERE vec_id < 16),
        |d AS (SELECT p.vec_id, p.sub_id, cb.cid,
        |        CAST(list_sum(list_transform(p.sv, x -> x*x)) AS BIGINT)
        |          + cb.c2
        |          - 2*CAST(list_sum(list_transform(range(1, 9),
        |              i -> p.sv[i]*cb.cv[i])) AS BIGINT) AS dist2
        |      FROM sp p JOIN cb USING (sub_id)),
        |a AS (SELECT vec_id, sub_id, cid, dist2, row_number() OVER (
        |        PARTITION BY vec_id, sub_id ORDER BY dist2, cid) AS rn
        |      FROM d)
        |SELECT vec_id AS id, sub_id, cid AS code, dist2 FROM a
        |WHERE rn = 1 ORDER BY id, sub_id""".stripMargin) { (s, dir) =>
      PQ.pqEncode(Q.t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 16, m = 8, dim = 64)
        .orderBy("id", "sub_id")
    },

    // -- PQ asymmetric-distance top-k over the codes (oracle-checked
    // since r19: the composed encode→LUT→scan pipeline is exact
    // quantized-integer arithmetic end-to-end over the SEEDED
    // first-k-ids codebook — the same determinism that oracle-ified
    // q_ann_recall in r18 — so the DuckDB side just extends the
    // q_pq_encode CTE chain: the per-query LUT is `d` filtered to the
    // query ids, ADC = sum of the 8 looked-up subspace distances, and
    // the (dist, id) row_number tiebreak is total. PQSpec keeps the
    // semantic pins) ----------------------------------------------------
    QuerySpec.sql("q_pq_adc")(
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1e6) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sp AS (SELECT vec_id, s.range AS sub_id,
        |         list_transform(range(1, 9),
        |           i -> qv[CAST(s.range*8 + i AS BIGINT)]) AS sv
        |       FROM v, range(0, 8) s),
        |cb AS (SELECT vec_id AS cid, sub_id, sv AS cv,
        |         CAST(list_sum(list_transform(sv, x -> x*x)) AS BIGINT)
        |           AS c2
        |       FROM sp WHERE vec_id < 16),
        |d AS (SELECT p.vec_id, p.sub_id, cb.cid,
        |        CAST(list_sum(list_transform(p.sv, x -> x*x)) AS BIGINT)
        |          + cb.c2
        |          - 2*CAST(list_sum(list_transform(range(1, 9),
        |              i -> p.sv[i]*cb.cv[i])) AS BIGINT) AS dist2
        |      FROM sp p JOIN cb USING (sub_id)),
        |a AS (SELECT vec_id, sub_id, cid, dist2, row_number() OVER (
        |        PARTITION BY vec_id, sub_id ORDER BY dist2, cid) AS rn
        |      FROM d),
        |codes AS (SELECT vec_id AS id, sub_id, cid AS code FROM a
        |          WHERE rn = 1),
        |lut AS (SELECT vec_id AS query_id, sub_id, cid AS code,
        |          dist2 AS d2
        |        FROM d WHERE vec_id < 20),
        |scored AS (SELECT l.query_id, c.id AS nbr_id,
        |             CAST(sum(l.d2) AS BIGINT) AS adc_dist2
        |           FROM codes c JOIN lut l USING (sub_id, code)
        |           GROUP BY 1, 2),
        |r AS (SELECT query_id, nbr_id, adc_dist2, row_number() OVER (
        |        PARTITION BY query_id ORDER BY adc_dist2, nbr_id) AS rnk
        |      FROM scored WHERE query_id <> nbr_id)
        |SELECT query_id, nbr_id, adc_dist2, rnk FROM r
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin) { (s, dir) =>
      val emb = Q.t(s, dir, "embeddings")
      val codes = PQ.pqEncode(emb, "vec_id", "embedding",
        k = 16, m = 8, dim = 64)
      PQ.adcTopK(codes, emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 16, m = 8, dim = 64, topN = 5)
        .orderBy("query_id", "rnk")
    },

    // -- count-min sketch heavy hitters: fixed-memory estimates vs the
    // exact counts for the top-20 terms (rows-only: xxhash64 hashing;
    // SketchesSpec proves the ε-overcount bound) ------------------------
    QuerySpec.rowsOnly("q_heavy_hitters") { (s, dir) =>
      val toks = Q.t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .persist()
      val sketch = Sketches.cmsBuild(toks, "term", depth = 4, width = 1024)
      val top = toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("term")).limit(20)
      Sketches.cmsEstimate(sketch, top.select("term"), "term",
          depth = 4, width = 1024)
        .join(top, "term")
        .select(col("term"), col("true_cnt"), col("cms_est"))
        .orderBy(col("true_cnt").desc, col("term"))
    },

    // -- md5 twin of the count-min sketch: identical plan shape
    // (explode depth rows → cell groupBy → broadcast min-estimate),
    // cross-engine hash (Spark conv(hex,16,10) ≡ DuckDB
    // CAST('0x'||hex AS BIGINT)) so every sketch CELL and estimate is
    // oracle-checked, the proof the xxhash64 production form's
    // pipeline is correct end-to-end -----------------------------------
    QuerySpec.sql("q_heavy_hitters_md5")(
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
        |              FROM documents),
        |rws AS (SELECT unnest(range(0, 4)) AS r),
        |sketch AS (
        |  SELECT r, CAST(('0x' || substr(md5(concat(CAST(r AS VARCHAR),
        |           '|', term)), 1, 15)) AS BIGINT) % 1024 AS bucket,
        |         count(*) AS cnt
        |  FROM toks CROSS JOIN rws GROUP BY 1, 2),
        |top AS (SELECT term, count(*) AS true_cnt FROM toks
        |        GROUP BY 1 ORDER BY true_cnt DESC, term LIMIT 20),
        |est AS (
        |  SELECT tp.term, tp.true_cnt, min(coalesce(s.cnt, 0)) AS cms_est
        |  FROM top tp CROSS JOIN rws r
        |  LEFT JOIN sketch s ON s.r = r.r AND s.bucket =
        |    CAST(('0x' || substr(md5(concat(CAST(r.r AS VARCHAR), '|',
        |      tp.term)), 1, 15)) AS BIGINT) % 1024
        |  GROUP BY 1, 2)
        |SELECT term, true_cnt, cms_est FROM est
        |ORDER BY true_cnt DESC, term""".stripMargin) { (s, dir) =>
      val toks = Q.t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .persist()
      val sketch = Sketches.cmsBuild(toks, "term", depth = 4,
        width = 1024, hash = Sketches.md5BucketHash)
      val top = toks.groupBy("term").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("term")).limit(20)
      Sketches.cmsEstimate(sketch, top.select("term"), "term",
          depth = 4, width = 1024, hash = Sketches.md5BucketHash)
        .join(top, "term")
        .select(col("term"), col("true_cnt"), col("cms_est"))
        .orderBy(col("true_cnt").desc, col("term"))
    },

    // -- per-doc repetition metrics (Gopher-style quality signals):
    // duplicate-bigram ratio + most-frequent-bigram fraction. All
    // integer counts; the two ratios are single IEEE divisions.
    // Computed IN-ROW (TextOps.multisetStats: sort + linear fold per
    // doc, O(L log L)) — the r13–r20 explode + groupBy(doc_id, bigram)
    // + groupBy(doc_id) form shuffled every bigram occurrence twice
    // only to regroup rows already colocated in the source row; zero
    // exchanges remain before the declared output sort -------------------
    QuerySpec.sql("q_text_repetition")(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |         i -> t[i] || ' ' || t[i+1])) AS b
        |       FROM toks WHERE len(t) >= 2),
        |c AS (SELECT doc_id, b, count(*) AS cnt FROM bg GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |        CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |        CAST(max(cnt) AS BIGINT) AS top_cnt
        |      FROM c GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_distinct_bigrams,
        |  CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) /
        |    CAST(n_bigrams AS DOUBLE) AS dup_bigram_ratio,
        |  CAST(top_cnt AS DOUBLE) /
        |    CAST(n_bigrams AS DOUBLE) AS top_bigram_frac
        |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // Q.spread: the in-row fold below is the query's entire cost and
      // the local documents table is ONE scan task (5 MB single file).
      val perDoc = Q.spread(Q.t(s, dir, "documents"), col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TextOps.bigrams(col("toks")).as("bg"))
        .filter(size(col("bg")) > 0)
        // size(bg) = Σ per-bigram counts; nd/top from one in-row fold.
        .select(col("doc_id"),
          size(col("bg")).cast(LongType).as("n_bigrams"),
          TextOps.multisetStats(col("bg")).as("st"))
        .select(col("doc_id"), col("n_bigrams"),
          col("st")("nd").as("n_distinct_bigrams"),
          col("st")("top").as("top_cnt"))
      perDoc.select(col("doc_id"), col("n_bigrams"),
          col("n_distinct_bigrams"),
          ((col("n_bigrams") - col("n_distinct_bigrams"))
            .cast(DoubleType) / col("n_bigrams").cast(DoubleType))
            .as("dup_bigram_ratio"),
          (col("top_cnt").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).as("top_bigram_frac"))
        .orderBy("doc_id")
    },

    // -- corpus-level collocations: bigram lift = P(xy)/(P(x)P(y)) as
    // the exact integer ratio c_xy·N / (c_x·c_y) — log-free PMI, so the
    // single division is bit-equal across engines. Corpus size folds in
    // as a broadcast 1-row aggregate (no driver-side count) --------------
    QuerySpec.sql("q_collocations")(
      """WITH toks AS (SELECT string_split(text,' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni
        |       GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |         i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
        |       FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT p.w1 AS w1, p.w2 AS w2,
        |         CAST(count(*) AS BIGINT) AS c_xy FROM bg GROUP BY 1, 2)
        |SELECT bc.w1, bc.w2, bc.c_xy,
        |  CAST(bc.c_xy * n.n AS DOUBLE) /
        |    CAST(x.c * y.c AS DOUBLE) AS lift
        |FROM bc, n
        |JOIN uc x ON bc.w1 = x.w
        |JOIN uc y ON bc.w2 = y.w
        |WHERE bc.c_xy >= 5
        |ORDER BY bc.w1, bc.w2""".stripMargin) { (s, dir) =>
      // NOT spread: the A/B (5 pairs; sweeps/sweep_merge_hint_ab.jsonl
      // `r21_second_pass_text_restructures`) read the spread
      // form slower on every pair (median 1.05 → 1.36 s) — the added
      // exchange + wider uc cache cost more than the parallelized
      // emission saves on this join-heavy shape.
      val toked = Q.t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // Cached: the unigram-count table is vocabulary-sized (tiny next
      // to the corpus) and feeds three places — both join sides and,
      // via sum(c), the corpus size. Without it the corpus would be
      // re-scanned and re-tokenized four times (seen in the plan);
      // with it, twice (bigram pass + unigram pass).
      val uc = toked.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .cache()
      val n = uc.agg(sum("c").cast(LongType).as("n"))
      val bc = toked
        .select(TextOps.bigramPairs(col("toks")).as("bp"))
        .filter(size(col("bp")) > 0)
        .select(explode(col("bp")).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      bc.crossJoin(broadcast(n))
        .join(uc.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(uc.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .select(col("w1"), col("w2"), col("c_xy"),
          ((col("c_xy") * col("n")).cast(DoubleType) /
            (col("c_x") * col("c_y")).cast(DoubleType)).as("lift"))
        .orderBy("w1", "w2")
    },

    // -- train/test contamination: for each test-split doc, the train-
    // split docs sharing >= 3 trigrams and the covered fraction of the
    // test doc's shingles. Inverted-index join (one shuffle on the
    // shingle key), never the test × train pair space — the leakage
    // audit every LLM data pipeline runs before training -----------------
    QuerySpec.sql("q_contamination")(
      """WITH s AS (SELECT doc_id, text,
        |    CASE WHEN ((doc_id * 48271 + 11) % 2147483647) % 1000 < 800
        |         THEN 'train'
        |         WHEN ((doc_id * 48271 + 11) % 2147483647) % 1000 < 900
        |         THEN 'val' ELSE 'test' END AS split FROM documents),
        |toks AS (SELECT doc_id, split, string_split(text,' ') AS t
        |  FROM s),
        |sh AS (SELECT doc_id, split, list_distinct(list_transform(
        |    range(1, greatest(len(t)-2, 0)+1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
        |  FROM toks),
        |te AS (SELECT doc_id, sh FROM sh
        |       WHERE split = 'test' AND len(sh) > 0),
        |tr AS (SELECT doc_id, sh FROM sh
        |       WHERE split = 'train' AND len(sh) > 0),
        |p AS (SELECT te.doc_id AS probe_id, tr.doc_id AS corpus_id,
        |        CAST(len(list_intersect(te.sh, tr.sh)) AS BIGINT)
        |          AS n_shared,
        |        CAST(len(te.sh) AS BIGINT) AS sz
        |      FROM te, tr)
        |SELECT probe_id, corpus_id, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(sz AS DOUBLE) AS overlap_frac
        |FROM p WHERE n_shared >= 3
        |ORDER BY probe_id, corpus_id""".stripMargin) { (s, dir) =>
      val split = graft.ops.Relational.hashSplit(
        Q.t(s, dir, "documents"), "doc_id", seed = 11L,
        Seq("train" -> 800, "val" -> 100, "test" -> 100))
      Dedup.crossOverlapPairs(
          split.filter(col("split") === "test"),
          split.filter(col("split") === "train"),
          "text", "doc_id", n = 3, minShared = 3L)
        .orderBy("probe_id", "corpus_id")
    },

    // -- corpus mixture report: docs/tokens/share per source × lang —
    // the training-mix accounting behind every data card. One
    // aggregate; the grand total folds in as a broadcast 1-row agg ----
    QuerySpec.sql("q_domain_mix")(
      """WITH d AS (SELECT source, lang,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (SELECT source, lang, count(*) AS n_docs,
        |        CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS token_share
        |FROM g, t ORDER BY source, lang""".stripMargin) { (s, dir) =>
      val g = Q.t(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n").cast(LongType).as("n_tokens"))
        .cache()
      val t = g.agg(sum("n_tokens").cast(LongType).as("total"))
      g.crossJoin(broadcast(t))
        .select(col("source"), col("lang"), col("n_docs"),
          col("n_tokens"),
          (col("n_tokens").cast(DoubleType) /
            col("total").cast(DoubleType)).as("token_share"))
        .orderBy("source", "lang")
    },

    // -- temperature-resampled domain mixture (α = 0.5): upweight the
    // tail domains of a skewed corpus, the standard multilingual /
    // multi-source rebalancing step. α = ½ keeps the power a single
    // IEEE sqrt; the sqrt weights are quantized to integers so their
    // total is an exact sum and every share is one IEEE division ------
    QuerySpec.sql("q_domain_temperature")(
      """WITH g AS (SELECT source, count(*) AS n_docs,
        |        CAST(sum(len(string_split(text,' '))) AS BIGINT)
        |          AS n_tokens
        |      FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6)
        |          AS BIGINT) AS w_q
        |      FROM g),
        |t AS (SELECT CAST(sum(w_q) AS BIGINT) AS total_q,
        |        CAST(sum(n_tokens) AS BIGINT) AS total_tok FROM w)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(total_tok AS DOUBLE)
        |    AS raw_share,
        |  CAST(w_q AS DOUBLE) / CAST(total_q AS DOUBLE) AS temp_share
        |FROM w, t ORDER BY source""".stripMargin) { (s, dir) =>
      val g = Q.t(s, dir, "documents")
        .select(col("source"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n").cast(LongType).as("n_tokens"))
      val w = g.withColumn("w_q",
        floor(sqrt(col("n_tokens").cast(DoubleType)) * lit(1e6))
          .cast(LongType))
      val t = w.agg(sum("w_q").cast(LongType).as("total_q"),
        sum("n_tokens").cast(LongType).as("total_tok"))
      w.crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast(DoubleType) /
            col("total_tok").cast(DoubleType)).as("raw_share"),
          (col("w_q").cast(DoubleType) /
            col("total_q").cast(DoubleType)).as("temp_share"))
        .orderBy("source")
    },

    // -- skip-gram co-occurrence counts (±2 window, both orientations)
    // — the pair stream feeding embedding training / PMI matrices.
    // Per-row slice/zip emission (no self-join on position), one
    // map-side-combinable aggregate; Q.spread parallelizes the
    // emission kernel, which otherwise runs whole in the single scan
    // task (~0.8 s CPU at sf0.1, the query's entire cost) ----------------
    QuerySpec.sql("q_cooccur_window")(
      """WITH toks AS (SELECT string_split(text,' ') AS t
        |  FROM documents),
        |p AS (SELECT unnest(list_concat(list_concat(
        |    list_transform(range(1, greatest(len(t)-1, 0)+1),
        |      i -> struct_pack(w := t[i], c := t[i+1])),
        |    list_transform(range(1, greatest(len(t)-1, 0)+1),
        |      i -> struct_pack(w := t[i+1], c := t[i]))), list_concat(
        |    list_transform(range(1, greatest(len(t)-2, 0)+1),
        |      i -> struct_pack(w := t[i], c := t[i+2])),
        |    list_transform(range(1, greatest(len(t)-2, 0)+1),
        |      i -> struct_pack(w := t[i+2], c := t[i]))))) AS pr
        |  FROM toks)
        |SELECT pr['w'] AS w, pr['c'] AS c, count(*) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY w, c""".stripMargin) { (s, dir) =>
      Q.spread(Q.t(s, dir, "documents"), col("doc_id"))
        .select(TextOps.tokens(col("text")).as("toks"))
        .select(explode(TextOps.skipgramPairs(col("toks"), 2)).as("pr"))
        .select(col("pr.w").as("w"), col("pr.c").as("c"))
        .groupBy("w", "c").agg(count(lit(1)).as("cnt"))
        .orderBy("w", "c")
    },

    // -- statistical LM quality score: mean corpus-bigram transition
    // frequency per doc (a perplexity proxy without logs). Each
    // transition's P(w2|w1) = c_xy/c_x is quantized to integer ppm
    // BEFORE the per-doc sum, so aggregation order cannot perturb the
    // float result; one final IEEE division per doc. Fluent docs (high
    // mean) separate from shuffled/garbage text (low mean) ---------------
    QuerySpec.sql("q_lm_score")(
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |         i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
        |       FROM toks WHERE len(t) >= 2),
        |tr AS (SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM bg),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        |       FROM tr GROUP BY 1, 2),
        |uc AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x FROM bc
        |       GROUP BY 1),
        |q AS (SELECT tr.doc_id, bc.c_xy * 1000000 // uc.c_x AS ppm
        |      FROM tr JOIN bc ON tr.w1 = bc.w1 AND tr.w2 = bc.w2
        |      JOIN uc ON bc.w1 = uc.w1)
        |SELECT doc_id, count(*) AS n_trans,
        |  CAST(sum(ppm) AS BIGINT) AS sum_ppm,
        |  CAST(sum(ppm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_ppm
        |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        // NOT spread: A/B (sweeps/sweep_merge_hint_ab.jsonl
        // `r21_second_pass_text_restructures`) read plain vs spread as a
        // tie on every calm pair — the downstream joins re-exchange bg
        // anyway, so the emission parallelism buys nothing here.
        val toked = Q.t(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        // Persisted: the per-transition table feeds bigram counts,
        // left-word totals (derived, no extra corpus pass), and the
        // scoring join.
        val bg = toked
          .select(col("doc_id"), TextOps.bigramPairs(col("toks"))
            .as("bp"))
          .filter(size(col("bp")) > 0)
          .select(col("doc_id"), explode(col("bp")).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"),
            col("p.w2").as("w2"))
          .persist()
        val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
          .persist()
        val uc = bc.groupBy("w1").agg(sum("c_xy").cast("bigint")
          .as("c_x"))
        bg.join(bc, Seq("w1", "w2"))
          .join(uc, Seq("w1"))
          .select(col("doc_id"),
            floor(col("c_xy") * 1000000L / col("c_x")).cast("bigint")
              .as("ppm"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_trans"),
            sum("ppm").cast("bigint").as("sum_ppm"))
          .select(col("doc_id"), col("n_trans"), col("sum_ppm"),
            (col("sum_ppm").cast(DoubleType) /
              col("n_trans").cast(DoubleType)).as("mean_ppm"))
          .orderBy("doc_id")
    },

    // -- document chunking: token-bounded overlapping passages (size 32,
    // stride 24) — the passage splitter feeding embedding/RAG indexes.
    // Pure per-row array math (sequence + slice), explode fans out
    // chunks; narrow until the fan-out, no shuffle at all ---------------
    QuerySpec.sql("q_chunk_docs")(
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t,
        |    len(string_split(text,' ')) AS n FROM documents),
        |m AS (SELECT doc_id, t,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM d WHERE n > 0),
        |c AS (SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
        |        list_slice(t, u.i*24 + 1, u.i*24 + 32) AS ch
        |      FROM m, unnest(range(0, n_chunks)) AS u(i))
        |SELECT doc_id, chunk_idx, array_to_string(ch, ' ') AS chunk,
        |  CAST(len(ch) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      TextOps.chunkDocs(Q.t(s, dir, "documents"), "text", "doc_id",
          size = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },

    // -- sequence packing offsets: concat-and-chunk accounting per
    // source stream (2048-token training sequences). Window cumsum is
    // PARTITIONED by source — parallel at scale, unlike a global
    // running sum. All-integer, so the oracle is exact ------------------
    QuerySpec.sql("q_pack_offsets")(
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n
        |  FROM documents),
        |o AS (SELECT doc_id, source, n,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d)
        |SELECT doc_id, source, n, off,
        |  off // 2048 AS first_seq, (off + n - 1) // 2048 AS last_seq,
        |  (off + n - 1) // 2048 - off // 2048 + 1 AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val o = Q.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n"))
        .withColumn("off", coalesce(sum("n").over(w), lit(0L)))
      val first = floor(col("off") / 2048).cast(LongType)
      val last = floor((col("off") + col("n") - 1) / 2048).cast(LongType)
      o.select(col("doc_id"), col("source"), col("n"), col("off"),
          first.as("first_seq"), last.as("last_seq"),
          (last - first + 1).as("n_seqs"))
        .orderBy("doc_id")
    },

    // -- PII/number redaction over event payloads: scrub digit runs,
    // count redactions — a narrow codegen'd map, no shuffle ---------------
    QuerySpec.sql("q_text_scrub")(
      """SELECT event_id, event_type,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
        |    AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Q.t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          TextOps.redact(col("props"), "[0-9]+", "<NUM>").as("scrubbed"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .cast(LongType).as("n_redacted"))
        .orderBy("event_id")
    },

    // -- BM25 salient terms per doc (rational Robertson idf — no ln, so
    // every op is IEEE +,−,×,÷ and the oracle hash-matches; see Rank) --
    QuerySpec.sql("q_rank_bm25")(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) df FROM tf GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) dl FROM tf
        |       GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS DOUBLE) nd,
        |         CAST(CAST(sum(CAST(dl AS BIGINT)) AS BIGINT) AS DOUBLE)
        |           / CAST(count(*) AS DOUBLE) avgdl FROM dl),
        |s AS (SELECT tf.doc_id, tf.term,
        |        ((st.nd - CAST(df.df AS DOUBLE) + 0.5) /
        |          (CAST(df.df AS DOUBLE) + 0.5)) *
        |        (CAST(tf.tf AS DOUBLE) * (1.2e0 + 1e0)) /
        |        (CAST(tf.tf AS DOUBLE) + 1.2e0 *
        |          (2.5e-1 + 7.5e-1 * (dl.dl / st.avgdl))) AS score
        |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
        |      CROSS JOIN st)
        |SELECT doc_id, term, score, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk FROM s)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      Rank.bm25TopK(Q.t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")
    },

    // -- cross-document span dedup (Dolma/MassiveText-style): per doc,
    // the fraction of 5-gram token spans that also occur in ANOTHER
    // document — the boilerplate/duplication signal used to drop or
    // trim repeated passages. Distinct from q_text_repetition
    // (within-doc) and q_contamination (cross-split). Scale shape: the
    // span inverted index shuffles on the span key (the only shuffle
    // that grows with corpus size), the duplicated-span list equi-joins
    // back — never an all-pairs doc comparison. ---------------------
    QuerySpec.sql("q_span_dedup")(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(
        |         range(0, greatest(len(ts) - 4, 0)),
        |         i -> array_to_string(ts[i+1:i+5], ' '))) AS span
        |       FROM t),
        |dup AS (SELECT span FROM sp GROUP BY span
        |        HAVING count(DISTINCT doc_id) >= 2),
        |pd AS (SELECT s.doc_id, count(*) AS n_spans,
        |         count(*) FILTER (s.span IN (SELECT span FROM dup))
        |           AS n_dup_spans
        |       FROM sp s GROUP BY 1)
        |SELECT doc_id, n_spans, n_dup_spans,
        |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE)
        |    AS dup_ratio
        |FROM pd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = Q.t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      val spans = toks.select(col("doc_id"),
        explode(when(size(col("ts")) >= 5,
            expr("transform(sequence(0, size(ts) - 5), " +
              "i -> array_join(slice(ts, i + 1, 5), ' '))"))
          .otherwise(array().cast(ArrayType(StringType)))).as("span"))
        .persist()
      val dup = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("span"), lit(1L).as("__dup"))
      spans.hint("merge").join(dup.hint("merge"), Seq("span"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          (col("n_dup_spans").cast(DoubleType) /
            col("n_spans").cast(DoubleType)).as("dup_ratio"))
        .orderBy("doc_id")
    },

    // -- vocabulary build + id encoding: rank terms by corpus frequency
    // (ties on term), assign contiguous ids, re-encode every document
    // as its id sequence — the tokenizer-vocabulary step of a training
    // pipeline. The ranking uses the partition-parallel zipIndex (range
    // repartition + per-partition index), NOT a global row_number
    // window; the vocab artifact is model-sized and broadcasts to the
    // encode join. Oracle: per-token rows carry only (term, position)
    // via unnest(list_zip(...)) — the previous form kept the WHOLE
    // token array in every per-token row, an oracle-side width blowup
    // (~600 GB intermediate at gen-sf100, COMPARE_MEM_GB=100 already
    // needed at sf30) the Spark plan never had. ------------------------
    QuerySpec.sql("q_vocab_encode")(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM w GROUP BY 1),
        |v AS (SELECT term, CAST(row_number() OVER
        |        (ORDER BY cnt DESC, term) AS BIGINT) AS id FROM c),
        |t AS (SELECT doc_id, string_split(text, ' ') AS ts
        |      FROM documents),
        |tok AS (SELECT doc_id, u.z[1] AS term, u.z[2] AS i
        |        FROM (SELECT doc_id,
        |                unnest(list_zip(ts, range(1, len(ts) + 1))) AS z
        |              FROM t) u),
        |enc AS (SELECT tok.doc_id,
        |          array_agg(v.id ORDER BY tok.i) AS ids
        |        FROM tok JOIN v ON v.term = tok.term
        |        GROUP BY 1)
        |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
        |  array_to_string(ids[1:16], ',') AS head_ids
        |FROM enc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = Q.t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term")))
      val cnt = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      val vocab = graft.ops.Relational.zipIndex(cnt,
          Seq(col("cnt").desc, col("term").asc), "id0")
        .select(col("term"), (col("id0") + 1L).as("id"))
      toks.join(broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("id")))),
          e => e.getField("id")).as("ids"))
        .select(col("doc_id"),
          size(col("ids")).cast(LongType).as("n_tokens"),
          array_join(slice(col("ids"), 1, 16), ",").as("head_ids"))
        .orderBy("doc_id")
    }
  )
}
