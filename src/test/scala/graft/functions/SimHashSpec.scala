package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.{Dedup, TextOps}

/** The in-row SimHash expressions against the explode → votes → groupBy
  * and 56-struct block-key forms they replaced, kept inline here as the
  * reference.
  */
class SimHashSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: one row per token, 64 (or 128) summed ±1 votes per
    * doc, sign → bit. `hashes` maps the token column to the hash
    * column(s) that vote.
    */
  private def refVotes(toked: DataFrame,
                       hashes: Seq[(String, Column => Column)]): DataFrame = {
    val exploded = toked.select($"doc_id", explode($"toks").as("t"))
    val hashed = exploded.select($"doc_id" +: hashes.map { case (name, h) =>
      h($"t").as(s"h_$name") }: _*)
    val votes = hashes.flatMap { case (name, _) => (0 until 64).map(i =>
      sum(when(col(s"h_$name").bitwiseAND(lit(1L << i)) =!= 0L, 1L)
        .otherwise(-1L)).as(s"${name}_v$i")) }
    val tallies = hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    def fp(name: String) = (0 until 64).map(i =>
        when(col(s"${name}_v$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    tallies.select($"doc_id" +: hashes.map { case (name, _) =>
      fp(name).as(name) }: _*)
  }

  private def toked(docs: DataFrame): DataFrame =
    docs.select($"doc_id", TextOps.tokens($"text").as("toks"))

  private def refTable(docs: DataFrame): DataFrame =
    refVotes(toked(docs), Seq("fp" -> (t => xxhash64(t))))

  private def refWideTable(docs: DataFrame): DataFrame =
    refVotes(toked(docs), Seq("fp_lo" -> (t => xxhash64(t)),
      "fp_hi" -> (t => xxhash64(lit(1L), t))))

  /** Reference: the 56-struct explode of 5 shift/mask terms per key. */
  private def refBlockKeys(fps: DataFrame): DataFrame = {
    val tables = (0 until 8).combinations(5).toSeq.zipWithIndex.map {
      case (blocks, t) =>
        val key = blocks.zipWithIndex.map { case (b, pos) =>
          shiftleft(shiftright($"fp", b * 8).bitwiseAND(lit(255L)),
            pos * 8)
        }.reduce((a, c) => a.bitwiseOR(c))
        struct(lit(t).as("tbl"), key.as("key"))
    }
    fps.select($"id", explode(array(tables: _*)).as("bk"))
      .select($"id", $"bk.tbl".as("tbl"), $"bk.key".as("key"))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  /** Runs `body` on the generated code: compile errors raise instead of
    * silently demoting to interpreted eval, and a projection over a
    * local `Seq` is not evaluated at (re-)optimize time — the optimizer's
    * and AQE's ConvertToLocalRelation fold it through the interpreted
    * path.
    */
  private def codegenOnly[T](body: => T): T = {
    val noLocalFold =
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    val keys = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.optimizer.excludedRules" -> noLocalFold,
      "spark.sql.adaptive.optimizer.excludedRules" -> noLocalFold)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Real documents plus one null-text and one empty-text doc. */
  private def corpus(sf: String): DataFrame = {
    val docs = graft.io.Tables.table(spark, s"/root/testdata/$sf",
      "documents").select("doc_id", "text")
    val extra = Seq((-1L, None), (-2L, Some(""))).toDF("doc_id", "text")
      .select($"doc_id".cast(docs.schema("doc_id").dataType), $"text")
    docs.unionByName(extra)
  }

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"simhashTable and simhashWideTable equal the explode/groupBy " +
      s"form row for row on $sf documents") {
      codegenOnly {
        val docs = corpus(sf)
        val fps = Dedup.simhashTable(docs, "text", "doc_id")
        val wide = Dedup.simhashWideTable(docs, "text", "doc_id")
        sameRows(fps, refTable(docs))
        sameRows(wide, refWideTable(docs))
        for (t <- Seq(fps, wide)) {
          val ids = t.select($"doc_id".cast("long")).as[Long].collect().toSet
          assert(!ids.contains(-1L), "a null text must have no fingerprint")
          assert(ids.contains(-2L), "an empty text splits into one token")
        }
        assert(wide.select($"doc_id", $"fp_lo".as("fp"))
          .exceptAll(fps).isEmpty, "fp_lo is the 64-bit fingerprint")
      }
    }
  }

  test("null tokens hash to the seed and an empty array is null, as in " +
    "the explode/groupBy form") {
    codegenOnly {
      val toks = Seq(
        (1L, Seq[String]("a", null, "b")),
        (2L, Seq[String](null)),
        (3L, Seq[String]("", "x", "x", "y")),
        (4L, Seq.empty[String])).toDF("doc_id", "toks")
      val native = toks.select($"doc_id",
        Native.simhashFp($"toks", 42L).as("fp_lo"),
        Native.simhashFp($"toks",
          org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(1L, 42L))
          .as("fp_hi"))
      sameRows(native.filter($"fp_lo".isNotNull),
        refVotes(toks, Seq("fp_lo" -> (t => xxhash64(t)),
          "fp_hi" -> (t => xxhash64(lit(1L), t)))))
      assert(native.filter($"doc_id" === 4L)
        .select($"fp_lo".isNull && $"fp_hi".isNull).as[Boolean].head())
    }
  }

  test("simhashBlockKeys equals the 56-struct keys on seeded random " +
    "fingerprints and the edge values") {
    codegenOnly {
      val rnd = new scala.util.Random(7)
      val fps = (Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++
          Seq.fill(400)(rnd.nextLong()))
        .zipWithIndex.map { case (fp, i) => (i.toLong, fp) }.toDF("id", "fp")
      val native = fps.select($"id",
          posexplode(Native.simhashBlockKeys($"fp")).as(Seq("tbl", "key")))
      assert(native.count() == 56L * 404)
      sameRows(native, refBlockKeys(fps))
    }
  }

  test("interpreted eval matches codegen (literal fold path)") {
    val toks = Seq("the", "quick", "", "the") // even: tallies can tie at 0
    val viaCodegen = codegenOnly {
      Seq((1L, toks)).toDF("id", "toks")
        .select(Native.simhashFp($"toks", 42L).as("fp"))
        .select($"fp", Native.simhashBlockKeys($"fp").as("keys"))
        .as[(Long, Seq[Long])].head()
    }
    // Literal input folds at optimize time through the interpreted eval
    val fpInterp = spark.range(1)
      .select(Native.simhashFp(array(toks.map(lit): _*), 42L))
      .as[Long].head()
    val keysInterp = spark.range(1)
      .select(Native.simhashBlockKeys(lit(fpInterp))).as[Seq[Long]].head()
    assert(viaCodegen == ((fpInterp, keysInterp)))
    assert(keysInterp.length == 56)
    val emptyInterp = spark.range(1)
      .select(Native.simhashFp(array().cast("array<string>"), 42L))
      .as[Option[Long]].head()
    assert(emptyInterp.isEmpty)
  }

  /** Every physical node, descending through AQE wrappers and stages. */
  private def deepNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case n => n }.toSeq.flatMap {
      case a: AdaptiveSparkPlanExec => a +: deepNodes(a.executedPlan)
      case q: QueryStageExec => q +: deepNodes(q.plan)
      case n => Seq(n)
    }

  test("fingerprint tables plan no shuffle: the groupBy form is gone") {
    val docs = corpus("sf0.001")
    for (t <- Seq(Dedup.simhashTable(docs, "text", "doc_id"),
                  Dedup.simhashWideTable(docs, "text", "doc_id"))) {
      t.collect()
      val shuffles = deepNodes(t.queryExecution.executedPlan).collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty, t.queryExecution.executedPlan.toString)
    }
  }
}
