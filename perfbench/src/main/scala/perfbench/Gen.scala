package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a function of the row id and
  * the seed only, through `xxhash64(id, seed, salt)`, so the inputs do
  * not depend on partitioning and one seed always gives the same data.
  */
object Gen {

  /** Event times fall in [Base, Base + SpanUs). */
  val BaseUs: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  val SpanUs: Long = 14L * 24 * 3600 * 1000000L

  private def h(seed: Long, salt: Int): Column =
    xxhash64(col("id"), lit(seed), lit(salt))

  private def mod(seed: Long, salt: Int, m: Long): Column =
    pmod(h(seed, salt), lit(m))

  /** Uniform double in [-1, 1) on a 1e-6 grid. */
  private def unit(hash: Column): Column =
    pmod(hash, lit(2000000L)).cast("double") / 1e6 - 1.0

  private def ts(seed: Long, salt: Int): Column =
    timestamp_micros(lit(BaseUs) + mod(seed, salt, SpanUs))

  // ---- feature_pit -------------------------------------------------

  /** Timestamped feature values: (value_id, entity_id, event_ts, obs,
    * action, reward), the trajectory rows the reference imports into its
    * feature store. Reward is the observation's coordinate for the
    * action plus small noise.
    */
  def featureValues(spark: SparkSession, seed: Long, n: Long,
                    entities: Long, dim: Int, actions: Int): DataFrame =
    spark.range(n)
      .select(col("id").as("value_id"), col("id"),
        mod(seed, 1, entities).as("entity_id"),
        ts(seed, 2).as("event_ts"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => unit(xxhash64(col("id"), lit(seed), j + 10))).as("obs"),
        mod(seed, 3, actions).cast("int").as("action"),
        (unit(h(seed, 4)) / 100.0).as("noise"))
      .withColumn("reward", element_at(col("obs"),
        pmod(col("action"), lit(dim)) + 1) + col("noise"))
      .drop("id", "noise")

  /** As-of query rows: (query_id, entity_id, as_of). */
  def asOfQueries(spark: SparkSession, seed: Long, n: Long,
                  entities: Long): DataFrame =
    spark.range(n)
      .select(col("id").as("query_id"), mod(seed, 5, entities).as("entity_id"),
        ts(seed, 6).as("as_of"))

  // ---- text_dedup --------------------------------------------------

  /** Heaps-law vocabulary size for a corpus of `docs` documents. */
  def vocabSize(docs: Long): Long =
    math.max(1000L, math.ceil(10.0 * math.sqrt(docs * 55.0)).toLong)

  /** Open-vocabulary corpus (doc_id, text, kind, src). Words are Zipf(1)
    * ranks over a Heaps-law vocabulary; documents hold 10-100 words.
    * Planted structure (`kind`): ~5% `near` = an earlier document's text
    * plus a trailing " dup"; ~0.17% `exact` = an earlier document's text;
    * ~0.4% `boiler` = one shared boilerplate text (a hot bucket in every
    * band); the rest `base`. `src` is the copied document, whose own text
    * may itself be a copy.
    */
  def corpus(spark: SparkSession, seed: Long, docs: Long): DataFrame = {
    val v = lit(vocabSize(docs).toDouble)
    // Text of document `id`: `len` Zipf-drawn words, a pure function of
    // (id, seed), so a copy is regenerated from its source id.
    def words(id: Column, len: Column, salt: Int): Column = array_join(transform(
      sequence(lit(1), len),
      j => concat(lit("w"), floor(pow(v,
        pmod(xxhash64(id, lit(seed), lit(salt), j), lit(1000000L)) / 1e6))
        .cast("long"))), " ")
    def length(id: Column): Column =
      (pmod(xxhash64(id, lit(seed), lit(7)), lit(91L)) + 10).cast("int")
    spark.range(docs)
      .withColumn("kind",
        when(col("id") < 20, "base")
          .when(mod(seed, 10, 20) === 0, "near")
          .when(mod(seed, 11, 600) === 0, "exact")
          .when(mod(seed, 12, 250) === 0, "boiler")
          .otherwise("base"))
      .withColumn("src", when(col("kind").isin("near", "exact"),
        pmod(h(seed, 13), col("id"))))
      .select(col("id").as("doc_id"),
        when(col("kind") === "near",
          concat(words(col("src"), length(col("src")), 8), lit(" dup")))
          .when(col("kind") === "exact", words(col("src"), length(col("src")), 8))
          .when(col("kind") === "boiler", words(lit(-1L), lit(40), 9))
          .otherwise(words(col("id"), length(col("id")), 8)).as("text"),
        col("kind"), col("src"))
  }

  // ---- serve_loop --------------------------------------------------

  /** Logged (action, obs, reward) rows that train the initial policy. */
  def seedRows(spark: SparkSession, seed: Long, n: Long, dim: Int,
               actions: Int): DataFrame =
    spark.range(n)
      .select(
        transform(sequence(lit(0), lit(dim - 1)),
          j => unit(xxhash64(col("id"), lit(seed), j + 20))).as("obs"),
        mod(seed, 14, actions).cast("int").as("action"))
      .withColumn("reward", element_at(col("obs"), col("action") + 1))

  /** Observation matrix of request `idx`: `steps` rows of `dim` values in
    * [-1, 1), except the first value, which carries the request index
    * (idx * 1e-6) so a bus line can be traced back to its request.
    */
  def requestObs(seed: Long, idx: Long, steps: Int,
                 dim: Int): Array[Array[Double]] =
    Array.tabulate(steps, dim) { (s, d) =>
      if (s == 0 && d == 0) idx * 1e-6
      else {
        val hsh = XXH64.hashLong((idx * steps + s) * dim + d, seed)
        java.lang.Math.floorMod(hsh, 2000000L) / 1e6 - 1.0
      }
    }

  /** /predict body for request `idx`: one instance of `steps`
    * observations, the reference's request shape.
    */
  def requestBody(seed: Long, idx: Long, steps: Int, dim: Int): String =
    requestObs(seed, idx, steps, dim)
      .map(_.mkString("[", ",", "]"))
      .mkString("""{"instances":[{"observation":[""", ",", "]}]}")
}
