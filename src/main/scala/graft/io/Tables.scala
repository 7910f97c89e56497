package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet star-schema loaders for the driver testdata (TESTDATA.md) plus
  * the reference-shaped ingest paths: string-typed TSV load and nested
  * NDJSON load with overwrite/append semantics
  * (reference: load_component.py:3-58, generator_component.py:102-147,
  * logger/main.py:107-150).
  */
object Tables {

  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet columns stored as TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; with `nanosAsLong` they surface as LongType and we
    * rebuild a microsecond TimestampType (matching what DuckDB reads).
    */
  private val nanosTimestampCols = Set("events.ts")

  /** Read one testdata table. Plain parquet scan — Catalyst handles column
    * pruning + predicate pushdown from whatever the caller stacks on top.
    *
    * Timestamp normalization: the driver testdata's encoding has drifted
    * across rounds (TIMESTAMP(NANOS) → TIMESTAMP_NTZ micros), so every
    * timestamp flavor is rebuilt to plain TimestampType here — the one
    * type the whole query surface (incl. `unix_micros`) accepts. Under
    * the pinned UTC session timeZone the NTZ→TZ cast is
    * instant-preserving and matches what DuckDB reads from the same
    * parquet.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    // Schema memoized on the path's files (as a fixed-schema binaryFile
    // relation lists them), a stand-in for a catalog: otherwise EVERY
    // read runs a footer-inference job (~25-35 ms per table in the r21
    // Debug profiles). A rewritten path lists other files. The conf is
    // set before the inferring read, so nanosAsLong columns stay Long.
    val files = spark.read.format("binaryFile").load(path)
    val sch = graft.ops.Memo.value(graft.ops.Memo.key(Seq(files),
      "schema", path))(spark.read.parquet(path).schema)
    val df = spark.read.schema(sch).parquet(path)
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType &&
          nanosTimestampCols.contains(s"$name.${f.name}"))
        // integer div: ns → µs, exact and identical to DuckDB's ns→µs cast
        d.withColumn(f.name,
          org.apache.spark.sql.functions.expr(
            s"timestamp_micros(${f.name} div 1000)"))
      else if (f.dataType == TimestampNTZType)
        d.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name).cast(TimestampType))
      else d
    }
  }

  /** Canonical Spark-visible schema of every star table as produced by
    * [[table]] — the contract the whole query surface compiles against.
    * Round 9 proved the driver testdata can change encoding between
    * rounds (TIMESTAMP(NANOS) → TIMESTAMP_NTZ), silently breaking
    * queries; [[schemaDrift]] checks a directory against this catalog so
    * the NEXT drift fails with one readable line per drifted column.
    */
  val starSchemas: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  /** Compare a testdata directory's Spark-visible schemas (through
    * [[table]], after all normalization) against [[starSchemas]].
    * Returns one human-readable line per drifted/missing/extra column —
    * empty means the contract holds. Ignores array-element nullability
    * (a writer-dependent detail no query observes).
    */
  def schemaDrift(spark: SparkSession, sfDir: String): Seq[String] = {
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
      case other => other
    }
    starTables.flatMap { t =>
      val actual = table(spark, sfDir, t).schema.fields
        .map(f => f.name -> f.dataType).toMap
      val expected = starSchemas(t)
      val drifted = expected.collect {
        case (c, dt) if actual.contains(c) && norm(actual(c)) != norm(dt) =>
          s"$t.$c: expected ${dt.simpleString}, got ${actual(c).simpleString}"
        case (c, dt) if !actual.contains(c) =>
          s"$t.$c: expected ${dt.simpleString}, column MISSING"
      }
      val extra = (actual.keySet -- expected.map(_._1)).toSeq.sorted
        .map(c => s"$t.$c: unexpected extra column (${actual(c).simpleString})")
      drifted ++ extra
    }
  }

  // --------------------------------------------------------------------
  // Reference-shaped schemas (SURVEY.md §1.2, FIXTURES.md §A)
  // --------------------------------------------------------------------

  /** MovieLens u.data quirk preserved from the reference
    * (load_component.py:31-36): ALL FOUR columns ingest as STRING;
    * typing happens in a separate normalize step.
    */
  val ratingsRawSchema: StructType = StructType(Seq(
    StructField("item_id", StringType),
    StructField("user_id", StringType),
    StructField("rating", StringType),
    StructField("timestamp", StringType)))

  /** Nested RL trajectory schema (generator_component.py:122-137,
    * logger/main.py:127-142): arrays + array-of-struct-of-array.
    */
  val trajectorySchema: StructType = StructType(Seq(
    StructField("step_type", ArrayType(LongType)),
    StructField("observation", ArrayType(StructType(Seq(
      StructField("observation_batch", ArrayType(DoubleType)))))),
    StructField("action", ArrayType(LongType)),
    StructField("policy_info", ArrayType(DoubleType)),
    StructField("next_step_type", ArrayType(LongType)),
    StructField("reward", ArrayType(DoubleType)),
    StructField("discount", ArrayType(DoubleType))))

  /** TSV scan with explicit schema, no header, tab delimiter — the A1
    * load path (load_component.py:38-41). `mode=PERMISSIVE` mirrors
    * BigQuery's tolerant CSV load (u.data's truncated last row loads with
    * nulls rather than failing).
    */
  def readTsv(spark: SparkSession, path: String,
              schema: StructType = ratingsRawSchema): DataFrame =
    spark.read.schema(schema)
      .option("sep", "\t").option("header", "false")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Normalize step for the string-typed ratings ingest: late cast,
    * unix-seconds → TIMESTAMP (notebook.ipynb:197 — seconds since epoch
    * UTC). Kept separate from the scan on purpose (A1 quirk).
    */
  def normalizeRatings(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.select(
      col("user_id").cast(IntegerType).as("user_id"),
      col("item_id").cast(IntegerType).as("item_id"),
      col("rating").cast(IntegerType).as("rating"),
      to_timestamp(from_unixtime(col("timestamp").cast(LongType))).as("ts"))
  }

  /** NDJSON load with the explicit nested schema — A2/A3
    * (generator_component.py:138, logger/main.py:121-126). Schema is
    * always declared, never inferred (SURVEY.md §1.2).
    */
  def readNdjson(spark: SparkSession, path: String,
                 schema: StructType = trajectorySchema): DataFrame =
    spark.read.schema(schema).json(path)

  /** A2: WRITE_TRUNCATE equivalent. */
  def writeOverwrite(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** A3: WRITE_APPEND equivalent — the feedback-loop sink. At-least-once
    * append semantics preserved (logger/main.py:126 does no dedup).
    */
  def writeAppend(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)
}
