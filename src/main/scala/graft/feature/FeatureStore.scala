package graft.feature

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.Relational

/** Feature definition in the registry (reference:
  * feature_store_helper.py:109-137 — name, value type, description).
  */
final case class FeatureDef(name: String, dtype: String,
                            description: String = "")

/** Entity type: a keyed collection of features (reference:
  * feature_store_helper.py:83-107).
  */
final case class EntityTypeDef(name: String, entityIdCol: String,
                               features: Seq[FeatureDef],
                               description: String = "")

/** `meta.json`: an entity type's registry entry plus the layout of its
  * values table: the bucket count, fixed when the entity type is
  * created, and the catalog table name, unique per root.
  */
private[feature] final case class EntityMeta(name: String,
    entityIdCol: String, features: Seq[FeatureDef], description: String,
    buckets: Int, table: String)

/** Spark-native feature store with the reference's capability surface
  * (SURVEY.md A13-A15, A23):
  *
  *  - registry DDL: create/list/delete entity types;
  *  - bulk import: append-only versioned feature values stamped with an
  *    ingestion `feature_ts` (bigquery_to_featurestore.py:21-23 stamps
  *    import time; WRITE semantics are append — history is kept);
  *  - offline point-in-time retrieval: as-of join so training rows never
  *    see future features (the Vertex FS batch-read semantics);
  *  - online view: latest value per entity (the
  *    FeaturestoreOnlineServingServiceClient surface).
  *
  * Storage: an entity type's values are one external catalog table over
  * `root/<entityType>/values`: parquet, partitioned by `__import` (one
  * partition per import or streaming micro-batch) and bucketed by the
  * entity id into B buckets, B = the session's default parallelism when
  * the entity type is created. `meta.json` records B and the table name.
  * The catalog dies with the JVM, the files do not: a store whose
  * catalog lacks the table registers it again on first use.
  *
  * 100 TB note: the history is bucketed once, as it is imported, and
  * never rewritten. Imports need no shuffle (the bucketed writer sorts
  * within each task); every read scans the buckets in place, so a
  * point-in-time read shuffles only its queries and the online view
  * shuffles nothing. [[compactBucketed]] at the store's own bucket count
  * is a catalog registration, O(import partitions), not O(history).
  */
final class FeatureStore(spark: SparkSession, root: String) {
  import FeatureStore.{ImportCol, json, quote}

  private def valuesPath(entityType: String) = s"$root/$entityType/values"
  private def metaPath(entityType: String) =
    Paths.get(s"$root/$entityType/meta.json")

  private[feature] def meta(entityType: String): EntityMeta =
    json.readValue(metaPath(entityType).toFile, classOf[EntityMeta])

  // ---- registry DDL (A13/A23) ----------------------------------------

  def createEntityType(et: EntityTypeDef): Unit = {
    Files.createDirectories(Paths.get(valuesPath(et.name)))
    // Creating it again keeps the layout its imported values have.
    val old = Option.when(Files.exists(metaPath(et.name)))(meta(et.name))
    json.writeValue(metaPath(et.name).toFile, EntityMeta(et.name,
      et.entityIdCol, et.features, et.description,
      old.fold(spark.sparkContext.defaultParallelism)(_.buckets),
      old.fold(s"fs_${UUID.randomUUID.toString.replace("-", "")}")(_.table)))
  }

  def listEntityTypes(): Seq[String] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("meta.json")))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** force-delete: values, metadata and the values table
    * (feature_store_helper.py:8-27).
    */
  def deleteEntityType(name: String): Unit = {
    if (Files.exists(metaPath(name)))
      spark.sql(s"DROP TABLE IF EXISTS ${quote(meta(name).table)}")
    FileUtils.deleteDirectory(new File(s"$root/$name"))
  }

  // ---- storage --------------------------------------------------------

  /** The entity type's values table. A catalog that lacks it registers
    * it over the schema of the imported files, or, before the first
    * import, over `first` (that import's schema).
    */
  private def valuesTable(m: EntityMeta,
                          first: Option[StructType] = None): String = {
    if (!spark.catalog.tableExists(m.table)) {
      val path = valuesPath(m.name)
      val imported = Option(new File(path).list())
        .exists(_.exists(_.startsWith(s"$ImportCol=")))
      register(m, m.table, first.filter(_ => !imported)
        .getOrElse(spark.read.parquet(path).schema))
    }
    m.table
  }

  /** Registers `name` as an external table over the entity type's values
    * and their current import partitions. Spark accepts bucketing only
    * with an explicit column list.
    */
  private def register(m: EntityMeta, name: String,
                       schema: StructType): Unit = {
    val cols = schema.fields.map(f => s"${quote(f.name)} ${f.dataType.sql}")
    spark.sql(s"CREATE TABLE ${quote(name)} (${cols.mkString(", ")}) " +
      s"USING parquet PARTITIONED BY ($ImportCol) " +
      s"CLUSTERED BY (${quote(m.entityIdCol)}) INTO ${m.buckets} BUCKETS " +
      s"LOCATION '${valuesPath(m.name)}'")
    spark.sql(s"ALTER TABLE ${quote(name)} RECOVER PARTITIONS")
  }

  /** The one write path: `rows` (carrying `feature_ts`) into the new
    * import partition `part`, columns matched to the table's by name. A
    * streaming micro-batch is first placed one bucket per task (a bucket
    * id is the key's hash-partition id), so it writes at most one file per
    * bucket, and it overwrites its partition, so a replayed batch
    * replaces its rows instead of adding them again.
    */
  private def write(m: EntityMeta, rows: DataFrame, part: String,
                    microBatch: Boolean): Unit = {
    val table = valuesTable(m, Some(rows.schema.add(ImportCol, "string")))
    // INSERT BY NAME refuses an extra column but fills a missing one
    // with NULL; refuse that too.
    spark.table(table).columns.filterNot(c => c == ImportCol ||
        rows.columns.exists(SQLConf.get.resolver(_, c))).foreach { c =>
      throw new AnalysisException("INCOMPATIBLE_DATA_FOR_TABLE.CANNOT_FIND_DATA",
        Map("tableName" -> quote(table), "colName" -> quote(c)))
    }
    val view = s"import_$part".replace('-', '_')
    (if (microBatch) rows.repartition(m.buckets, col(m.entityIdCol)) else rows)
      .createOrReplaceTempView(view)
    try rows.sparkSession.sql(s"INSERT ${if (microBatch) "OVERWRITE" else "INTO"} " +
      s"${quote(table)} PARTITION ($ImportCol = '$part') BY NAME SELECT * FROM $view")
    finally rows.sparkSession.catalog.dropTempView(view)
  }

  // ---- bulk import (A14) ---------------------------------------------

  /** Append feature values stamped with `featureTs` (defaults to the
    * import wall-clock, `current_timestamp()` at microsecond precision;
    * the reference's proto Timestamp at feature_store_helper.py:154-158
    * keeps seconds). Append-only: repeated imports version the values;
    * readers resolve by time. `entityIdCol` must be the entity type's id
    * column.
    */
  def importFeatureValues(entityType: String, df: DataFrame,
                          entityIdCol: String,
                          featureTs: Option[java.sql.Timestamp] = None)
      : Unit = {
    val m = meta(entityType)
    require(entityIdCol == m.entityIdCol,
      s"$entityType is keyed by ${m.entityIdCol}, not $entityIdCol")
    val stamped = featureTs match {
      case Some(ts) => df.withColumn("feature_ts", lit(ts))
      case None => df.withColumn("feature_ts",
        current_timestamp().cast("timestamp"))
    }
    write(m, stamped, s"b-${UUID.randomUUID}", microBatch = false)
  }

  /** Import with a per-row event-time column instead of a constant stamp
    * (the general versioned-feature-table shape).
    */
  def importWithEventTime(entityType: String, df: DataFrame,
                          tsCol: String): Unit =
    write(meta(entityType), df.withColumn("feature_ts", col(tsCol)),
      s"b-${UUID.randomUUID}", microBatch = false)

  def readValues(entityType: String): DataFrame =
    spark.table(valuesTable(meta(entityType))).drop(ImportCol)

  /** Continuous import: every micro-batch appends feature values with
    * their per-row event time — the streaming twin of
    * [[importWithEventTime]], closing the logger-loop → feature-store
    * path (A3 + A14) without a batch scheduler. Batch k of query q
    * writes import partition `s-<q>-<k>`, so a batch replayed after a
    * crash overwrites its own rows.
    */
  def streamingImport(entityType: String,
                      stream: DataFrame, tsCol: String,
                      checkpoint: String,
                      trigger: org.apache.spark.sql.streaming.Trigger =
                        org.apache.spark.sql.streaming.Trigger
                          .ProcessingTime("5 minutes"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val m = meta(entityType)
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          val query = batch.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId")
          write(m, batch.withColumn("feature_ts", col(tsCol)),
            s"s-$query-$batchId", microBatch = true)
      }
      .start()
  }

  // ---- retrieval (A15) -----------------------------------------------

  /** Offline point-in-time read: for each (entity, asOfTs) query row,
    * the latest feature values with feature_ts <= asOfTs. Training-set
    * safe: never reads the future.
    */
  def pointInTime(entityType: String, queries: DataFrame,
                  entityIdCol: String, asOfTsCol: String,
                  featureCols: Seq[String]): DataFrame =
    Relational.asofJoin(queries, readValues(entityType), entityIdCol,
      asOfTsCol, "feature_ts", featureCols)

  /** A BUCKETED snapshot of the value history as table `table`, for
    * [[pointInTimeBucketed]] and [[streamingPointInTime]]. At the store's
    * own bucket count and key it registers `table` as an external table
    * over the current import partitions and writes no value row:
    * O(partitions). Any other count or key re-buckets the history
    * (`Bucketing.writeBucketed`, without the `__import` column). Both
    * give the same rows; dropping `table` leaves the store's rows intact.
    */
  def compactBucketed(entityType: String, entityIdCol: String,
                      table: String, buckets: Int): Unit = {
    val m = meta(entityType)
    if (buckets == m.buckets && entityIdCol == m.entityIdCol) {
      val schema = spark.table(valuesTable(m)).schema
      spark.sql(s"DROP TABLE IF EXISTS ${quote(table)}")
      register(m, table, schema)
    } else graft.io.Bucketing.writeBucketed(readValues(entityType), table,
      entityIdCol, buckets)
  }

  /** Offline point-in-time read over a [[compactBucketed]] table: the
    * same as-of join as [[pointInTime]], which reads the bucketed table
    * in place and shuffles ONLY the query side (plan-asserted in
    * FeatureStoreSpec).
    */
  def pointInTimeBucketed(table: String, queries: DataFrame,
                          entityIdCol: String, asOfTsCol: String,
                          featureCols: Seq[String]): DataFrame =
    Relational.asofJoin(queries, spark.table(table), entityIdCol,
      asOfTsCol, "feature_ts", featureCols)

  /** Streaming serving-side point-in-time read — the consume
    * counterpart of [[streamingImport]]: each micro-batch of
    * (entity, asOfTs) query rows is as-of joined against a
    * [[compactBucketed]] feature table (the as-of join of
    * [[pointInTimeBucketed]], which shuffles ONLY the query side) and
    * written to its own `batch=<id>` partition, so a replayed batch
    * after a crash rewrites the same files instead of duplicating
    * output (the idempotentAppendLoop sink shape). PIT semantics are
    * unchanged: a query row never reads a feature value stamped after
    * its as-of time, even when newer values already sit in the table.
    *
    * 100 TB note: per-batch cost is the micro-batch-sized query
    * shuffle — the petabyte-scale bucketed feature history is never
    * re-shuffled, which is what makes a minutes-cadence serving join
    * viable at all.
    */
  def streamingPointInTime(table: String, queryStream: DataFrame,
                           entityIdCol: String, asOfTsCol: String,
                           featureCols: Seq[String], outPath: String,
                           checkpoint: String,
                           trigger: org.apache.spark.sql.streaming.Trigger =
                             org.apache.spark.sql.streaming.Trigger
                               .ProcessingTime("5 minutes"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          // Resolve the feature table via the micro-batch's own session
          // (the documented foreachBatch pattern) so catalog/config
          // state can't diverge from the outer session's.
          Relational.asofJoin(batch, batch.sparkSession.table(table),
              entityIdCol, asOfTsCol, "feature_ts", featureCols)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .start()

  /** Online-serving view: current (latest) value per entity. */
  def latestOnlineView(entityType: String, entityIdCol: String,
                       tiebreak: String): DataFrame =
    Relational.latestPerKey(readValues(entityType), entityIdCol,
      "feature_ts", tiebreak)
}

object FeatureStore {
  /** Spark-typed view of a registry dtype string. */
  def sparkType(dtype: String): DataType = DataType.fromDDL(dtype)

  /** The import-partition column of every values table. */
  private val ImportCol = "__import"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def quote(name: String) = s"`${name.replace("`", "``")}`"
}
