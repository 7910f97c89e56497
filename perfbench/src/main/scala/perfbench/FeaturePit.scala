package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.feature.{EntityTypeDef, FeatureDef, FeatureStore}
import graft.ml.LinUcb

/** The reference's batch path (BigQuery → Featurestore import →
  * training set → LinUCB): each pass imports every feature value into a
  * fresh store, compacts it into a bucketed table, builds the training
  * set both ways (generic and bucketed as-of join), reads the online
  * view and fits LinUCB on the training set. A bulk write beside large
  * shuffled as-of reads: loads the feature, ops, io and ml layers;
  * serving and text stay idle.
  */
object FeaturePit extends Workload {
  val name = "feature_pit"

  val Values = 100000L
  val Entities = 5000L
  val Queries = 50000L
  val Dim = 8
  val Actions = 10
  private val Features = Seq("feature_ts", "obs", "action", "reward")

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    Gen.featureValues(spark, seed, Values, Entities, Dim, Actions)
      .write.parquet(s"$dir/values")
    Gen.asOfQueries(spark, seed, Queries, Entities)
      .write.parquet(s"$dir/queries")
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val out = new Outcome
    val values = spark.read.parquet(s"$inputs/values")
    val queries = spark.read.parquet(s"$inputs/queries")
    val models = mutable.Map[Int, LinUcb.Model]()
    def dir(i: Int) = s"$work/p$i"
    def table(i: Int) = s"perfbench_users_$i"

    def runPass(i: Int): Map[String, Double] = {
      val fs = new FeatureStore(spark, s"${dir(i)}/store")
      fs.createEntityType(EntityTypeDef("users", "entity_id", Seq(
        FeatureDef("obs", "ARRAY<DOUBLE>"), FeatureDef("action", "INT"),
        FeatureDef("reward", "DOUBLE"))))
      val imp = tracer.ms("feature.import") {
        fs.importWithEventTime("users", values, "event_ts") }
      val compact = tracer.ms("feature.compact") {
        fs.compactBucketed("users", "entity_id", table(i), cpus) }
      val pit = tracer.ms("feature.pit") {
        fs.pointInTime("users", queries, "entity_id", "as_of", Features)
          .write.parquet(s"${dir(i)}/pit") }
      val pitB = tracer.ms("feature.pit_bucketed") {
        fs.pointInTimeBucketed(table(i), queries, "entity_id", "as_of", Features)
          .write.parquet(s"${dir(i)}/pit_bucketed") }
      val online = tracer.ms("feature.online_view") {
        fs.latestOnlineView("users", "entity_id", "value_id")
          .write.format("noop").mode("overwrite").save() }
      val (model, fitNs) = tracer.timed("ml.fit") {
        LinUcb.fit(trainingSet(i), "asof_action", "asof_obs", "asof_reward", Dim) }
      models(i) = model
      Map("feature.import" -> imp, "feature.compact" -> compact,
        "feature.pit" -> pit, "feature.pit_bucketed" -> pitB,
        "feature.online_view" -> online, "ml.fit" -> fitNs / 1e6)
    }

    def trainingSet(i: Int) = spark.read.parquet(s"${dir(i)}/pit")
      .filter(col("asof_action").isNotNull)

    def check(i: Int): Unit = {
      // One aggregate per side: row count, trained rows, future reads and
      // a multiset fingerprint (sums of two independent row hashes).
      def summary(path: String) = {
        val df = spark.read.parquet(path)
        val cols = df.columns.sorted.map(col).toSeq
        df.agg(count(lit(1)), count(col("asof_action")),
            count(when(col("asof_feature_ts") > col("as_of"), 1)),
            sum(xxhash64(cols: _*).cast("decimal(38,0)")),
            sum(xxhash64(lit(1L) +: cols: _*).cast("decimal(38,0)")))
          .first().toSeq
      }
      val Seq(a, b) = Seq("pit", "pit_bucketed").map(p => summary(s"${dir(i)}/$p"))
      out.check("pit_matches_bucketed") { a == b }
      out.check("no_future_reads") { a(2) == 0L && b(2) == 0L }
      out.check("one_row_per_query") { a(0) == Queries }
      out.check("model_n_equals_training_rows") {
        models(i).actions.map(_.n).sum == a(1)
      }
    }

    def drop(i: Int): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS ${table(i)}")
      Main.deleteTree(new File(dir(i)))
      spark.catalog.clearCache()
    }

    val passes = Passes.loop(ctx, out, minWarm = 0)(runPass) { i =>
      if (i == 0) check(0)
      drop(i)
    }

    val cold = passes.head
    val st = cold.stages
    val trainMs = st("feature.pit") + st("feature.pit_bucketed") + st("ml.fit")
    val importMs = st("feature.import") + st("feature.compact")
    out.e2e("first_pass_s") = cold.wallMs / 1e3
    out.e2e("latency_ms") = trainMs
    out.e2e("throughput_per_s") = Values / (importMs / 1e3)
    out.e2e("fresh_s") = (st("feature.import") + st("feature.online_view")) / 1e3
    out.named("first_pass_s") = (cold.wallMs / 1e3, "s")
    out.named("import_rows_per_s") = (Values / (importMs / 1e3), "1/s")
    out.named("trainset_rows_per_s") = (Queries / (trainMs / 1e3), "1/s")
    out.named("trainset_ms") = (trainMs, "ms")
    out.named("online_view_fresh_s") = (out.e2e("fresh_s"), "s")

    out.layers ++= cold.counters
    Seq("import", "compact", "pit", "pit_bucketed", "online_view").foreach { s =>
      out.layers(s"feature.${s}_ms") = st(s"feature.$s")
    }
    out.layers("ml.fit_ms") = st("ml.fit")
    out.detail("passes") = Passes.detail(passes)
    out.detail("sizes") = Map("values" -> Values, "entities" -> Entities,
      "queries" -> Queries, "dim" -> Dim, "actions" -> Actions)
    out
  }
}
