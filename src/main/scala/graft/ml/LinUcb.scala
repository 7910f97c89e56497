package graft.ml

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row,
  SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** LinUCB contextual-bandit training as a Spark aggregation (reference:
  * trainer_component.py:71-92,122-130 — per-epoch pass accumulating
  * Tikhonov-regularized least-squares sufficient statistics + UCB).
  *
  * Spark-first shape: the per-action sufficient statistics
  * A_a = λI + Σ x xᵀ and b_a = Σ r x are a single `groupBy(action)`
  * aggregation with a typed [[Aggregator]] over fixed-size Array[Double]
  * buffers — map-side partial aggregation reduces shuffle volume to
  * num_actions × (d² + d) doubles per partition regardless of input
  * size, so the pass scales to 100 TB of trajectories with one shuffle.
  * The tiny (actions × d²) solve for θ_a = A_a⁻¹ b_a happens on the
  * driver ([[solve]]) — O(actions · d³) with d ≈ 20 is microseconds.
  *
  * The statistics are additive, so a stream of micro-batches needs no
  * refit over its history: [[observeStats]] attaches one batch's
  * per-action statistics to whatever job already scans the batch (a
  * `Dataset.observe` metric, no job of its own), [[plus]] adds them to
  * the running [[Totals]] on the driver, and [[solve]] turns the sums
  * into a model (`graft.streaming.Streams.retrainLoop`).
  */
object LinUcb {

  /** Sufficient statistics for one action: xx = Σ x xᵀ (row-major d×d),
    * bx = Σ r·x, n = row count.
    */
  final case class Stats(xx: Array[Double], bx: Array[Double], n: Long) {
    def +(o: Stats): Stats = Stats(xx.lazyZip(o.xx).map(_ + _),
      bx.lazyZip(o.bx).map(_ + _), n + o.n)
  }

  /** Input row shape for the aggregator. */
  final case class Obs(action: Int, x: Array[Double], reward: Double)

  /** Typed aggregator accumulating (Σ x xᵀ, Σ r x, n) for a fixed dim.
    * Buffer is fixed-size — no growth, no spill risk.
    */
  final class StatsAgg(dim: Int) extends Aggregator[Obs, Stats, Stats] {
    def zero: Stats =
      Stats(Array.ofDim[Double](dim * dim), Array.ofDim[Double](dim), 0L)
    def reduce(b: Stats, a: Obs): Stats = {
      val x = a.x
      var i = 0
      while (i < dim) {
        val xi = x(i)
        var j = 0
        val off = i * dim
        while (j < dim) { b.xx(off + j) += xi * x(j); j += 1 }
        b.bx(i) += a.reward * xi
        i += 1
      }
      Stats(b.xx, b.bx, b.n + 1)
    }
    def merge(u: Stats, v: Stats): Stats = {
      var i = 0
      while (i < dim * dim) { u.xx(i) += v.xx(i); i += 1 }
      i = 0
      while (i < dim) { u.bx(i) += v.bx(i); i += 1 }
      Stats(u.xx, u.bx, u.n + v.n)
    }
    def finish(r: Stats): Stats = r
    def bufferEncoder: Encoder[Stats] = Encoders.product[Stats]
    def outputEncoder: Encoder[Stats] = Encoders.product[Stats]
  }

  /** [[StatsAgg]] for every action at once: no grouping, so it can run
    * as a `Dataset.observe` metric. One (d² + d)-double buffer per action
    * seen.
    */
  final class ActionStatsAgg(dim: Int)
      extends Aggregator[Obs, Map[Int, Stats], Map[Int, Stats]] {
    private val one = new StatsAgg(dim)
    def zero: Map[Int, Stats] = Map.empty
    def reduce(b: Map[Int, Stats], a: Obs): Map[Int, Stats] =
      b.updated(a.action, one.reduce(b.getOrElse(a.action, one.zero), a))
    def merge(u: Map[Int, Stats], v: Map[Int, Stats]): Map[Int, Stats] =
      plus(u, v)
    def finish(r: Map[Int, Stats]): Map[Int, Stats] = r
    def bufferEncoder: Encoder[Map[Int, Stats]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[Int, Stats]] = ExpressionEncoder()
  }

  /** Per-action sums of two sets of statistics. */
  def plus(a: Map[Int, Stats], b: Map[Int, Stats]): Map[Int, Stats] =
    b.foldLeft(a) { case (m, (action, s)) =>
      m.updated(action, m.get(action).fold(s)(_ + s))
    }

  /** Per-action model: θ = A⁻¹b plus A⁻¹ for the UCB exploration term. */
  final case class ActionModel(action: Int, theta: Array[Double],
                               aInv: Array[Double], n: Long)

  final case class Model(dim: Int, alpha: Double, lambda: Double,
                         actions: Seq[ActionModel]) {
    /** UCB score for one observation vector against one action. */
    def ucb(am: ActionModel, x: Array[Double]): Double = {
      val d = dim
      var mean = 0.0
      var i = 0
      while (i < d) { mean += am.theta(i) * x(i); i += 1 }
      // xᵀ A⁻¹ x
      var q = 0.0
      i = 0
      while (i < d) {
        var s = 0.0
        var j = 0
        val off = i * d
        while (j < d) { s += am.aInv(off + j) * x(j); j += 1 }
        q += x(i) * s
        i += 1
      }
      mean + alpha * math.sqrt(math.max(q, 0.0))
    }
    /** Greedy UCB action for one observation (A19 batch scoring core). */
    def act(x: Array[Double]): Int = {
      var best = actions.head
      var bestScore = Double.NegativeInfinity
      actions.foreach { am =>
        val s = ucb(am, x)
        if (s > bestScore || (s == bestScore && am.action < best.action)) {
          best = am; bestScore = s
        }
      }
      best.action
    }
  }

  private def obsCols(actionCol: String, obsCol: String,
                      rewardCol: String) =
    Seq(col(actionCol).cast("int").as("action"),
      col(obsCol).cast("array<double>").as("x"),
      col(rewardCol).cast("double").as("reward"))

  /** One distributed pass: groupBy(action) → sufficient stats. */
  def sufficientStats(df: DataFrame, actionCol: String, obsCol: String,
                      rewardCol: String, dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new StatsAgg(dim).toColumn.name("stats")
    df.select(obsCols(actionCol, obsCol, rewardCol): _*)
      .as[Obs]
      .groupByKey(_.action)
      .agg(agg)
      .toDF("action", "stats")
  }

  /** [[sufficientStats]] collected to the driver, by action. */
  def collectStats(df: DataFrame, actionCol: String, obsCol: String,
                   rewardCol: String, dim: Int): Map[Int, Stats] =
    sufficientStats(df, actionCol, obsCol, rewardCol, dim).collect()
      .map(r => r.getInt(0) -> statsOf(r.getStruct(1))).toMap

  /** `df` unchanged, with its per-action statistics attached as `seen`'s
    * metric "stats": the first action over the result fills them in,
    * inside its own job. Read them with [[observedStats]].
    */
  def observeStats(df: DataFrame, seen: Observation, actionCol: String,
                   obsCol: String, rewardCol: String, dim: Int): DataFrame =
    df.observe(seen, udaf(new ActionStatsAgg(dim), Encoders.product[Obs])(
      obsCols(actionCol, obsCol, rewardCol): _*).as("stats"))

  /** The statistics [[observeStats]] attached; blocks until its action
    * has run.
    */
  def observedStats(seen: Observation): Map[Int, Stats] =
    seen.get("stats").asInstanceOf[scala.collection.Map[Int, Row]]
      .map { case (action, s) => action -> statsOf(s) }.toMap

  private def statsOf(s: Row): Stats =
    Stats(s.getSeq[Double](0).toArray, s.getSeq[Double](1).toArray,
      s.getLong(2))

  /** The driver-side d×d solves: per action, A = epochs·Σ x xᵀ + λI,
    * θ = A⁻¹ (epochs·Σ r x). The reference runs `epochs` identical passes
    * (trainer_component.py:122-130); the statistics are additive, so
    * one pass scaled by `epochs` is equivalent.
    */
  def solve(stats: Map[Int, Stats], dim: Int, alpha: Double = 1.0,
            lambda: Double = 1.0, epochs: Int = 1): Model =
    Model(dim, alpha, lambda, stats.toSeq.sortBy(_._1).map {
      case (action, s) =>
        val a = Array.tabulate(dim * dim) { k =>
          val scaled = s.xx(k) * epochs
          if (k / dim == k % dim) scaled + lambda else scaled
        }
        val aInv = invert(a, dim)
        val theta = matVec(aInv, s.bx.map(_ * epochs), dim)
        ActionModel(action, theta, aInv, s.n * epochs)
    })

  /** Train: one aggregation pass + [[solve]]. */
  def fit(df: DataFrame, actionCol: String, obsCol: String,
          rewardCol: String, dim: Int, alpha: Double = 1.0,
          lambda: Double = 1.0, epochs: Int = 1): Model =
    solve(collectStats(df, actionCol, obsCol, rewardCol, dim), dim, alpha,
      lambda, epochs)

  /** Batch scoring (A19, prediction_container/main.py:61-85): predicted
    * UCB-greedy action per row. Model broadcasts (actions × d² doubles).
    */
  def score(model: Model, df: DataFrame, obsCol: String,
            outCol: String = "predicted_action"): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val actUdf = udf((x: Seq[Double]) => bc.value.act(x.toArray))
    df.withColumn(outCol, actUdf(col(obsCol).cast("array<double>")))
  }

  /** Offline policy evaluation on logged (action, obs, reward) data:
    * match rate between the policy's greedy choice and the logged
    * action, plus the mean logged reward on matching rows (the standard
    * replay estimator for bandit policies — unbiased when the logging
    * policy was uniform-random, as the reference's generator is).
    */
  def evaluate(model: Model, df: DataFrame, actionCol: String,
               obsCol: String, rewardCol: String): DataFrame = {
    val scored = score(model, df, obsCol)
    scored.agg(
      count(lit(1)).as("n"),
      sum(when(col(actionCol) === col("predicted_action"), 1L)
        .otherwise(0L)).as("n_match"),
      avg(when(col(actionCol) === col("predicted_action"),
        col(rewardCol))).as("replay_reward"))
  }

  // ---- persistence (A18, PolicySaver.save / saved_model.load) ---------

  /** A retrain loop's running sums: per-action statistics of every row
    * through micro-batch `batchId`.
    */
  final case class Totals(batchId: Long, stats: Map[Int, Stats])

  /** One parquet file, one row per action: dim, alpha, lambda, action,
    * theta, a_inv, n.
    */
  def save(spark: SparkSession, model: Model, path: String): Unit =
    write(spark, model, None, path)

  /** [[save]] plus the loop's [[Totals]] in three more columns of the
    * same rows: xx and bx (the action's sums) and batch_id, by which a
    * restarted loop tells a replayed micro-batch from a new one. n is the
    * model's, which equals the statistics' count for a model solved with
    * `epochs` = 1. [[load]] ignores the extra columns.
    */
  private[graft] def save(spark: SparkSession, model: Model, totals: Totals,
                          path: String): Unit =
    write(spark, model, Some(totals), path)

  private val ModelFields = Seq(StructField("dim", IntegerType, false),
    StructField("alpha", DoubleType, false),
    StructField("lambda", DoubleType, false),
    StructField("action", IntegerType, false),
    StructField("theta", ArrayType(DoubleType, false)),
    StructField("a_inv", ArrayType(DoubleType, false)),
    StructField("n", LongType, false))
  private val TotalsFields = Seq(
    StructField("xx", ArrayType(DoubleType, false)),
    StructField("bx", ArrayType(DoubleType, false)),
    StructField("batch_id", LongType, false))

  private def write(spark: SparkSession, model: Model,
                    totals: Option[Totals], path: String): Unit = {
    val rows = model.actions.map { a =>
      Row.fromSeq(Seq(model.dim, model.alpha, model.lambda, a.action,
        a.theta.toSeq, a.aInv.toSeq, a.n) ++ totals.toSeq.flatMap { t =>
          val s = t.stats(a.action)
          Seq(s.xx.toSeq, s.bx.toSeq, t.batchId)
        })
    }
    val fields =
      if (totals.isEmpty) ModelFields else ModelFields ++ TotalsFields
    spark.createDataFrame(rows.asJava, StructType(fields))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): Model = {
    val rows = spark.read.parquet(path).collect()
    val h = rows.head
    Model(h.getAs[Int]("dim"), h.getAs[Double]("alpha"),
      h.getAs[Double]("lambda"),
      rows.map(r => ActionModel(r.getAs[Int]("action"),
          r.getSeq[Double](r.fieldIndex("theta")).toArray,
          r.getSeq[Double](r.fieldIndex("a_inv")).toArray,
          r.getAs[Long]("n")))
        .sortBy(_.action).toSeq)
  }

  /** The [[Totals]] a model was saved with; None when it was saved
    * without them or holds no action.
    */
  private[graft] def loadTotals(spark: SparkSession,
                                path: String): Option[Totals] = {
    val df = spark.read.parquet(path)
    if (!TotalsFields.forall(f => df.columns.contains(f.name))) None
    else {
      val rows = df.select(col("batch_id"), col("action"),
        struct("xx", "bx", "n")).collect()
      rows.headOption.map(h => Totals(h.getLong(0),
        rows.map(r => r.getInt(1) -> statsOf(r.getStruct(2))).toMap))
    }
  }

  // ---- tiny dense linear algebra (d ≈ 20; no external dep) ------------

  /** Gauss-Jordan inverse of a row-major d×d SPD matrix. */
  private[ml] def invert(a0: Array[Double], d: Int): Array[Double] = {
    val a = a0.clone()
    val inv = Array.tabulate(d * d)(k => if (k / d == k % d) 1.0 else 0.0)
    var c = 0
    while (c < d) {
      var p = c
      var i = c + 1
      while (i < d) { if (math.abs(a(i * d + c)) >
        math.abs(a(p * d + c))) p = i; i += 1 }
      if (p != c) { swapRow(a, d, p, c); swapRow(inv, d, p, c) }
      val piv = a(c * d + c)
      require(math.abs(piv) > 1e-12, s"singular at col $c")
      var j = 0
      while (j < d) { a(c * d + j) /= piv; inv(c * d + j) /= piv; j += 1 }
      i = 0
      while (i < d) {
        if (i != c) {
          val f = a(i * d + c)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < d) {
              a(i * d + j2) -= f * a(c * d + j2)
              inv(i * d + j2) -= f * inv(c * d + j2)
              j2 += 1
            }
          }
        }
        i += 1
      }
      c += 1
    }
    inv
  }

  private def swapRow(m: Array[Double], d: Int, r1: Int, r2: Int): Unit = {
    var j = 0
    while (j < d) {
      val t = m(r1 * d + j); m(r1 * d + j) = m(r2 * d + j)
      m(r2 * d + j) = t; j += 1
    }
  }

  private[ml] def matVec(m: Array[Double], v: Array[Double],
                         d: Int): Array[Double] =
    Array.tabulate(d) { i =>
      var s = 0.0
      var j = 0
      while (j < d) { s += m(i * d + j) * v(j); j += 1 }
      s
    }
}
