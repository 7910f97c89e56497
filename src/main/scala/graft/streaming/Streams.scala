package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery,
  TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** Structured-Streaming surface mirroring the reference's feedback loop
  * (SURVEY.md A20-A22): Pub/Sub topics → streaming sources; the logger
  * Cloud Function's append-to-BigQuery → `foreachBatch` append sink; the
  * 5-min simulator cron / 30-min retrain schedule → `Trigger
  * .ProcessingTime`; at-least-once append semantics preserved
  * (logger/main.py:126 does no dedup).
  *
  * 100 TB/day design notes: all aggregations here are watermark-bounded
  * (state is evicted, never unbounded); per-key state in
  * [[runningUserStats]] is fixed-size; sinks are partitioned parquet
  * appends which scale horizontally with executor count.
  *
  * Deployment sizing: set `spark.sql.shuffle.partitions` to
  * [[graft.Sessions.streamShuffleParts]] (cores/2) BEFORE starting a
  * stateful query — micro-batch shuffles are batch-sized, and the
  * per-batch fixed cost (state-store open/commit per partition +
  * re-planning) scales with the partition count; the batch-oriented
  * corpus-sized heuristic over-partitions small-trigger loops (measured
  * r16, sweeps/sweep_stream.jsonl). The count freezes at the first
  * checkpoint.
  */
object Streams {

  /** Tumbling or sliding event-time window aggregation with a watermark
    * bounding state and dropping late data.
    */
  def windowedAgg(events: DataFrame, tsCol: String, keyCol: String,
                  valueCol: String, windowDur: String,
                  slideDur: Option[String] = None,
                  watermark: String = "10 minutes"): DataFrame = {
    val win = slideDur match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None => window(col(tsCol), windowDur)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win.as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col(keyCol), col("n"),
        col("sum_value"))
  }

  /** Gap-based session windows (streaming twin of
    * Relational.sessionize).
    */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermark: String = "10 minutes")
      : DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("session_start"),
        col("w.end").as("session_end"), col(keyCol), col("n"))

  /** Per-user running aggregates via explicit keyed state — the
    * `mapGroupsWithState` form for logic window functions can't express.
    * State is a fixed-size (count, sum) pair per key; processing-time
    * timeout evicts idle keys so state never grows unboundedly.
    */
  final case class UserStats(userId: Long, n: Long, sum: Double)

  /** Pass `idleTimeout` (e.g. "1 hour") in production so idle keys are
    * evicted; None keeps state forever (fine for tests / bounded keys).
    */
  def runningUserStats(events: Dataset[(Long, Double)],
                       idleTimeout: Option[String] = None)
      : Dataset[UserStats] = {
    import events.sparkSession.implicits._
    val timeoutConf = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events.groupByKey(_._1)
      .mapGroupsWithState[UserStats, UserStats](timeoutConf) {
        case (uid, rows, state: GroupState[UserStats]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s
          } else {
            val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0.0))
            var n = prev.n
            var sum = prev.sum
            rows.foreach { r => n += 1; sum += r._2 }
            val next = UserStats(uid, n, sum)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** The Spark-4 `transformWithState` twin of [[runningUserStats]] —
    * the modern arbitrary-state API (SPARK-44838): typed named state
    * variables on a StatefulProcessor instead of one opaque
    * GroupState, plus timers and per-state TTL. Semantically identical
    * here (a (count, sum) ValueState per key, state TTL in place of
    * the processing-time timeout); at 100 TB the operational wins are
    * per-variable TTL eviction and the RocksDB store the operator
    * requires (`spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider), whose changelog checkpointing keeps
    * commit cost proportional to the delta, not the state size.
    */
  class UserStatsProcessor(ttl: Option[java.time.Duration])
      extends StatefulProcessor[Long, (Long, Double), UserStats] {
    @transient private var stats: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState(
        "stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble),
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserStats] = {
      var (n, sum) = if (stats.exists()) stats.get() else (0L, 0.0)
      rows.foreach { r => n += 1; sum += r._2 }
      stats.update((n, sum))
      Iterator.single(UserStats(key, n, sum))
    }
  }

  def runningUserStatsTws(events: Dataset[(Long, Double)],
                          ttl: Option[java.time.Duration] = None)
      : Dataset[UserStats] = {
    import events.sparkSession.implicits._
    // State TTL is only legal under ProcessingTime time mode — pick the
    // mode from the ttl argument so a TTL caller doesn't hit the
    // analysis error TTL-with-NoTime raises. CAVEAT: because the mode
    // is derived from `ttl`, toggling ttl on an existing query changes
    // the operator's TimeMode, which is NOT checkpoint-compatible —
    // enabling or disabling ttl requires starting from a fresh
    // checkpoint, not restarting the old one.
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime()
               else TimeMode.None()
    events.groupByKey(_._1)
      .transformWithState(new UserStatsProcessor(ttl), mode,
        OutputMode.Update())
  }

  final case class RollingStat(eventId: Long, userId: Long, tsS: Long,
                               n: Long, rollMeanCents: Double,
                               rollStdCents: Double)

  /** Streaming twin of the batch `q_rolling_stats` RANGE frame: per
    * entity, count/mean/std of the trailing `windowSec` seconds,
    * emitted once per event. State per key is the trailing-window
    * buffer of (ts, cents) pairs — bounded by the window's event rate,
    * evicted as the frame slides, never the full history.
    *
    * Parity contract with the batch RANGE frame (and its limits):
    * events must arrive in event-time order ACROSS batches, and rows
    * of one (key, ts) peer group must share a micro-batch — a RANGE
    * frame includes all equal-ts peers, which an incremental operator
    * can only honor if it sees them together. Both hold for replayed
    * logs partitioned on time (the retrain-loop shape); a live
    * out-of-order feed needs the watermark-bounded windowed form
    * instead ([[windowedAgg]]).
    *
    * Exactness: moments are integer cents (s1, s2 as BigInt — the
    * in-JVM analog of the batch DECIMAL(38,0) accumulators), and the
    * mean/std expressions are the identical IEEE tree the batch query
    * evaluates, so outputs are bit-equal to the window-function result.
    */
  class RollingStatsProcessor(windowSec: Long,
                              ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, (Long, Long, Long, Long),
        RollingStat] {
    // input rows: (user_id, event_id, ts_s, x_cents)
    @transient private var buf: ListState[(Long, Long)] = _ // (ts_s, x)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState(
        "buf",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[RollingStat] = {
      var window = buf.get().map(v => (v._1, v._2)).toVector
      val out = Vector.newBuilder[RollingStat]
      val sorted = rows.toArray.sortBy(r => (r._3, r._2))
      var i = 0
      while (i < sorted.length) {
        val t = sorted(i)._3
        var j = i
        while (j < sorted.length && sorted(j)._3 == t) j += 1
        // admit the whole peer group before emitting (RANGE-frame
        // semantics: equal-ts rows see each other), then slide the frame
        (i until j).foreach(k => window :+= ((t, sorted(k)._4)))
        window = window.filter(_._1 >= t - windowSec)
        val n = window.length.toLong
        var s1 = BigInt(0); var s2 = BigInt(0)
        window.foreach { e =>
          val x = BigInt(e._2); s1 += x; s2 += x * x
        }
        val nD = n.toDouble
        val s1D = s1.toDouble
        val mean = s1D / nD
        val std =
          if (n > 1) math.sqrt((s2.toDouble - s1D * s1D / nD) / (n - 1))
          else 0.0
        (i until j).foreach(k =>
          out += RollingStat(sorted(k)._2, key, t, n, mean, std))
        i = j
      }
      buf.clear()
      window.foreach(e => buf.appendValue(e))
      out.result().iterator
    }
  }

  /** Pass `ttl` (e.g. a few multiples of `windowSec`) on an unbounded
    * keyspace so a key that stops receiving events has its trailing
    * buffer dropped by the store instead of retained forever — frame
    * eviction otherwise only runs when that key sees a new event.
    *
    * Clock caveat: `windowSec` is EVENT time but TTL eviction runs on
    * PROCESSING time, per list-state entry. The batch-parity contract
    * (bit-equality with the RANGE frame) therefore only holds for keys
    * whose processing-time gap between successive events stays below
    * `ttl` — a throttled historical replay that feeds a key slower
    * than the TTL loses buffer entries still inside the event-time
    * frame. Size ttl above the maximum expected inter-event processing
    * gap of any LIVE key, not merely as a multiple of `windowSec`.
    * Also: TimeMode is derived from `ttl` (ProcessingTime vs None), so
    * enabling/disabling ttl on an existing query is a TimeMode change
    * and requires a fresh checkpoint.
    */
  def rollingStatsTws(events: Dataset[(Long, Long, Long, Long)],
                      windowSec: Long,
                      ttl: Option[java.time.Duration] = None)
      : Dataset[RollingStat] = {
    import events.sparkSession.implicits._
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime()
               else TimeMode.None()
    events.groupByKey(_._1)
      .transformWithState(new RollingStatsProcessor(windowSec, ttl),
        mode, OutputMode.Append())
  }

  final case class HeavyHitter(part: Int, term: String, est: Long,
                               np: Long)

  /** Streaming heavy hitters — the incremental twin of the batch
    * `q_heavy_hitters` count-min sketch, as a Misra-Gries summary per
    * hash partition of the term space (the mergeable-summaries
    * formulation: each partition owns a disjoint slice of the terms, so
    * per-partition guarantees ARE global guarantees for the terms that
    * hash there).
    *
    * State per partition is a MapState of at most `k` counters plus one
    * processed-count long — fixed memory regardless of stream length,
    * the property that makes this run forever on an unbounded feed.
    * Deterministic guarantees (pinned in StreamsSpec, not probabilistic
    * like CMS): for every surviving counter,
    * `est <= true <= est + np/(k+1)` where np is the partition's
    * processed count; and every term with `true > np/(k+1)` is present.
    *
    * Each micro-batch emits the partition's full (small, <= k-entry)
    * snapshot in Update mode, stamped with np so a reader can keep the
    * latest snapshot per partition (np is monotone). The decrement-all
    * step is O(k) amortized against the k increments that preceded it;
    * at 100 TB the stream is hash-partitioned across executors and
    * each summary is k counters — no shuffle beyond the one groupBy,
    * no state growth, no driver participation.
    */
  class HeavyHittersProcessor(k: Int)
      extends StatefulProcessor[Int, (Int, String), HeavyHitter] {
    @transient private var counters: MapState[String, Long] = _
    @transient private var processed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getMapState(
        "counters", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      processed = getHandle.getValueState(
        "np", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Int,
        rows: Iterator[(Int, String)],
        timerValues: TimerValues): Iterator[HeavyHitter] = {
      // state map has <= k entries; process the batch in-heap, one
      // state read + one write per micro-batch instead of per row
      val acc = scala.collection.mutable.HashMap.empty[String, Long]
      counters.iterator().foreach { case (t, c) => acc(t) = c }
      var np = if (processed.exists()) processed.get() else 0L
      rows.foreach { case (_, term) =>
        np += 1
        acc.get(term) match {
          case Some(c) => acc(term) = c + 1
          case None if acc.size < k => acc(term) = 1L
          case None => // Misra-Gries decrement-all; zeros evict
            acc.keys.toArray.foreach { t =>
              val c = acc(t) - 1
              if (c == 0) acc.remove(t) else acc(t) = c
            }
        }
      }
      counters.clear()
      acc.foreach { case (t, c) => counters.updateValue(t, c) }
      processed.update(np)
      acc.iterator.map { case (t, c) => HeavyHitter(key, t, c, np) }
    }
  }

  /** `terms` hash-partitioned into `partitions` Misra-Gries summaries of
    * `k` counters each; Update-mode snapshots per micro-batch.
    */
  def heavyHittersTws(terms: Dataset[String], k: Int,
                      partitions: Int): Dataset[HeavyHitter] = {
    import terms.sparkSession.implicits._
    terms
      .map(t => (math.floorMod(t.hashCode, partitions), t))
      .groupByKey(_._1)
      .transformWithState(new HeavyHittersProcessor(k), TimeMode.None(),
        OutputMode.Update())
  }

  final case class SessionAcc(startMs: Long, endMs: Long, n: Long)
  final case class ClosedSession(userId: Long, startMs: Long, endMs: Long,
                                 n: Long, durationSec: Double)

  /** Streaming sessionization with session EMISSION on close — the
    * `flatMapGroupsWithState` form: per-key state accumulates the open
    * session; when the event-time watermark passes last-event + gap,
    * the timeout fires and the CLOSED session is emitted downstream
    * (append mode), exactly once per session. This is the pattern for
    * "emit a record when the session ends", which the window-function
    * sessionizer (`sessionAgg`) can't express incrementally.
    *
    * State per key is three longs — bounded; eviction is driven by the
    * watermark, so late data beyond it can never reopen a session.
    */
  def statefulSessions(events: Dataset[(Long, java.sql.Timestamp)],
                       gapMs: Long,
                       watermark: String = "10 seconds")
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.toDF("userId", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.startMs, s.endMs, s.n,
              (s.endMs - s.startMs) / 1000.0))
          } else {
            val times = rows.map(_._2.getTime).toArray
            val prev = state.getOption
              .getOrElse(SessionAcc(times.min, times.min, 0L))
            val next = SessionAcc(math.min(prev.startMs, times.min),
              math.max(prev.endMs, times.max), prev.n + times.length)
            state.update(next)
            state.setTimeoutTimestamp(next.endMs + gapMs)
            Iterator.empty
          }
      }
  }

  /** Stream-stream correlation join — the streaming form of the
    * reference's positional zip of observations with predicted actions
    * (A11, logger/main.py:98): two live streams join on a shared id
    * with watermarks bounding both sides' state and an event-time
    * constraint bounding how far apart matching rows may be.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
                leftTs: String, rightTs: String, watermark: String,
                maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxDelay"))
      .drop(r(key))
  }

  /** Streaming deduplication within the watermark horizon —
    * at-least-once input (the logger loop's replay semantics) consumed
    * effectively-once downstream; state for a key is dropped once the
    * watermark passes it, so memory stays bounded.
    */
  def dedupStream(stream: DataFrame, keyCols: Seq[String],
                  tsCol: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming corpus-dedup: keep only documents NOVEL against a static
    * historical corpus AND within the stream itself — the ingest gate
    * of a continuously-growing training corpus. Content hash on the
    * stream side is a narrow map; the corpus side is a static
    * DataFrame of hashes (stream-static equi-join, which Spark
    * broadcasts or shuffles per its size each micro-batch); the
    * within-stream guard is watermark-bounded dedup state. Implemented
    * as left_outer + IS NULL (the stream-static-supported spelling of
    * anti-join).
    */
  def novelAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                         textCol: String, tsCol: String,
                         watermark: String): DataFrame = {
    val hashed = stream.withColumn("__h",
      graft.text.TextOps.contentHash(col(textCol)))
    val seen = corpus
      .select(graft.text.TextOps.contentHash(col(textCol)).as("__h"),
        lit(1).as("__seen"))
      .distinct()
    hashed.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__h")
      .join(seen, Seq("__h"), "left_outer")
      .filter(col("__seen").isNull)
      .drop("__h", "__seen")
  }

  /** Streaming NEAR-dup serving — [[dedupStream]]'s exact-key gate
    * generalized to embedding similarity: each micro-batch of incoming
    * documents is sign-LSH-bucketed with the SAME expressions as the
    * batch index ([[graft.text.Similarity.signatures]]) and
    * equi-joined on the bucket key against that materialized signature
    * table; candidates sharing a bucket are rescored with the exact
    * quantized-integer cosine and pairs at/above `minCosine` are
    * emitted as `(id, dup_id, cosine)` — the incoming doc's id first.
    *
    * This is a stream-static equi-join, so Spark re-plans the static
    * side per micro-batch with the full optimizer: a small signature
    * table broadcasts; a 100 TB one should be persisted bucketed on
    * `bucket` ([[graft.io.Bucketing.writeBucketed]]) so only the
    * micro-batch side shuffles and the corpus is never moved. Candidate
    * volume per incoming doc is its bucket's occupancy (size `bits`
    * with [[graft.text.Similarity.bitsFor]]), never the corpus.
    *
    * Parity contract (NearDupStreamSpec): replaying a corpus through
    * this stream against its own signature table yields exactly the
    * batch [[graft.text.Similarity.bucketedPairs]] pair set (after
    * canonicalizing pair order), with bit-equal cosines — the integer
    * quantization scheme is deterministic across both paths.
    */
  def nearDupStream(stream: DataFrame, signatures: DataFrame,
                    idCol: String, vecCol: String, minCosine: Double,
                    bits: Int): DataFrame = {
    // Stream side IS Similarity.signatures — one definition shared with
    // the batch index, so a quantizer change can never fork the two
    // paths. Only the column names differ (qv->qb, n2->nb2).
    val s = graft.text.Similarity.signatures(stream, idCol, vecCol, bits)
      .withColumnRenamed("qv", "qb")
      .withColumnRenamed("n2", "nb2")
    val idx = signatures.select(col("bucket"), col("id").as("dup_id"),
      col("qv").as("qa"), col("n2").as("na2"))
    s.join(idx, Seq("bucket"))
      .filter(col("dup_id") =!= col("id"))
      .withColumn("cosine", graft.text.Similarity.qcosine(
        col("qa"), col("na2"), col("qb"), col("nb2")))
      .filter(col("cosine") >= minCosine)
      .select(col("id"), col("dup_id"), col("cosine"))
  }

  /** The logger loop sink (A3/A20): every micro-batch appends to a
    * parquet training table — at-least-once, append-only, no dedup,
    * exactly mirroring logger/main.py:107-150. `trigger` defaults to the
    * reference's 5-minute simulator cadence (notebook.ipynb:1025).
    */
  def appendLoop(stream: DataFrame, path: String, checkpoint: String,
                 trigger: Trigger =
                   Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        batch.write.mode("append").parquet(path)
      }
      .start()

  /** Exactly-once upgrade of [[appendLoop]] (SURVEY.md §7 "exactly-once
    * via foreachBatch + txn sink"): each micro-batch overwrites its own
    * `batch=<id>` partition directory, so a replayed batch after failure
    * rewrites the same files instead of appending duplicates. Readers
    * scan the root path as usual.
    */
  def idempotentAppendLoop(stream: DataFrame, path: String,
                           checkpoint: String,
                           trigger: Trigger =
                             Trigger.ProcessingTime("5 minutes"))
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .start()

  /** Keyed upsert sink over plain parquet — Delta-style merge
    * granularity without a transaction log. The table partitions by a
    * stable hash bucket of the key; each micro-batch reads ONLY the
    * buckets it touches, merges latest-per-key, and dynamically
    * overwrites just those partitions. Untouched buckets are never read
    * or rewritten, so per-batch cost scales with batch size, not table
    * size. `numBuckets` sizes the rewrite amplification (100 TB note:
    * thousands of buckets so one hot key rewrites ~1/buckets of the
    * table).
    */
  def upsertLoop(stream: DataFrame, path: String, keyCol: String,
                 tsCol: String, numBuckets: Int, checkpoint: String,
                 trigger: Trigger = Trigger.ProcessingTime("5 minutes"))
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions._
        val bucketed = batch.withColumn("__bucket",
          pmod(xxhash64(col(keyCol)), lit(numBuckets.toLong)))
        val touched = bucketed.select("__bucket").distinct()
          .collect().map(_.getLong(0))
        // through the path's own FileSystem: a java.io.File check reads
        // a `file:` URI or a remote path as absent, and the overwrite
        // below would then drop the touched buckets' earlier keys
        val table = new org.apache.hadoop.fs.Path(path)
        val existing =
          if (table.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(table))
            spark.read.parquet(path)
              .filter(col("__bucket").isin(touched: _*))
          else spark.emptyDataFrame
        val unioned =
          if (existing.isEmpty) bucketed
          else existing.unionByName(bucketed)
        val merged = graft.ops.Relational
          .latestPerKey(unioned, keyCol, tsCol, tsCol)
          // materialize BEFORE overwriting the partitions being read
          .localCheckpoint(true)
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__bucket")
          .parquet(path)
      }
      .start()

  /** Scheduled retraining loop (A22, notebook.ipynb:1199 — cron
    * every-30-min): each trigger adds its rows to the training table and
    * persists a refreshed model. The reference re-ingests and re-trains
    * on the full table each run; LinUCB's statistics are additive, so a
    * trigger here costs O(batch) in two jobs:
    *  - the batch's rows overwrite `trainingPath/batch=<id>` (the
    *    [[idempotentAppendLoop]] shape), and the same write job observes
    *    the batch's per-action statistics (`LinUcb.observeStats`);
    *  - the driver adds them to the running [[graft.ml.LinUcb.Totals]],
    *    solves θ and A⁻¹ (`LinUcb.solve`, d×d) and saves the model with
    *    the totals and the batch id in extra columns.
    *
    * The totals stay in driver memory between batches. This call reads
    * them once from the saved model; with no model they are empty, as
    * before batch 0. On batch k:
    *  - totals at batch k−1: add the batch's statistics;
    *  - totals at batch k: a replay of a batch already counted (a crash
    *    between the model save and the checkpoint commit), so the model
    *    is saved again unchanged;
    *  - otherwise (no model after batch 0, a model saved without totals,
    *    or a gap in batch ids): one full refit over `trainingPath`,
    *    whose result becomes the totals at batch k.
    *
    * So after any replay the table holds each input row once and the
    * model equals `LinUcb.fit` over the table (up to summation order),
    * with exact `n`. The table and the model belong to the checkpoint:
    * a new checkpoint starts its batch ids at 0 again.
    */
  def retrainLoop(newRows: DataFrame, trainingPath: String,
                  modelPath: String, checkpoint: String, dim: Int,
                  trigger: Trigger =
                    Trigger.ProcessingTime("30 minutes")): StreamingQuery = {
    import graft.ml.LinUcb
    var totals = {
      val spark = newRows.sparkSession
      val saved = new org.apache.hadoop.fs.Path(modelPath)
      if (saved.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(saved)) LinUcb.loadTotals(spark, modelPath)
      else Some(LinUcb.Totals(-1L, Map.empty))
    }
    newRows.writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val spark = batch.sparkSession
        val seen = new Observation()
        LinUcb.observeStats(batch, seen, "action", "obs", "reward", dim)
          .write.mode("overwrite").parquet(s"$trainingPath/batch=$batchId")
        val next = totals match {
          case Some(t) if t.batchId == batchId - 1 => LinUcb.Totals(batchId,
            LinUcb.plus(t.stats, LinUcb.observedStats(seen)))
          case Some(t) if t.batchId == batchId => t
          case _ => LinUcb.Totals(batchId, LinUcb.collectStats(
            spark.read.parquet(trainingPath), "action", "obs", "reward",
            dim))
        }
        totals = Some(next)
        LinUcb.save(spark, LinUcb.solve(next.stats, dim), next, modelPath)
      }
      .start()
  }

  /** Streaming batch scorer + publish (A19/A20): score each micro-batch
    * with the current model and append predictions to a JSON "topic"
    * directory (the in-repo stand-in for Pub/Sub publish,
    * prediction_container/main.py:38-58).
    */
  def scoreAndPublish(stream: DataFrame, model: graft.ml.LinUcb.Model,
                      obsCol: String, topicPath: String,
                      checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime("0 seconds"))
      : StreamingQuery =
    graft.ml.LinUcb.score(model, stream, obsCol)
      .writeStream
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .format("json")
      .option("path", topicPath)
      .start()
}
