package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{FloatType, LongType}

import graft.Sessions
import graft.streaming.Streams

/** Streaming micro-batch THROUGHPUT measurement — the one performance
  * axis the batch bench can't see. Queues `batches` MemoryStream
  * blocks, drains them with `Trigger.AvailableNow` (one micro-batch
  * per block), and reports drained rows/second for every stateful
  * serving path the engine ships (VERDICT r13 item 3 — the round-6
  * record covered only the first three; the streaming surface has
  * since grown the tws/near-dup/PIT operators):
  *
  *  - windowedAgg: tumbling event-time window + watermark (the A21
  *    consume path)
  *  - runningUserStats: mapGroupsWithState running moments (the A20/A22
  *    feedback-loop state shape)
  *  - rollingStatsTws: transformWithState trailing-window stats on the
  *    RocksDB store (the Spark-4 state API twin of q_rolling_stats)
  *  - heavyHittersTws: per-hash-partition Misra-Gries summaries
  *    (q_heavy_hitters' incremental twin)
  *  - nearDupStream: sign-LSH bucket lookup + exact rescore against a
  *    materialized 100k-signature index (runs at rows/10 — the work
  *    unit is ~occupancy-many qcosine rescores per incoming document,
  *    not one row)
  *  - streamingPointInTime: micro-batched as-of serving against a
  *    bucketed feature table, per-batch parquet sink included (the
  *    serving loop's real cost shape)
  *
  * Rows/s here is single-JVM local[N] with per-batch planning overhead
  * included — at cluster scale the same plans shard by key across
  * executors, so treat the number as a floor for one node, not a
  * ceiling for the engine. Each run appends its JSON line to
  * `sweeps/sweep_stream.jsonl` (SweepLog); sweep at TWO batch sizes
  * (e.g. 100k and 20k rows/micro-batch) to expose the per-batch
  * planning overhead separately from per-row cost. Usage:
  * `runMain graft.tools.StreamBench [rows] [batches] [--nd-bits N]
  * [--parts N] [--store rocksdb|hdfs] [--changelog 1] [--floor 1]`.
  *
  * `--parts N` overrides the shuffle-partition (= state-store
  * partition) count for the run — the A/B knob for the fixed per-batch
  * cost F (VERDICT r15 item 1): every micro-batch opens and commits one
  * RocksDB store instance per partition, so at tiny batches F scales
  * with the partition count, not the data.
  *
  * `--nd-bits N` runs ONLY the near-dup path with the signature-index
  * bucket width overridden to N bits (default: `bitsFor(index)` = 8 at
  * the 100k index) and appends a `"mode":"nd_ab"` row including the
  * expected bucket occupancy — the sizing A/B for the near-dup
  * serving floor (VERDICT r14 item 5): if docs/s moves ~1/occupancy
  * the path is rescore-bound (index-occupancy-bound, expected); if it
  * barely moves, per-batch planning dominates at this batch size.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    // flag parsing: flags may appear anywhere; each takes one value.
    // A trailing flag with no value or a non-flag after the positionals
    // is a usage error, not an ArrayIndexOutOfBounds / silent drop
    // (ADVICE r15).
    val flagNames =
      Set("--nd-bits", "--parts", "--changelog", "--store", "--floor")
    val flags = scala.collection.mutable.Map[String, String]()
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      if (flagNames(args(i))) {
        require(i + 1 < args.length, s"${args(i)} requires a value " +
          "(usage: StreamBench [rows] [batches] [--nd-bits N] [--parts N]" +
          " [--store rocksdb|hdfs] [--changelog 1] [--floor 1])")
        flags(args(i)) = args(i + 1)
        i += 2
      } else {
        require(!args(i).startsWith("--"), s"unknown flag ${args(i)} " +
          "(usage: StreamBench [rows] [batches] [--nd-bits N] [--parts N]" +
          " [--store rocksdb|hdfs] [--changelog 1] [--floor 1])")
        positional += args(i)
        i += 1
      }
    }
    require(positional.size <= 2, s"unexpected extra positional args: " +
      positional.drop(2).mkString(" "))
    val ndBitsOverride = flags.get("--nd-bits").map(_.toInt)
    val nRows = positional.headOption.map(_.toLong).getOrElse(2000000L)
    val nBatches = positional.drop(1).headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // `--parts N` overrides the shuffle-partition count — for stateful
    // streams this is the STATE-STORE partition count (fixed at the
    // first checkpoint): every micro-batch opens+commits one store per
    // partition, so it is the lever on the fixed per-batch cost F the
    // §6.2 two-rate table isolates (VERDICT r15 item 1). The
    // batch-oriented Sessions.shuffleParts sizing is wrong-shaped for
    // micro-batches (their shuffles are batch-sized, not corpus-sized).
    val shuffleParts = flags.get("--parts").map(_.toInt)
      .getOrElse(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt)
        .getOrElse(Sessions.streamShuffleParts(cpus.toInt)))
    val spark = Sessions.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.warehouse.dir", Sessions.tempWarehouse())
        .config("spark.ui.enabled", "false"), shuffleParts)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // transformWithState requires the RocksDB store; use it uniformly
    // so all paths bench the production state backend. `--store hdfs`
    // switches to the default HDFSBackedStateStoreProvider (in-memory
    // map + delta files) and SKIPS the two tws paths (which hard-
    // require RocksDB) — the A/B isolating the RocksDB
    // instance-per-partition share of the fixed per-batch cost F for
    // the light-state paths.
    val store = flags.getOrElse("--store", "rocksdb")
    require(store == "rocksdb" || store == "hdfs",
      s"--store must be rocksdb|hdfs, got $store")
    if (store == "rocksdb") {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    }
    // `--changelog 1`: RocksDB changelog checkpointing — commits write
    // the batch's change set instead of snapshotting the store, the
    // designed mitigation for per-batch commit cost at small batches
    // (the other half of the F A/B, alongside --parts).
    val changelog = flags.get("--changelog").exists(_ == "1")
    // changelog checkpointing is a RocksDB-provider conf: combined with
    // --store hdfs it would silently no-op while the sweep row still
    // recorded "changelog":true, corrupting the A/B record the flag
    // exists to produce (ADVICE r16) — reject the combination.
    require(!changelog || store == "rocksdb",
      "--changelog 1 requires --store rocksdb (the conf is RocksDB-only;" +
        " with hdfs it would no-op while the sweep row recorded true)")
    if (changelog) {
      spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val perBatch = (nRows / nBatches).toInt
    val users = 10000L
    val t0 = 1700000000L
    val total = nBatches.toLong * perBatch

    // queue ALL blocks first (AvailableNow snapshots the queued offsets
    // at start), then time start→termination: pure drain throughput
    def timeDrain(rows: Long)(start: () => org.apache.spark.sql.streaming
        .StreamingQuery): Double = {
      val begin = System.nanoTime()
      val q = start()
      q.awaitTermination()
      rows.toDouble / ((System.nanoTime() - begin) / 1e9)
    }

    // near-dup serving path, parameterized on bucket bits so the
    // `--nd-bits` A/B reuses the exact benched pipeline. Static
    // 100k-signature index, incoming docs at rows/10 (each incoming doc
    // triggers ~occupancy bucket-mates' worth of exact qcosine
    // rescoring — the per-ROW work is ~occupancy 64-dim integer dot
    // products, so the meaningful rate is docs/s).
    val dim = 64
    def vec(i: Long): Array[Float] = {
      val a = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        // xxhash-free cheap deterministic mix; unit-scale irrelevant
        // (qcosine normalizes)
        a(j) = (((i * 2654435761L + j * 40503L) % 1000L) / 1000.0f) - 0.5f
        j += 1
      }
      a
    }
    val nIdx = 100000L
    def nearDupRate(ndBits: Int): Double = {
      val idxDf = spark.range(nIdx).select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => ((pmod(xxhash64(col("id"), j, lit(7)), lit(1000L))
            .cast("double") / 1000.0) - 0.5).cast(FloatType))
          .as("embedding"))
      val sigs = graft.text.Similarity.signatures(
        idxDf, "id", "embedding", ndBits).cache()
      sigs.count() // materialize the index outside the timed drain
      val ndTotal = math.max(nBatches.toLong, total / 10)
      val ndPerBatch = (ndTotal / nBatches).toInt
      val ndIn = MemoryStream[(Long, Array[Float])]
      (0L until nBatches).foreach { b =>
        ndIn.addData((0 until ndPerBatch).map { j =>
          val i = b * ndPerBatch + j
          (nIdx + i, vec(i))
        })
      }
      val rps = timeDrain(nBatches.toLong * ndPerBatch)(() =>
        Streams.nearDupStream(ndIn.toDF().toDF("id", "embedding"),
            sigs, "id", "embedding", minCosine = 0.6, bits = ndBits)
          .writeStream.format("memory")
          .queryName(s"sb_nd_$ndBits")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      sigs.unpersist()
      rps
    }

    ndBitsOverride.foreach { b =>
      val rps = nearDupRate(b)
      val occ = nIdx / (1L << b)
      SweepLog.append("stream",
        s"""{"mode":"nd_ab","rows":$total,"batches":$nBatches,""" +
        s""""parts":$shuffleParts,"changelog":$changelog,""" +
        s""""nd_bits":$b,"expected_occupancy":$occ,""" +
        s""""near_dup_kdocs_s":${(rps / 1000).round}}""")
      spark.stop()
      return
    }

    // `--floor 1`: F-floor decomposition (VERDICT r16 item 8). The r16
    // partition A/B proved ~1/4 of windowedAgg's fixed per-batch cost F
    // is state-store open/commit (scales with partitions); this mode
    // measures the RESIDUAL directly with two stateless streams at the
    // same two-rate protocol:
    //  - passthrough: narrow projection, no shuffle, no state → pure
    //    per-batch planning + offset/commit-log + task dispatch
    //  - shuffle_noop: one repartition(parts) exchange, still no state
    //    store → adds the per-batch shuffle machinery
    // windowedAgg's F minus shuffle_noop's F is then the true
    // state+window-specific share. Run at two batch sizes like the
    // stateful table (t_batch = F + n·c).
    if (flags.get("--floor").exists(_ == "1")) {
      def feed(): MemoryStream[(Long, Double)] = {
        val in = MemoryStream[(Long, Double)]
        (0L until nBatches).foreach { b =>
          in.addData((0 until perBatch).map { j =>
            val i = b * perBatch + j
            (i % users, (i % 97).toDouble)
          })
        }
        in
      }
      // warm drain (one small stream, untimed): the FIRST streaming
      // query in a JVM pays one-time engine/JIT init that the stateful
      // table amortizes across six paths — without this the
      // passthrough read 92 krows/s while the shuffle variant after it
      // read 246, inverting the decomposition this mode exists for
      val warmIn = MemoryStream[(Long, Double)]
      warmIn.addData((0 until 1000).map(i => (i.toLong, 1.0)))
      warmIn.toDF().toDF("user_id", "value")
        .repartition(shuffleParts, col("user_id"))
        .select(col("user_id"), (col("value") * 2).as("v2"))
        .writeStream.format("memory").queryName("sb_floor_warm")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      // Build + queue ALL blocks BEFORE the timed thunk — timeDrain's
      // contract (and every other mode's practice). feed() inside the
      // thunk counted driver-side generation + MemoryStream encoding of
      // the full row set (2M at the large rate) in the drain window,
      // which is what inverted the r17 floor rows (shuffle_noop
      // "faster" than passthrough in 2 of 3 rows — ADVICE r17; those
      // rows are annotated superseded in sweep_stream.jsonl).
      val ptIn = feed()
      val ptRps = timeDrain(total)(() =>
        ptIn.toDF().toDF("user_id", "value")
          .select(col("user_id"), (col("value") * 2).as("v2"))
          .writeStream.format("memory").queryName("sb_floor_pt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      val shIn = feed()
      val shRps = timeDrain(total)(() =>
        shIn.toDF().toDF("user_id", "value")
          .repartition(shuffleParts, col("user_id"))
          .select(col("user_id"), (col("value") * 2).as("v2"))
          .writeStream.format("memory").queryName("sb_floor_sh")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
      SweepLog.append("stream",
        s"""{"mode":"floor","rows":$total,"batches":$nBatches,""" +
        s""""per_batch":$perBatch,"parts":$shuffleParts,""" +
        s""""passthrough_krows_s":${(ptRps / 1000).round},""" +
        s""""shuffle_noop_krows_s":${(shRps / 1000).round}}""")
      spark.stop()
      return
    }

    val winIn = MemoryStream[(Timestamp, Long, Double)]
    (0L until nBatches).foreach { b =>
      winIn.addData((0 until perBatch).map { j =>
        val i = b * perBatch + j
        (new Timestamp((t0 + i / 600) * 1000L), i % users, 1.0)
      })
    }
    val winRps = timeDrain(total)(() =>
      Streams.windowedAgg(winIn.toDF().toDF("ts", "user_id", "value"),
          "ts", "user_id", "value", "1 minute")
        .writeStream.format("memory").queryName("sb_win")
        .outputMode("update").trigger(Trigger.AvailableNow()).start())

    val mgsIn = MemoryStream[(Long, Double)]
    (0L until nBatches).foreach { b =>
      mgsIn.addData((0 until perBatch).map { j =>
        val i = b * perBatch + j
        (i % users, (i % 97).toDouble)
      })
    }
    val mgsRps = timeDrain(total)(() =>
      Streams.runningUserStats(mgsIn.toDS())
        .writeStream.format("memory").queryName("sb_mgs")
        .outputMode("update").trigger(Trigger.AvailableNow()).start())

    // the two transformWithState paths hard-require the RocksDB store
    val twsRps = if (store != "rocksdb") None else Some {
      val twsIn = MemoryStream[(Long, Long, Long, Long)]
      (0L until nBatches).foreach { b =>
        twsIn.addData((0 until perBatch).map { j =>
          val i = b * perBatch + j
          // (user, id, ts_s, x) — ts monotone non-decreasing so the
          // trailing-window replay matches the processor's contract
          (i % users, i, t0 + i / 600, i % 97)
        })
      }
      timeDrain(total)(() =>
        Streams.rollingStatsTws(twsIn.toDS(), windowSec = 3600L)
          .writeStream.format("memory").queryName("sb_tws")
          .outputMode("append").trigger(Trigger.AvailableNow()).start())
    }

    // heavy hitters: 40% of rows from a 37-term hot head, the rest
    // from a 20011-term tail — the skew shape Misra-Gries is for
    val hhRps = if (store != "rocksdb") None else Some {
      val hhIn = MemoryStream[String]
      (0L until nBatches).foreach { b =>
        hhIn.addData((0 until perBatch).map { j =>
          val i = b * perBatch + j
          if (i % 5 < 2) s"t${i % 37}" else s"t${i % 20011}"
        })
      }
      timeDrain(total)(() =>
        Streams.heavyHittersTws(hhIn.toDS(), k = 64, partitions = 32)
          .writeStream.format("memory").queryName("sb_hh")
          .outputMode("update").trigger(Trigger.AvailableNow()).start())
    }

    val ndRps = nearDupRate(graft.text.Similarity.bitsFor(nIdx))

    // streaming PIT serving: 1M-row bucketed feature history (200k
    // entities × 5 versions), query stream as-of joined per micro-batch
    // against the bucketed table in place, per-batch parquet sink
    // included
    val nEnt = 200000L
    val featDf = spark.range(nEnt * 5).select(
      (col("id") % nEnt).as("user_id"),
      timestamp_seconds(lit(t0) + (col("id") / nEnt) * 86400L)
        .as("feature_ts"),
      (col("id") % 997).cast("double").as("rating"))
    graft.io.Bucketing.writeBucketed(featDf, "sb_pit_feat", "user_id", 32)
    val pitRoot = java.nio.file.Files
      .createTempDirectory("sb_pit").toString
    val pitIn = MemoryStream[(Long, Timestamp)]
    (0L until nBatches).foreach { b =>
      pitIn.addData((0 until perBatch).map { j =>
        val i = b * perBatch + j
        (i % nEnt, new Timestamp((t0 + (i % 7) * 86400L) * 1000L))
      })
    }
    val pitRps = timeDrain(total)(() =>
      new graft.feature.FeatureStore(spark,
          s"$pitRoot/store").streamingPointInTime(
        "sb_pit_feat", pitIn.toDF().toDF("user_id", "as_of"),
        "user_id", "as_of", Seq("rating"),
        s"$pitRoot/out", s"$pitRoot/ckpt", Trigger.AvailableNow()))
    spark.sql("DROP TABLE IF EXISTS sb_pit_feat")

    def k(r: Option[Double]): String =
      r.map(v => (v / 1000).round.toString).getOrElse("null")
    SweepLog.append("stream",
      s"""{"rows":$total,"batches":$nBatches,"per_batch":$perBatch,""" +
      s""""parts":$shuffleParts,"changelog":$changelog,""" +
      s""""store":"$store",""" +
      s""""windowed_agg_krows_s":${(winRps / 1000).round},""" +
      s""""map_groups_state_krows_s":${(mgsRps / 1000).round},""" +
      s""""tws_rolling_krows_s":${k(twsRps)},""" +
      s""""tws_heavy_hitters_krows_s":${k(hhRps)},""" +
      s""""near_dup_kdocs_s":${(ndRps / 1000).round},""" +
      s""""pit_serving_krows_s":${(pitRps / 1000).round}}""")
    spark.stop()
  }
}
