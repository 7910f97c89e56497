package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.FloatType

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
  * ceiling for the engine. The run uses the deployment's streaming
  * sizing, `Sessions.streamShuffleParts(cpus)` state-store partitions
  * on the RocksDB store; the partition-count, HDFS-store, changelog,
  * stateless-floor and near-dup bucket-width A/Bs are settled (the
  * `Sessions.streamShuffleParts` scaladoc, `sweeps/sweep_stream.jsonl`).
  * Each run prints its JSON line and appends it, timestamped, to
  * `sweeps/sweep_stream.jsonl` under the working directory; run at TWO
  * batch sizes (e.g. 100k and 20k rows/micro-batch) to separate the
  * per-batch planning overhead from the per-row cost. Usage:
  * `runMain graft.tools.StreamBench [rows] [batches]`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val usage = "usage: StreamBench [rows] [batches]"
    args.find(_.startsWith("--")).foreach(f =>
      throw new IllegalArgumentException(s"unknown flag $f ($usage)"))
    require(args.length <= 2, s"unexpected extra arguments: " +
      s"${args.drop(2).mkString(" ")} ($usage)")
    val nRows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleParts = Sessions.streamShuffleParts(cpus.toInt)
    val spark = Sessions.tuned(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.warehouse.dir", Sessions.tempWarehouse())
        .config("spark.ui.enabled", "false"), shuffleParts)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // transformWithState requires the RocksDB store; use it uniformly
    // so all paths bench the production state backend
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
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

    val twsIn = MemoryStream[(Long, Long, Long, Long)]
    (0L until nBatches).foreach { b =>
      twsIn.addData((0 until perBatch).map { j =>
        val i = b * perBatch + j
        // (user, id, ts_s, x) — ts monotone non-decreasing so the
        // trailing-window replay matches the processor's contract
        (i % users, i, t0 + i / 600, i % 97)
      })
    }
    val twsRps = timeDrain(total)(() =>
      Streams.rollingStatsTws(twsIn.toDS(), windowSec = 3600L)
        .writeStream.format("memory").queryName("sb_tws")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())

    // heavy hitters: 40% of rows from a 37-term hot head, the rest
    // from a 20011-term tail — the skew shape Misra-Gries is for
    val hhIn = MemoryStream[String]
    (0L until nBatches).foreach { b =>
      hhIn.addData((0 until perBatch).map { j =>
        val i = b * perBatch + j
        if (i % 5 < 2) s"t${i % 37}" else s"t${i % 20011}"
      })
    }
    val hhRps = timeDrain(total)(() =>
      Streams.heavyHittersTws(hhIn.toDS(), k = 64, partitions = 32)
        .writeStream.format("memory").queryName("sb_hh")
        .outputMode("update").trigger(Trigger.AvailableNow()).start())

    // near-dup serving path: static 100k-signature index at
    // `bitsFor(index)` bucket bits, incoming docs at rows/10 (each
    // incoming doc triggers ~occupancy bucket-mates' worth of exact
    // qcosine rescoring — the per-ROW work is ~occupancy 64-dim integer
    // dot products, so the meaningful rate is docs/s).
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
    val ndBits = graft.text.Similarity.bitsFor(nIdx)
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
    val ndRps = timeDrain(nBatches.toLong * ndPerBatch)(() =>
      Streams.nearDupStream(ndIn.toDF().toDF("id", "embedding"),
          sigs, "id", "embedding", minCosine = 0.6, bits = ndBits)
        .writeStream.format("memory").queryName("sb_nd")
        .outputMode("append").trigger(Trigger.AvailableNow()).start())
    sigs.unpersist()

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

    def k(rps: Double): Long = (rps / 1000).round
    val record =
      s"""{"rows":$total,"batches":$nBatches,"per_batch":$perBatch,""" +
      s""""parts":$shuffleParts,""" +
      s""""windowed_agg_krows_s":${k(winRps)},""" +
      s""""map_groups_state_krows_s":${k(mgsRps)},""" +
      s""""tws_rolling_krows_s":${k(twsRps)},""" +
      s""""tws_heavy_hitters_krows_s":${k(hhRps)},""" +
      s""""near_dup_kdocs_s":${k(ndRps)},""" +
      s""""pit_serving_krows_s":${k(pitRps)}}"""
    println(record)
    // best-effort: the printed line is the measurement, so a failed
    // append must not fail the run
    try {
      val ts = java.time.Instant.now().toString
      val sweeps = java.nio.file.Paths.get("sweeps")
      java.nio.file.Files.createDirectories(sweeps)
      java.nio.file.Files.write(sweeps.resolve("sweep_stream.jsonl"),
        (record.stripSuffix("}") + s""","ts":"$ts"}""" + "\n")
          .getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[StreamBench] sweep append failed: $e")
    }
    spark.stop()
  }
}
