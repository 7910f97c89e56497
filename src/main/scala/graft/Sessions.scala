package graft

import org.apache.spark.sql.SparkSession

/** Recommended SparkSession configuration for this engine at cluster
  * scale, with the rationale each knob encodes. Local harness mains
  * (Verify/Bench) use their own minimal conf; a production deployment
  * starts from [[tuned]].
  */
object Sessions {

  /** @param shufflePartitions size to ~2-3× total executor cores at the
    *        target scale (e.g. 8192 for 1000 executors × 4 cores) so
    *        AQE has partitions to coalesce DOWN from; too few starves
    *        parallelism, far too many drowns the scheduler. This is a
    *        per-DEPLOYMENT sizing, not a fixed multiplier of cores: the
    *        gen-sf100 sweep measured both failure modes on the same
    *        host — at partitions=cores=32, q_sql_text3's 600M-row sort
    *        ran ~19M rows/partition and spilled so hard the warm run
    *        was slower than the cold one (85 s vs 67 s; 256 partitions:
    *        47 s, exactly linear vs sf30); while a blanket
    *        initialPartitionNum=8×cores regressed the full sf0.1 suite
    *        34 % host-normalized (256-way sorts on kB-sized shuffles —
    *        AQE coalescing reduces reducer-side reads, not the 256 sort
    *        spill files every map task still writes). The local harness
    *        mains read SPARK_GRAFT_SHUFFLE_PARTS to apply the formula
    *        per scale decade the same way a cluster deployment would.
    */
  def tuned(builder: SparkSession.Builder,
            shufflePartitions: Int): SparkSession.Builder =
    builder
      // AQE replans at runtime from observed stage statistics: picks
      // broadcast joins late, coalesces small shuffle partitions, and
      // splits skewed ones — the first line of defense at 100 TB where
      // static estimates are always wrong somewhere.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE rewrite sort-merge joins to shuffled-hash at runtime
      // when every post-shuffle partition's build side is measured
      // under this threshold (Spark default 0 = never). The band joins
      // in this engine are merge-HINTED because Generate's size
      // estimate passes through the un-exploded child and static
      // planning would broadcast a multi-GB side; this threshold is
      // the measured-size counterpart — AQE sees the REAL map output
      // sizes, so small band tables skip the per-partition sort while
      // corpus-scale ones keep merging. 64 MB default matches the AQE
      // advisory partition size: a build side that fits one advisory
      // partition fits the hash table. SPARK_GRAFT_SHJ_THRESHOLD
      // overrides per deployment (bytes; 0 restores pure sort-merge).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD",
          (64 * 1024 * 1024).toString).toLong)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // 10 MB default is conservative; dims in this schema (region,
      // nation, feature registries, LinUCB models) are far below 64 MB
      // and a broadcast join beats a shuffle join by the full shuffle.
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // 128 MB splits balance scan parallelism against per-task
      // overhead; with maxPartitionBytes × cores ≈ executor memory the
      // vectorized reader never forces spill on scan.
      .config("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
      // zstd: ~30% smaller than snappy at similar read cost — at 100 TB
      // the scan is IO-bound, so smaller wins.
      .config("spark.sql.parquet.compression.codec", "zstd")
      // runtime bloom-filter join pruning: when a selective dim-side
      // filter survives to the join, Spark builds a bloom filter from
      // the dim keys at runtime and pushes a might-contain predicate
      // into the fact-side SCAN — at 100 TB this prunes fact row
      // groups before the shuffle, which a static optimizer cannot do
      // (it doesn't know the surviving key set). Explicit rather than
      // default-dependent; RuntimeFilterSpec pins the injection.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // dynamic partition overwrite is what Streams.upsertLoop relies
      // on to rewrite only touched buckets.
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.sql.session.timeZone", "UTC")

  /** Shuffle-partition count for the local harness mains: `cpus`
    * unless SPARK_GRAFT_SHUFFLE_PARTS overrides it — the per-scale
    * sizing hook the [[tuned]] scaladoc's formula calls for (scale
    * sweeps at gen-sf ≥ 30 pass 256; the sf0.1 driver bench keeps
    * partitions = cores).
    */
  def shuffleParts(cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse(cpus)

  /** Shuffle-partition (= state-store partition) count for STREAMING
    * micro-batch deployments: `cpus / 2`, floor 4. Micro-batch shuffles
    * are batch-sized, not corpus-sized, so the batch heuristics above
    * are wrong-shaped for them: every micro-batch opens and commits one
    * RocksDB store per partition, making the fixed per-batch cost F
    * scale with the partition count. Measured (r16 two-rate StreamBench
    * A/B, sweeps/sweep_stream.jsonl): windowedAgg F = 0.42/0.38/0.33 s
    * per batch at parts 32/16/8 on 32 cores, marginal per-row rate
    * unchanged; parts = cpus/2 won or tied every serving path at both
    * 20k and 100k rows/batch except transformWithState rolling stats at
    * 100k (−6 %), while parts = cpus/4 capped that state-heavy path
    * (165→113 krows/s). RocksDB changelog checkpointing was also A/B'd
    * and REJECTED for local-disk checkpoints (uniformly worse at 100k:
    * windowedAgg 101→94, PIT 545→482 krows/s — snapshot upload is
    * already cheap locally; the changelog only adds write overhead).
    * The partition count is fixed at the first checkpoint — set this
    * before starting a stateful query, not after.
    */
  def streamShuffleParts(cpus: Int): Int = math.max(cpus / 2, 4)

  /** Shuffle-partition count AUTO-SIZED from the input data: `cpus` for
    * small inputs, growing one partition per 64 MB of compressed
    * parquet once the sf dir outgrows `cpus × 64 MB`. 64 MB zstd
    * parquet ≈ 200–250 MB raw ≈ ~2M rows of the widest fact table per
    * partition — an order of magnitude under the measured sort-spill
    * point (the gen-sf100 sweep: 600M-row sort at 19M rows/partition
    * spilled so hard warm ran slower than cold; at 256 partitions it
    * was exactly linear vs sf30 — this formula yields 288 there, the
    * same regime). Below the knee the count stays `cpus`, where the
    * blanket 8×cores experiment measured a 34 % sf0.1 regression from
    * per-map sort-spill file count. SPARK_GRAFT_SHUFFLE_PARTS still
    * overrides — the deployment knob wins over the heuristic.
    */
  def shuffleParts(cpus: Int, sfDir: String): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTS").map(_.toInt).getOrElse {
      math.max(cpus, (inputBytes(sfDir) / (64L << 20)).toInt)
    }

  /** Total compressed bytes of the parquet files under `dir` (each
    * table is either a bare `<name>.parquet` file or a Spark output
    * directory of part files — walk covers both). Unreadable/missing
    * dirs size as 0 so session construction never fails on sizing.
    */
  def inputBytes(dir: String): Long = {
    import java.nio.file.{FileVisitResult, Files, Path, Paths}
    import java.nio.file.attribute.BasicFileAttributes
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) 0L
    else {
      // walkFileTree (not Files.walk): an unreadable subdirectory or a
      // file vanishing mid-walk (concurrent GenData staging dir) hits
      // visitFileFailed and the walk CONTINUES, so bytes already summed
      // are retained instead of collapsing the whole size to 0 — which
      // would silently plan a multi-TB input at the CPU-floor shuffle
      // partition count (ADVICE r13). Failures are counted and warned.
      var sum = 0L
      var failed = 0L
      // Dedup by REAL path: FOLLOW_LINKS loop detection only catches
      // ancestor cycles — two sibling symlinks resolving to the same
      // parquet would otherwise double-count its bytes and inflate the
      // shuffle-partition sizing (ADVICE r15; symlinked corpus layouts
      // are exactly what FOLLOW_LINKS was added for). An unresolvable
      // path counts by its visible identity rather than being dropped.
      // Trade-off (ADVICE r16): the dedup assumes each real file is
      // read ONCE. If two sibling symlinks are registered as two
      // DISTINCT tables (e.g. lineitem and orders both linked to one
      // parquet), Spark scans the bytes once per table while sizing
      // counts them once — an under-count by the duplication factor.
      // Accepted: that layout is degenerate, the heuristic floors at
      // `cpus` partitions regardless, and the old behavior (counting
      // per link) over-sized the common one-table-per-link case.
      val seen = scala.collection.mutable.HashSet[Path]()
      // FOLLOW_LINKS: a NOFOLLOW walk sees a symlinked parquet as a
      // symlink (attrs.isRegularFile = false) and silently sizes an
      // sf dir built from symlinks as ~0 — the CPU-floor sizing this
      // method exists to avoid (ADVICE r14). walkFileTree detects
      // link cycles itself (FileSystemLoopException → visitFileFailed,
      // counted + warned below, walk continues).
      val walk = scala.util.Try(
        Files.walkFileTree(root,
          java.util.EnumSet.of(java.nio.file.FileVisitOption.FOLLOW_LINKS),
          Integer.MAX_VALUE, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(p: Path,
                               attrs: BasicFileAttributes): FileVisitResult = {
          if (attrs.isRegularFile &&
            p.getFileName.toString.endsWith(".parquet")) {
            val real = scala.util.Try(p.toRealPath()).getOrElse(p)
            if (seen.add(real)) sum += attrs.size()
          }
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(p: Path,
                                     e: java.io.IOException): FileVisitResult = {
          failed += 1; FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(p: Path,
                                        e: java.io.IOException): FileVisitResult =
          FileVisitResult.CONTINUE // swallow dir-iteration errors too
      }))
      if (failed > 0 || walk.isFailure) {
        System.err.println(s"[graft] inputBytes($dir): $failed " +
          s"entries unreadable mid-walk" +
          walk.failed.toOption.map(e => s"; walk aborted: $e")
            .getOrElse("") +
          s"; shuffle sizing uses the $sum bytes that WERE summed")
      }
      sum
    }
  }

  /** A per-JVM throwaway `spark.sql.warehouse.dir`, deleted on JVM
    * exit. Harness mains (Verify/Bench) and the test session use this
    * so managed tables (bucketed PIT memos, spec tables) never land in
    * the repo's `spark-warehouse/`, where they outlive the catalog and
    * wedge later runs with LOCATION_ALREADY_EXISTS or pile up on disk.
    */
  def tempWarehouse(): String =
    tempDirDeletedOnExit("graft-warehouse").toUri.toString

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it when the JVM exits.
    */
  def tempDirDeletedOnExit(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir
  }
}
