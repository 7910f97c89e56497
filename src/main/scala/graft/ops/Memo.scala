package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** The one per-JVM memo for shared intermediates: guard estimates, the
  * IVF coarse quantizer, the bucketed PIT feature table, inferred
  * parquet schemas, and the parquet artifacts of expensive results
  * (the co-supply projection, the dedup clustering). A production
  * pipeline computes these once and shares them; here they live for
  * the JVM.
  *
  * An entry is only as fresh as its [[key]]. The key folds in, for
  * every input `DataFrame`, what a canonical plan string alone misses:
  * the rows of in-memory relations, the RDD behind an RDD-backed one,
  * and the identity (path, length, mtime) of every file a file
  * relation scans. Two parquet paths of
  * the same schema print the same canonical plan, so without the file
  * identity a guard priced on a small corpus would pass a large one;
  * with it, a different or rewritten input is a different key.
  */
object Memo {

  /** One entry. Its computation runs under the cell's own lock, never
    * under the map's: computations nest (a clustering artifact prices
    * its pair guard through this memo), and `computeIfAbsent` forbids
    * touching the map from inside its function. A computation that
    * throws leaves the cell unfilled and [[value]] drops it, so a guard
    * refusal repeats on every call.
    */
  private final class Cell(private var compute: () => Any) {
    private var result: Any = _
    def get: Any = synchronized {
      if (compute != null) { result = compute(); compute = null }
      result
    }
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** Key of a computation over `inputs` with `params` (whose
    * `toString` must identify them). Per input: the canonicalized
    * analyzed plan, the rows of each `LocalRelation`, the id of each
    * RDD a relation wraps, and (path, length, mtime) of each scanned
    * file, read from the relation's already-listed file index — no IO,
    * no Spark job. A file index that holds no listing (a
    * catalog-partitioned table) contributes its root paths. Hashed, so
    * a large table's file list gives a short key.
    */
  def key(inputs: Seq[DataFrame], params: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    params.foreach(p => add(String.valueOf(p)))
    inputs.foreach { df =>
      val plan = df.queryExecution.analyzed
      add(plan.canonicalized.toString)
      plan.collectWithSubqueries {
        case l: LocalRelation => Seq(l.data.map(_.hashCode).mkString(","))
        case r: LogicalRDD => Seq(s"rdd:${r.rdd.id}")
        case r: ExternalRDD[_] => Seq(s"rdd:${r.rdd.id}")
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location match {
            case i: PartitioningAwareFileIndex => i.allFiles().map(f =>
              s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
            case i => i.rootPaths.map(_.toString)
          }
          case _ => Nil
        }
      }.flatten.foreach(add)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The value under `key`, computing it on the first call. */
  def value[T](key: String)(compute: => T): T = {
    val cell = cells.computeIfAbsent(key, _ => new Cell(() => compute))
    try cell.get.asInstanceOf[T]
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** One directory holds every parquet artifact of this JVM and is
    * deleted when the JVM exits: an entry never outlives its JVM.
    */
  private lazy val artifactRoot =
    graft.Sessions.tempDirDeletedOnExit("graft_memo")

  /** A parquet-backed copy of `build`, written at most once per `key`.
    * Writing truncates the plan: re-deriving a loop or self-join result
    * through `.persist()` drags a nested-cache lineage that Spark
    * re-plans (and can re-execute) on every reuse. The schema is kept
    * with the path, so a hit reads the artifact without a
    * footer-inference job.
    */
  def parquet(key: String)(build: => DataFrame): DataFrame = {
    val spark = SparkSession.active
    val (dir, schema) = value(key) {
      val df = build
      val dir = java.nio.file.Files
        .createTempDirectory(artifactRoot, "artifact").toString
      // REBALANCE: coalesce the write to advisory-size files; an
      // artifact that inherits 32 tiny files costs every consumer scan
      // a reader setup per split (~0.4-0.5 s per q_graph_degree run).
      df.hint("rebalance").write.mode("overwrite").parquet(dir)
      (dir, spark.read.parquet(dir).schema)
    }
    spark.read.schema(schema).parquet(dir)
  }
}
