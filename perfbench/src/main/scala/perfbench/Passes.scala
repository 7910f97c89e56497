package perfbench

import scala.collection.mutable

/** One pass of a batch workload: wall ms of each stage, of the whole
  * timed region, and (traced runs only) Spark counter deltas over it.
  */
final case class Pass(stages: Map[String, Double], wallMs: Double,
                      counters: Map[String, Double])

/** The measurement window shared by the batch workloads. */
object Passes {

  /** Runs the cold pass 0 and then warm passes, at least `minWarm`,
    * while the next pass is expected to end within `ctx.seconds` of the
    * window's start. Metrics come from the cold pass: a scheduled
    * pipeline run starts a fresh JVM every time, so that is what it
    * pays; warm passes only feed checks and the record. `work(i)` is the timed region and returns stage
    * times; `after(i)` (untimed) checks outputs and cleans up. A pass
    * that throws counts as a failed operation.
    */
  def loop(ctx: Ctx, out: Outcome, minWarm: Int, maxPasses: Int = 50)
          (work: Int => Map[String, Double])(after: Int => Unit)
      : IndexedSeq[Pass] = {
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer[Pass]()
    var i = 0
    def more: Boolean = i <= minWarm || (i < maxPasses &&
      (System.nanoTime() - t0) / 1e9 + done.lastOption.fold(0.0)(_.wallMs) / 1e3
        <= ctx.seconds)
    while (more) {
      out.attempted += 1
      val before = ctx.counters.map(_.snapshot())
      val fromMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      try {
        val stages = work(i)
        val wall = (System.nanoTime() - p0) / 1e6
        val toMs = System.currentTimeMillis()
        val counters = ctx.counters.fold(Map.empty[String, Double]) { c =>
          SparkCounters.delta(before.get, c.snapshot()) +
            ("spark.driver_gap_ms" -> (wall - c.jobBusyMs(fromMs, toMs)))
        }
        done += Pass(stages, wall, counters)
        after(i)
      } catch {
        case e: Exception =>
          out.failed += 1
          System.err.println(s"[perfbench] pass $i failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    done.toIndexedSeq
  }

  /** The record's view of a pass: stage and wall ms. */
  def detail(ps: Seq[Pass]): Seq[Map[String, Double]] =
    ps.map(p => p.stages + ("wall" -> p.wallMs))
}
