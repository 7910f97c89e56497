package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.collection.mutable

import graft.serving.PredictionServer

/** The feedback bus handed to `PredictionServer`: the program's own
  * `ndjsonPublisher`, pointed at a fresh segment file every `rotateMs`.
  * A segment is written under a hidden name (leading `_`, which Spark's
  * file source skips) and renamed into view when it is closed, because
  * the file source lists a file once and never re-reads lines appended
  * to it later.
  */
final class Bus(dir: String, rotateMs: Long, tracer: Tracer) {
  Files.createDirectories(Paths.get(dir))

  private val lock = new Object
  private var seg = 0
  private var segLines = 0
  private var lines = 0L
  private var publisher = PredictionServer.ndjsonPublisher(hidden(0))
  private val publishMs = mutable.ArrayBuffer[Double]()
  private val seqOfRequest = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  /** Per closed segment: (epoch ms it became visible, lines published
    * up to and including it).
    */
  private val closedSegs = mutable.ArrayBuffer[(Long, Long)]()

  private def hidden(s: Int) = f"$dir/_seg-$s%06d.ndjson"
  private def visible(s: Int) = f"$dir/seg-$s%06d.ndjson"

  private val timer = Executors.newSingleThreadScheduledExecutor()
  timer.scheduleAtFixedRate(() => rotate(), rotateMs, rotateMs,
    TimeUnit.MILLISECONDS)

  /** The publish callback; only the program's publisher is timed. */
  def publish(line: String): Unit = {
    val seq = lock.synchronized {
      publishMs += tracer.ms("serving.publish")(publisher(line))
      segLines += 1
      lines += 1
      lines - 1
    }
    seqOfRequest.put(Bus.requestIdx(line), seq)
  }

  private def rotate(): Unit = lock.synchronized {
    if (segLines > 0) {
      Files.move(Paths.get(hidden(seg)), Paths.get(visible(seg)),
        StandardCopyOption.ATOMIC_MOVE)
      closedSegs += ((System.currentTimeMillis(), lines))
      seg += 1
      segLines = 0
      publisher = PredictionServer.ndjsonPublisher(hidden(seg))
    }
  }

  /** Stops rotating and closes the open segment. */
  def close(): Unit = {
    timer.shutdown()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    rotate()
  }

  def published: Long = lock.synchronized(lines)
  def publishTimesMs: Seq[Double] = lock.synchronized(publishMs.toSeq)
  def closed: Seq[(Long, Long)] = lock.synchronized(closedSegs.toSeq)
  /** Position of a request's line in publish order. */
  def seqOf(requestIdx: Long): Option[Long] =
    Option(seqOfRequest.get(requestIdx)).map(_.longValue)
}

object Bus {
  /** The request index carried by the first observation value. */
  def requestIdx(line: String): Long = {
    val i = line.indexOf("[[") + 2
    math.round(line.substring(i, line.indexOf(',', i)).toDouble * 1e6)
  }
}
