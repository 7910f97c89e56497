package perfbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

/** One request of an open-loop step. Times are `System.nanoTime`;
  * `status` is the HTTP status, or -1 for a timeout or broken connection.
  */
final case class Req(idx: Long, dueNs: Long, sendNs: Long, recvNs: Long,
                     recvWallMs: Long, status: Int) {
  def latencyMs: Double = (recvNs - dueNs) / 1e6
  def lateMs: Double = (sendNs - dueNs) / 1e6
  def ok: Boolean = status == 200
}

/** Open-loop HTTP/1.1 load generator over a fixed pool of keep-alive
  * connections. Request i of a step is due at start + i/rate whether or
  * not earlier ones have finished; a connection takes the next due
  * request as soon as it is free, so a slow server shows up as requests
  * sent late. Sockets keep their default options.
  */
final class LoadGen(port: Int, connections: Int, timeoutMs: Int,
                    tracer: Tracer) {

  private final class Conn {
    private var sock: Socket = _
    private var in: InputStream = _

    def exchange(body: Array[Byte]): Int = {
      if (sock == null) {
        sock = new Socket("localhost", port)
        sock.setSoTimeout(timeoutMs)
        in = new BufferedInputStream(sock.getInputStream)
      }
      val head = s"POST /predict HTTP/1.1\r\nHost: localhost:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n"
      val msg = new ByteArrayOutputStream(head.length + body.length)
      msg.write(head.getBytes(StandardCharsets.US_ASCII))
      msg.write(body)
      sock.getOutputStream.write(msg.toByteArray)
      sock.getOutputStream.flush()
      val status = line().split(' ')(1).toInt
      var length = 0
      var h = line()
      while (h.nonEmpty) {
        if (h.toLowerCase.startsWith("content-length:")) length = h.drop(15).trim.toInt
        h = line()
      }
      in.readNBytes(length)
      status
    }

    private def line(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new IOException("connection closed")
        if (c != '\r') b.append(c.toChar)
        c = in.read()
      }
      b.toString
    }

    def close(): Unit = {
      if (sock != null) try sock.close() catch { case _: IOException => () }
      sock = null
    }
  }

  private val conns = Array.fill(connections)(new Conn)

  /** Sends `bodies` at `rate` per second; request ids start at `firstIdx`. */
  def step(rate: Double, firstIdx: Long,
           bodies: IndexedSeq[Array[Byte]]): IndexedSeq[Req] = {
    val n = bodies.size
    val res = new Array[Req](n)
    val next = new AtomicInteger(0)
    val t0 = System.nanoTime() + 2000000L
    val threads = conns.map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) {
          val due = t0 + (i * 1e9 / rate).toLong
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          val status =
            try tracer.timed("serving.request")(c.exchange(bodies(i)))._1
            catch { case _: Exception => c.close(); -1 }
          res(i) = Req(firstIdx + i, due, now, System.nanoTime(),
            System.currentTimeMillis(), status)
          i = next.getAndIncrement()
        }
      }, "perfbench-loadgen")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    res.toIndexedSeq
  }

  def close(): Unit = conns.foreach(_.close())
}
