package graft.serving

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException,
  IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, Executors,
  RejectedExecutionException, TimeUnit}

import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.core.{JsonFactoryBuilder, StreamReadFeature,
  StreamWriteFeature}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode

import graft.ml.LinUcb

/** Low-latency prediction endpoint — the serving layer the reference
  * runs as a FastAPI container on a Vertex endpoint
  * (prediction_container/main.py:16-93). Same HTTP contract:
  *
  *  - GET  healthRoute  -> `{}` (main.py:29-35)
  *  - POST predictRoute -> body `{"instances": [{"observation":
  *    [[f,...],...]}, ...]}`, response `{"predictions": [{"PolicyStep
  *    i": [action,...]}, ...]}` (main.py:61-93); every request also
  *    publishes `{"observations": ..., "predicted_actions":
  *    [{"predicted_action": [...]}, ...]}` to the feedback bus
  *    (main.py:38-58 publishes to Pub/Sub; here the bus is the NDJSON
  *    file stream graft.streaming.Streams consumes — same loop, local
  *    transport).
  *  - Errors answer `{"error": <exception class>, "message": ...}`:
  *    `400` when the request body is malformed (not JSON, no
  *    `instances` or `observation` array, an observation shorter than
  *    the model's dimension), `500` when the server fails (the feedback
  *    publish throws), `404` for any other path.
  *
  * Dependency-free: a small HTTP/1.1 server on JDK sockets + the Jackson
  * that already ships on Spark's classpath. The policy itself is
  * [[LinUcb.Model.act]] — pure driver-side math, microseconds per
  * lookup, no Spark session in the request path (batch scoring stays
  * the distributed `LinUcb.score`).
  *
  * Each accepted connection gets its own thread, which blocks reading
  * the next request, answers it and loops (keep-alive, until the client
  * closes, asks to close, or sends nothing for 30 s).
  * A request costs one wake-up of one thread and one write of the whole
  * response (status line, headers and body together), and every socket
  * runs with TCP_NODELAY so that write leaves at once rather than
  * waiting for the client's delayed ACK of earlier data. Doubles are
  * parsed and printed with Jackson's fast double codecs; the feedback
  * line reuses the request's observation nodes. Request bodies need a
  * `Content-Length` (`411` otherwise) of at most 16 MiB (`413`);
  * `Expect: 100-continue` is honoured; every method is accepted on both
  * routes.
  *
  * Why not the JDK's `com.sun.net.httpserver`: it writes a response's
  * headers and body as two writes (with Nagle on, the body then waits
  * ~40 ms for the client's delayed ACK, capping a back-to-back
  * keep-alive connection at ~22 requests/s), its socket options are
  * JVM-wide system properties read once, and one dispatcher thread
  * answers every connection, so a descheduled dispatcher stalls all
  * clients. With NODELAY forced on and four busy threads on a 4-CPU
  * host, two closed-loop clients got ~1.8k requests/s from it against
  * ~5.2k from this server — and the feedback loop's Spark tasks and JIT
  * keep the CPUs busy exactly while it serves.
  *
  * `publish` runs on the connection threads, so concurrently when
  * several clients are connected: it must be thread-safe
  * ([[PredictionServer.ndjsonPublisher]] is).
  */
final class PredictionServer(model: LinUcb.Model,
                             publish: String => Unit,
                             healthRoute: String = "/health",
                             predictRoute: String = "/predict") {
  import PredictionServer._

  private val mapper = new ObjectMapper(new JsonFactoryBuilder()
    .enable(StreamReadFeature.USE_FAST_DOUBLE_PARSER)
    .enable(StreamWriteFeature.USE_FAST_DOUBLE_WRITER)
    .build())
  private val listener = new ServerSocket()
  listener.bind(new InetSocketAddress(0))
  private val connections = ConcurrentHashMap.newKeySet[Socket]()
  private val threads = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "prediction-server")
    t.setDaemon(true)
    t
  }

  def start(): Unit = threads.execute(() => acceptLoop())

  /** Bound port (ephemeral — pass to clients after [[start]]). */
  def port: Int = listener.getLocalPort

  /** Closes the listening socket and every open connection, then waits
    * (up to 10 s) for the requests in flight to finish.
    */
  def stop(): Unit = {
    listener.close()
    connections.forEach(s => closeQuietly(s))
    threads.shutdown()
    threads.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def acceptLoop(): Unit =
    while (!listener.isClosed) {
      Try(listener.accept()).foreach { socket =>
        connections.add(socket)
        try threads.execute(() => serve(socket))
        catch { case _: RejectedExecutionException => closeQuietly(socket) }
      }
    }

  /** Answers the requests of one connection in order. */
  private def serve(socket: Socket): Unit =
    try {
      socket.setTcpNoDelay(true)
      socket.setSoTimeout(IdleTimeoutMs)
      val in = new BufferedInputStream(socket.getInputStream)
      val out = socket.getOutputStream
      var open = !listener.isClosed
      while (open) {
        try {
          readRequest(in, out) match {
            case None => open = false
            case Some(req) =>
              val (code, body) = route(req)
              open = req.keepAlive
              out.write(response(code, body, open,
                withBody = req.method != "HEAD"))
          }
        } catch {
          case e: HttpError =>
            out.write(response(e.code, errorBody(e), keepAlive = false))
            open = false
            // Closing with unread request bytes would reset the
            // connection, which can discard the answer before the client
            // reads it: half-close, then drain until the client closes.
            socket.shutdownOutput()
            socket.setSoTimeout(LingerMs)
            val sink = new Array[Byte](8192)
            while (in.read(sink) >= 0) ()
        }
      }
    } catch {
      case _: IOException => () // the client left, idled out, or stop()
    } finally {
      connections.remove(socket)
      closeQuietly(socket)
    }

  private def route(req: Request): (Int, String) =
    if (req.path == healthRoute) (200, "{}")
    else if (req.path == predictRoute)
      Try(predict(new String(req.body, StandardCharsets.UTF_8))) match {
        case Failure(e) => (400, errorBody(e))
        case Success((feedback, response)) => Try(publish(feedback)) match {
          case Failure(e) => (500, errorBody(e))
          case Success(_) => (200, response)
        }
      }
    else (404, errorBody(new HttpError(404, s"no route ${req.path}")))

  /** Scores one request body: (feedback line, response body). */
  private def predict(request: String): (String, String) = {
    val instances = mapper.readTree(request).get("instances")
      .asInstanceOf[ArrayNode]
    val predictions = mapper.createArrayNode()
    val predictedActions = mapper.createArrayNode()
    var idx = 0
    instances.forEach { inst =>
      val obs = inst.get("observation").asInstanceOf[ArrayNode]
      val actions = mapper.createArrayNode()
      obs.forEach { row =>
        val x = new Array[Double](row.size())
        var i = 0
        while (i < x.length) { x(i) = row.get(i).asDouble(); i += 1 }
        actions.add(model.act(x))
      }
      predictions.add(mapper.createObjectNode()
        .set[ArrayNode](s"PolicyStep $idx", actions))
      predictedActions.add(mapper.createObjectNode()
        .set[ArrayNode]("predicted_action", actions))
      idx += 1
    }
    val feedback = mapper.createObjectNode()
    feedback.set[ArrayNode]("observations", instances)
    feedback.set[ArrayNode]("predicted_actions", predictedActions)
    val resp = mapper.createObjectNode()
    resp.set[ArrayNode]("predictions", predictions)
    (mapper.writeValueAsString(feedback), mapper.writeValueAsString(resp))
  }

  private def errorBody(e: Throwable): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("error", e.getClass.getSimpleName)
      .put("message", e.getMessage))
}

object PredictionServer {
  /** A connection with no request for this long is closed. */
  private val IdleTimeoutMs = 30000
  private val MaxBodyBytes = 16 << 20
  private val MaxLineBytes = 8192
  /** How long a refused request's remaining bytes are drained. */
  private val LingerMs = 1000

  private final case class Request(method: String, path: String,
                                   body: Array[Byte], keepAlive: Boolean)

  /** Answered with `code`, after which the connection is closed. */
  private final class HttpError(val code: Int, message: String)
    extends Exception(message)

  /** The next request on a connection; None when the client closed it
    * between requests.
    */
  private def readRequest(in: InputStream,
                          out: OutputStream): Option[Request] = {
    var line = readLine(in)
    while (line != null && line.isEmpty) line = readLine(in)
    if (line == null) return None
    val parts = line.split(' ')
    if (parts.length != 3 || !parts(2).startsWith("HTTP/1."))
      throw new HttpError(400, s"malformed request line: $line")
    var length = 0L
    var chunked = false
    var expectContinue = false
    var keepAlive = parts(2) != "HTTP/1.0"
    var header = readLine(in)
    while (header != null && header.nonEmpty) {
      val colon = header.indexOf(':')
      if (colon <= 0) throw new HttpError(400, s"malformed header: $header")
      val value = header.substring(colon + 1).trim.toLowerCase(Locale.ROOT)
      header.substring(0, colon).trim.toLowerCase(Locale.ROOT) match {
        case "content-length" =>
          length = value.toLongOption.filter(_ >= 0).getOrElse(
            throw new HttpError(400, s"bad Content-Length: $value"))
        case "transfer-encoding" => chunked = true
        case "expect" => expectContinue = value == "100-continue"
        case "connection" =>
          if (value.contains("close")) keepAlive = false
          else if (value.contains("keep-alive")) keepAlive = true
        case _ =>
      }
      header = readLine(in)
    }
    if (header == null) throw new EOFException("connection closed in headers")
    if (chunked)
      throw new HttpError(411, "send the request body with a Content-Length")
    if (length > MaxBodyBytes)
      throw new HttpError(413, s"request body over $MaxBodyBytes bytes")
    if (expectContinue && length > 0)
      out.write("HTTP/1.1 100 Continue\r\n\r\n".getBytes(StandardCharsets.US_ASCII))
    val body = in.readNBytes(length.toInt)
    if (body.length < length) throw new EOFException("connection closed in body")
    val target = parts(1)
    val query = target.indexOf('?')
    Some(Request(parts(0), if (query < 0) target else target.take(query),
      body, keepAlive))
  }

  /** One CRLF- (or LF-) terminated line; null at end of stream. */
  private def readLine(in: InputStream): String = {
    val buf = new ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b != '\n') {
      if (b < 0) throw new EOFException("connection closed in a line")
      if (buf.size() >= MaxLineBytes)
        throw new HttpError(400, s"line over $MaxLineBytes bytes")
      if (b != '\r') buf.write(b)
      b = in.read()
    }
    buf.toString(StandardCharsets.ISO_8859_1)
  }

  /** Status line, headers and body as one buffer (one write); without
    * the body (an answer to HEAD), the headers still give its length.
    */
  private def response(code: Int, body: String, keepAlive: Boolean,
                       withBody: Boolean = true): Array[Byte] = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val head = (s"HTTP/1.1 $code ${reason(code)}\r\n" +
      "Content-Type: application/json\r\n" +
      s"Content-Length: ${bytes.length}\r\n" +
      (if (keepAlive) "" else "Connection: close\r\n") + "\r\n")
      .getBytes(StandardCharsets.US_ASCII)
    if (!withBody) return head
    val msg = java.util.Arrays.copyOf(head, head.length + bytes.length)
    System.arraycopy(bytes, 0, msg, head.length, bytes.length)
    msg
  }

  private def reason(code: Int): String = code match {
    case 200 => "OK"
    case 400 => "Bad Request"
    case 404 => "Not Found"
    case 411 => "Length Required"
    case 413 => "Content Too Large"
    case _ => "Internal Server Error"
  }

  private def closeQuietly(s: Socket): Unit =
    try s.close() catch { case _: IOException => () }

  /** The local feedback bus: append one JSON line per prediction to an
    * NDJSON file — the exact source shape `Streams`' logger loop and
    * `FeatureStore.streamingImport` consume. The parent directory is
    * created once, here; each line opens, appends and closes the file,
    * one line at a time (callers may publish from several threads).
    */
  def ndjsonPublisher(path: String): String => Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val lock = new Object
    line => {
      val bytes = (line + "\n").getBytes(StandardCharsets.UTF_8)
      lock.synchronized {
        Files.write(p, bytes, StandardOpenOption.CREATE,
          StandardOpenOption.APPEND)
      }
    }
  }
}
