package graft.serving

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException,
  InputStream, OutputStream}
import java.net.{Socket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import graft.ml.LinUcb

/** End-to-end serving contract: health, predict (reference request/
  * response shapes), deterministic agreement with the batch scorer, the
  * published feedback line on the NDJSON bus, error statuses,
  * back-to-back requests on one keep-alive connection, concurrent
  * clients, and the HTTP/1.1 framing cases the server handles itself.
  */
class PredictionServerSpec extends SparkSpec {
  import spark.implicits._

  private def trainedModel(): LinUcb.Model = {
    val rnd = new scala.util.Random(5)
    val rows = Seq.tabulate(300) { i =>
      val x = Array.fill(4)(rnd.nextDouble() * 2 - 1)
      val a = i % 3
      val r = x(a % 4) + 0.1 * rnd.nextDouble()
      (a, x.toSeq, r)
    }
    LinUcb.fit(rows.toDF("action", "obs", "reward"), "action", "obs",
      "reward", dim = 4, alpha = 0.3, lambda = 1.0)
  }

  private def predictBody(obs: Seq[Seq[Double]]): String =
    s"""{"instances":[{"observation":[${obs.map(_.mkString("[", ",", "]")).mkString(",")}]}]}"""

  private def post(port: Int, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/predict"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  /** Writes one HTTP/1.1 request with a Content-Length on a raw socket. */
  private def send(out: OutputStream, method: String, path: String,
                   body: String, headers: String = ""): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    out.write((s"$method $path HTTP/1.1\r\nHost: localhost\r\n$headers" +
      s"Content-Length: ${bytes.length}\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII) ++ bytes)
    out.flush()
  }

  /** Reads one HTTP/1.1 response with a Content-Length: (status, body);
    * a response to HEAD carries no body, whatever its Content-Length.
    */
  private def readResponse(in: InputStream,
                           head: Boolean = false): (Int, String) = {
    def line(): String = {
      val buf = new ByteArrayOutputStream()
      var b = in.read()
      while (b != '\n') {
        if (b < 0) throw new IOException("connection closed mid-response")
        if (b != '\r') buf.write(b)
        b = in.read()
      }
      buf.toString(StandardCharsets.US_ASCII)
    }
    val status = line().split(' ')(1).toInt
    var length = 0
    var header = line()
    while (header.nonEmpty) {
      val Array(k, v) = header.split(":", 2)
      if (k.equalsIgnoreCase("Content-Length")) length = v.trim.toInt
      header = line()
    }
    if (head) (status, "")
    else (status, new String(in.readNBytes(length), StandardCharsets.UTF_8))
  }

  test("serves health + predictions in the reference contract and " +
      "publishes the feedback message") {
    val model = trainedModel()
    val bus = Files.createTempDirectory("srv").resolve("feedback.ndjson")
    val server = new PredictionServer(model,
      PredictionServer.ndjsonPublisher(bus.toString))
    server.start()
    try {
      val client = HttpClient.newHttpClient()
      val health = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${server.port}/health")).GET()
          .build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body() == "{}")

      val obs = Seq(Seq(0.5, -0.2, 0.9, 0.1), Seq(-0.8, 0.3, 0.0, 0.7))
      val resp = post(server.port, predictBody(obs))
      assert(resp.statusCode() == 200)
      val expected = obs.map(o => model.act(o.toArray))
      assert(resp.body() ==
        s"""{"predictions":[{"PolicyStep 0":[${expected.mkString(",")}]}]}""")

      // point lookups agree with the distributed batch scorer (A19)
      val batch = LinUcb.score(model,
          obs.zipWithIndex.map { case (o, i) => (i.toLong, o) }
            .toDF("id", "obs"), "obs")
        .orderBy("id").select("predicted_action")
        .as[Int].collect().toSeq
      assert(batch == expected)

      // the feedback bus got exactly one NDJSON line with both halves
      val lines = Files.readAllLines(bus)
      assert(lines.size() == 1)
      assert(lines.get(0).contains("\"observations\"") &&
        lines.get(0).contains(
          s""""predicted_action":[${expected.mkString(",")}]"""))
    } finally server.stop()
  }

  test("malformed request returns 400, not a crash") {
    val server = new PredictionServer(trainedModel(), _ => ())
    server.start()
    try {
      val resp = post(server.port, "not json")
      assert(resp.statusCode() == 400)
      assert(new ObjectMapper().readTree(resp.body()).get("error").asText()
        .nonEmpty)
    } finally server.stop()
  }

  test("a failing feedback publish returns 500 with the escaped message") {
    val server = new PredictionServer(trainedModel(),
      _ => throw new IOException("bus \"down\"\n"))
    server.start()
    try {
      val resp = post(server.port, predictBody(Seq(Seq(0.5, -0.2, 0.9, 0.1))))
      assert(resp.statusCode() == 500)
      val err = new ObjectMapper().readTree(resp.body())
      assert(err.get("error").asText() == "IOException")
      assert(err.get("message").asText() == "bus \"down\"\n")
    } finally server.stop()
  }

  test("one keep-alive connection serves back-to-back requests without " +
      "waiting for the client's delayed ACK") {
    // With Nagle on, the response body (written after the headers) waits
    // for the client's delayed ACK: ~40 ms per request on Linux.
    val model = trainedModel()
    val server = new PredictionServer(model, _ => ())
    server.start()
    val socket = new Socket("localhost", server.port)
    try {
      val in = new BufferedInputStream(socket.getInputStream)
      val out = socket.getOutputStream
      val roundTripsMs = (0 until 60).map { i =>
        val obs = Seq(i / 60.0, -0.2, 0.9 - i / 60.0, 0.1)
        val t0 = System.nanoTime()
        send(out, "POST", "/predict", predictBody(Seq(obs)),
          "Content-Type: application/json\r\n")
        val (status, resp) = readResponse(in)
        val ms = (System.nanoTime() - t0) / 1e6
        assert(status == 200)
        assert(resp ==
          s"""{"predictions":[{"PolicyStep 0":[${model.act(obs.toArray)}]}]}""")
        ms
      }
      val median = roundTripsMs.sorted.apply(roundTripsMs.size / 2)
      assert(median < 15.0, s"median round trip $median ms")
    } finally {
      socket.close()
      server.stop()
    }
  }

  test("serves two keep-alive clients at once, one bus line per request") {
    val model = trainedModel()
    val bus = Files.createTempDirectory("srv").resolve("feedback.ndjson")
    val server = new PredictionServer(model,
      PredictionServer.ndjsonPublisher(bus.toString))
    server.start()
    val n = 50
    try {
      val clients = (0 until 2).map { c =>
        Future {
          val socket = new Socket("localhost", server.port)
          try {
            val in = new BufferedInputStream(socket.getInputStream)
            (0 until n).map { i =>
              val obs = Seq(c.toDouble, i / n.toDouble, 0.5, -0.5)
              send(socket.getOutputStream, "POST", "/predict",
                predictBody(Seq(obs)))
              readResponse(in) == ((200,
                s"""{"predictions":[{"PolicyStep 0":[${model.act(obs.toArray)}]}]}"""))
            }
          } finally socket.close()
        }
      }
      assert(clients.flatMap(Await.result(_, 60.seconds)).forall(identity))
      val lines = Files.readAllLines(bus).asScala
      assert(lines.size == 2 * n)
      val mapper = new ObjectMapper()
      assert(lines.map(l => mapper.readTree(l).get("observations").get(0)
        .get("observation").get(0).get(0).asDouble()).groupBy(identity)
        .map { case (c, ls) => c -> ls.size } == Map(0.0 -> n, 1.0 -> n))
    } finally server.stop()
  }

  test("answers HTTP/1.1 framing cases: 404, HEAD, 100-continue, " +
      "chunked bodies refused") {
    val model = trainedModel()
    val server = new PredictionServer(model, _ => ())
    server.start()
    val socket = new Socket("localhost", server.port)
    try {
      val in = new BufferedInputStream(socket.getInputStream)
      val out = socket.getOutputStream
      send(out, "GET", "/nowhere", "")
      val (missing, err) = readResponse(in)
      assert(missing == 404 &&
        new ObjectMapper().readTree(err).get("message").asText()
          .contains("/nowhere"))

      send(out, "HEAD", "/health", "")
      assert(readResponse(in, head = true) == ((200, "")))

      // the body follows only once the server asked for it
      val obs = Seq(0.5, -0.2, 0.9, 0.1)
      val body = predictBody(Seq(obs)).getBytes(StandardCharsets.UTF_8)
      out.write(("POST /predict?trace=1 HTTP/1.1\r\nHost: localhost\r\n" +
        s"Expect: 100-continue\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
      assert(readResponse(in)._1 == 100)
      out.write(body)
      out.flush()
      assert(readResponse(in) == ((200,
        s"""{"predictions":[{"PolicyStep 0":[${model.act(obs.toArray)}]}]}""")))

      out.write(("POST /predict HTTP/1.1\r\nHost: localhost\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n2\r\n{}\r\n0\r\n\r\n")
        .getBytes(StandardCharsets.US_ASCII))
      out.flush()
      assert(readResponse(in)._1 == 411)
      assert(in.read() == -1, "connection closed after a refused body")
    } finally {
      socket.close()
      server.stop()
    }
  }
}
