package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig}
import graft.oracle.BruteForce
import graft.tools.Serve

/** The HTTP query API (reference S8: `FrontEnd/engine.cpp:186-269`):
  * GET /api/search?q=... must answer concurrent requests with the
  * reference's JSON hit shape from a pinned index; /api/snippets is the
  * reference's second route; the scorer arg must reach the serving
  * path. */
class HttpServeSpec extends SparkSpec {

  lazy val corpus = DocIds.assign(CorpusGen.generate(spark, 250, 4), 4)
  lazy val ix = IndexBuilder.build(corpus,
    IndexConfig(bucketBits = 6, indexPartitions = 4))

  test("HTTP /api/search + /api/snippets: JSON shape, scorers, concurrency") {
    val server = Serve.startHttp(ix, corpus, 0) // ephemeral port
    try {
      val port = server.getAddress.getPort
      val client = HttpClient.newHttpClient()
      def get(path: String): String =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
            .GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()

      val body = get("/api/search?q=computer%20science&k=5")
      assert(body.startsWith("""{"results":["""), body)
      assert(body.contains("\"docId\"") && body.contains("\"score\"")
        && body.contains("\"repo\"") && body.contains("\"path\""), body)

      // every scorer name is honored end-to-end: each answers boolean
      // queries with the scalar oracle's top-k (wand and bm25 are two
      // names for the same BM25 ranking; span is the reference ranker)
      val oracle = BruteForce.index((0L until 250).map(CorpusGen.genDoc))
      val hit = """"docId":(\d+),"score":([^,}]+)""".r
      Seq("computer science", "hash table NOT parse",
        "\"computer science\"").foreach { q =>
        val enc = java.net.URLEncoder.encode(q, "UTF-8")
        Seq("wand", "bm25", "span").foreach { scorer =>
          val got = hit.findAllMatchIn(
            get(s"/api/search?q=$enc&k=5&scorer=$scorer"))
            .map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq
          val want = oracle.search(q, 5, if (scorer == "span") "span" else "bm25")
          assert(got.nonEmpty, s"$scorer over HTTP for '$q': no hits")
          assert(got.map(_._1) == want.map(_.docId),
            s"$scorer rank over HTTP for '$q'")
          got.zip(want).foreach { case ((_, gs), w) =>
            assert(math.abs(gs - w.score) < 1e-9,
              s"$scorer score over HTTP for '$q'")
          }
        }
      }

      // snippets route: requested docIds come back with content prefixes
      val sn = get("/api/snippets?ids=0,1,2")
      assert(sn.startsWith("""{"results":["""), sn)
      assert(sn.contains("\"docId\":0") && sn.contains("\"snippet\""), sn)
      assert(get("/api/snippets?ids=") == """{"results":[]}""")

      // empty / unparseable query degrades to zero hits, not an error
      assert(get("/api/search?q=") == """{"results":[]}""")

      // a typo'd scorer is the client's fault: 400, not a 500 MatchError
      // — and the body must NAME the bad value + the valid set (a bare
      // class name leaves the 400 unactionable for the caller)
      val bad = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/search?q=x&scorer=wnad"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400, s"${bad.statusCode()}: ${bad.body()}")
      assert(bad.body().contains("error"), bad.body())
      assert(bad.body().contains("wnad") && bad.body().contains("wand"),
        s"400 body must carry the message: ${bad.body()}")

      // keep-alive + pipelining: TWO requests written onto ONE raw
      // socket (the second before the first response is read) must
      // both answer on that same connection — the reference's
      // LinuxTinyServer holds connections the same way, and per-query
      // TCP setup would otherwise dominate the serving loop's syscalls
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        val req = s"GET /api/search?q=hash+table&k=3 HTTP/1.1\r\n" +
          s"Host: 127.0.0.1:$port\r\n\r\n"
        out.write((req + req).getBytes("UTF-8")) // pipelined pair
        out.flush()
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        def readLine(s: java.io.DataInputStream): String = {
          val b = new StringBuilder
          var c = s.read()
          while (c != -1 && c != '\n') { if (c != '\r') b.append(c.toChar); c = s.read() }
          b.toString
        }
        def readResponse(): String = {
          val sb = new StringBuilder
          var line = ""
          var contentLen = -1
          while ({ line = readLine(in); line.nonEmpty }) {
            sb.append(line).append('\n')
            val l = line.toLowerCase
            if (l.startsWith("content-length:"))
              contentLen = l.substring(15).trim.toInt
          }
          assert(contentLen >= 0, s"no Content-Length in:\n$sb")
          val body = new Array[Byte](contentLen)
          in.readFully(body)
          sb.toString + new String(body, "UTF-8")
        }
        val r1 = readResponse()
        val r2 = readResponse() // same socket, no reconnect
        assert(r1.startsWith("HTTP/1.1 200"), r1.take(200))
        assert(r2.startsWith("HTTP/1.1 200"), r2.take(200))
        assert(r1.contains("docId") && r2.contains("docId"))
      } finally sock.close()

      // concurrent requests all succeed with identical results
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val bodies = Await.result(
        Future.sequence((1 to 6).map(_ =>
          Future(get("/api/search?q=hash%20table&k=3")))), 120.seconds)
      assert(bodies.toSet.size == 1 && bodies.head.contains("docId"))
    } finally server.stop(0)
  }

  test("replies are not held for a delayed ACK: keep-alive median < 15 ms") {
    // a route that runs no Spark job: what is left is the server's own
    // cost, well under a millisecond, unless Nagle holds each reply's
    // body until the client's delayed ACK of its headers (40 ms floor)
    val server = Serve.startHttp(ix, corpus, 0)
    try {
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build() // one kept-alive connection
      val req = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/api/snippets?ids="))
        .GET().build()
      val ms = (1 to 20).map { _ =>
        val t = System.nanoTime()
        val body = client.send(req, HttpResponse.BodyHandlers.ofString()).body()
        assert(body == """{"results":[]}""", body)
        (System.nanoTime() - t) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 15, s"request latencies, ms: ${ms.mkString(" ")}")
    } finally server.stop(0)
  }

  test("a stopped server leaves no non-daemon handler threads") {
    import scala.jdk.CollectionConverters._
    def handlers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-http-"))
    val server = Serve.startHttp(ix, corpus, 0)
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/api/snippets?ids="))
        .GET().build()
      (1 to 3).foreach(_ => client.send(req, HttpResponse.BodyHandlers.ofString()))
      assert(handlers.nonEmpty, "requests ran on no graft-http thread")
    } finally server.stop(0)
    assert(handlers.forall(_.isDaemon),
      s"non-daemon handler threads: ${handlers.filterNot(_.isDaemon).mkString(", ")}")
  }

  test("http mode rejects a malformed port before loading the index") {
    // the sfDir does not exist: a port check that ran only after the
    // index load would fail on the missing input instead
    val e = intercept[IllegalArgumentException](
      Serve.main(Array("http", "/nonexistent-sf-dir", "80x80")))
    assert(e.getMessage.contains("port '80x80'"), e.getMessage)
  }
}
