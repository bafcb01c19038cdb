package graft.tools

import org.apache.spark.sql.SparkSession

import graft.query.{Engine, Wand}

/** Long-lived query driver — the Spark analog of the reference's
  * frontend engine loop (`/root/reference/FrontEnd/engine.cpp:186-269`:
  * load index once, answer queries until shutdown). The index is built
  * (or read) once, every table is cached and pinned, and queries are
  * answered from the warm JVM — so the latency numbers measure SERVING,
  * not cold builds or first-collect JIT.
  *
  * Modes:
  *   `http <sfDir> [port] [scorer]` (default)
  *                              — the reference's HTTP API
  *                                (`GET /api/search?q=...&k=32
  *                                [&scorer=wand|bm25|span]` and
  *                                `GET /api/snippets?ids=...`)
  *   `serve <sfDir> [scorer]`   — REPL: one query per stdin line, JSON
  *                                hits per line (reference response
  *                                shape, `engine.cpp:133-155`)
  */
object Serve {

  val QuerySet: Seq[String] = Seq(
    "parse tree", "state of the machine", "hash table lookup",
    "computer science", "tokenizer", "first day of class")

  val Scorers: Set[String] = Set("wand", "bm25", "span")

  /** A request the CLIENT got wrong (bad parameter) → HTTP 400. Kept
    * distinct from plain IllegalArgumentException on purpose: the
    * engine uses `require` (which throws IAE) for SERVER-side
    * invariants — a misconfigured pinned dictionary must surface as a
    * 500 that alerts, not a 400 that blames the caller. */
  final class BadRequest(msg: String) extends IllegalArgumentException(msg)

  /** Minimal JSON string escaping for error bodies (quotes, backslash,
    * control chars — everything a scorer name or query echo can carry). */
  def jsonEscape(s: String): String =
    Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def jsonString(s: String): String =
    if (s == null) "null" else "\"" + jsonEscape(s) + "\""

  /** One query, any scorer, as JSON hit objects
    * `{"docId":..,"score":..,"repo":..,"path":..}`. "wand" and "bm25"
    * are two names for the same BM25 ranking on the one top-k executor
    * (constraint-aware block-max WAND), formatted here from its hits with
    * no further Spark job; "span" is the reference-parity span ranker.
    * An unknown scorer is a CLIENT error (400), not a MatchError 500. */
  def searchJson(ix: graft.index.IndexTables, q: String, k: Int,
      scorer: String,
      dfs: Option[Wand.DfDict] = None): Array[String] = scorer match {
    case "wand" | "bm25" => Wand.hits(ix, q, k, dfs).map(h =>
      s"""{"docId":${h.docId},"score":${h.score},"repo":${
        jsonString(h.repo)},"path":${jsonString(h.path)}}""")
    case "span"          => Engine.search(ix, q, k, "span").toJSON.collect()
    case other => throw new BadRequest(
      s"unknown scorer '$other' (expected one of ${Scorers.mkString("|")})")
  }

  /** Snippets for docIds — the reference's second route
    * (`/root/reference/FrontEnd/engine.cpp:159-183,254-268`: given
    * result identifiers, return text snippets; urls there, docIds
    * here). */
  def snippetsJson(corpus: org.apache.spark.sql.DataFrame,
      ids: Seq[Long]): Array[String] = {
    import org.apache.spark.sql.functions.{col, substring}
    if (ids.isEmpty) Array.empty
    else corpus.filter(col("docId").isin(ids: _*))
      .select(col("docId"), substring(col("content"), 1, 160).as("snippet"))
      .orderBy(col("docId"))
      .toJSON.collect()
  }

  /** Start the HTTP API on `port` (0 = ephemeral) — the reference's
    * SearchAPI routes and response shape
    * (`FrontEnd/engine.cpp:133-155,186-269`), served from a pinned
    * index:
    *   `GET /api/search?q=...&k=32[&scorer=wand|bm25|span]` →
    *     `{"results":[{docId,score,repo,path}...]}`
    *   `GET /api/snippets?ids=1,2,3` →
    *     `{"results":[{docId,snippet}...]}`
    * JDK built-in httpserver; queries run on a pool of 8 daemon
    * handler threads, `graft-http-N` (Spark handles concurrent actions
    * from multiple threads). Accepted sockets get TCP_NODELAY: the
    * server writes a reply's headers and body as two segments, and with
    * Nagle on the body waits for the client's delayed ACK, about 40 ms
    * a reply. The JDK reads that setting once, when the JVM creates its
    * first HttpServer. Returns the bound server (caller stops it; its
    * idle handler threads do not keep the JVM alive). */
  def startHttp(ix: graft.index.IndexTables,
      corpus: org.apache.spark.sql.DataFrame, port: Int,
      defaultScorer: String = "wand",
      dfs: Option[Wand.DfDict] = None): com.sun.net.httpserver.HttpServer = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    def handler(f: Map[String, String] => String): HttpHandler =
      new HttpHandler {
        def handle(ex: HttpExchange): Unit = {
          val params = Option(ex.getRequestURI.getQuery).getOrElse("")
            .split("&").iterator.map(_.split("=", 2))
            .collect { case Array(k, v) =>
              k -> java.net.URLDecoder.decode(v, "UTF-8") }
            .toMap
          val (status, body) =
            try (200, f(params))
            catch {
              case e: BadRequest =>
                // bad request parameters are the CLIENT's fault; the
                // message names the offending value + the valid set, so
                // it goes in the body (JSON-escaped) — a bare class name
                // would leave the 400 unactionable
                (400, s"""{"error":"BadRequest","message":"${
                  jsonEscape(e.getMessage)}"}""")
              case e: Exception =>
                // 500, not 200: clients/load-balancers must see failures
                (500, s"""{"error":"${e.getClass.getSimpleName}"}""")
            }
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(status, bytes.length.toLong)
          val os = ex.getResponseBody
          try os.write(bytes) finally os.close()
        }
      }
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
    server.createContext("/api/search", handler { params =>
      val q = params.getOrElse("q", "")
      val k = params.get("k").flatMap(_.toIntOption).getOrElse(32)
      val scorer = params.getOrElse("scorer", defaultScorer)
      searchJson(ix, q, k, scorer, dfs).mkString("""{"results":[""", ",", "]}")
    })
    server.createContext("/api/snippets", handler { params =>
      val ids = params.getOrElse("ids", "").split(",")
        .flatMap(_.trim.toLongOption).toSeq
      snippetsJson(corpus, ids).mkString("""{"results":[""", ",", "]}")
    })
    val threads = new java.util.concurrent.atomic.AtomicInteger
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      { (r: Runnable) =>
        val t = new Thread(r, s"graft-http-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      }))
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("http")
    require(mode == "http" || mode == "serve",
      s"unknown mode '$mode' (expected http|serve)")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    // operator-supplied scorer names fail AT STARTUP: a typo'd default
    // must not boot a server that then 400s every scorer-less request
    // (blaming clients for the operator's config — the BadRequest
    // taxonomy is for CLIENT mistakes only), nor silently fall back
    def checkScorer(s: String): String = {
      require(Scorers(s),
        s"unknown scorer '$s' (expected one of ${Scorers.mkString("|")})")
      s
    }
    // http <sfDir> [port] [scorer]; serve <sfDir> [scorer]
    val scorer = checkScorer(
      args.lift(if (mode == "serve") 2 else 3).getOrElse("wand"))
    // the port, too, is checked before the index load it would follow
    val port = if (mode == "serve") 0 else args.lift(2).fold(8080) { p =>
      val n = p.toIntOption.filter(n => n >= 0 && n <= 65535)
      require(n.nonEmpty, s"port '$p' is not an integer in 0..65535")
      n.get
    }

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-serve")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // load once, cache, pin (reference mmap+mlock analog) — the SAME
    // memoized pinned handle the driver contract uses, so a process
    // running both never builds twice and config changes reach both
    val ix = graft.SparkEntry.index(spark, sfDir)
    // snippets source, pinned like the index (reference keeps the doc
    // store mmap'd next to the chunks)
    val corpus = graft.SparkEntry.corpus(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    // df dictionary pinned in the driver, BOUNDED (top-M by df) — the
    // reference mmap's its HashBlob dictionary the same way; saves one
    // cluster job per query while capping driver memory at web-scale
    // vocabularies (misses fall back to a per-query lookup)
    val dfDictMax = sys.env.get("SPARK_GRAFT_DF_DICT_MAX")
      .flatMap(_.toIntOption).getOrElse(1000000)
    val dfDict = Some(Wand.dfDictionary(ix, maxTerms = dfDictMax))

    // JIT + plan-cache warm-up before anything is served: each query
    // once through the BM25 executor, plus the snippets route —
    // nothing cold on the first real request
    QuerySet.foreach(q => searchJson(ix, q, 32, "wand", dfDict))
    snippetsJson(corpus, Seq(0L))

    mode match {
      case "serve" =>
        System.err.println(s"graft-serve ready on $sfDir (scorer=$scorer)")
        Iterator.continually(scala.io.StdIn.readLine())
          .takeWhile(l => l != null && l.trim != ":quit")
          .filter(_.trim.nonEmpty)
          .foreach { q =>
            val t0 = System.nanoTime()
            val json = searchJson(ix, q, 32, scorer, dfDict)
            val ms = (System.nanoTime() - t0) / 1e6
            json.foreach(println)
            System.err.println(f"[$ms%.1f ms] ${json.length} hits")
          }

      case _ =>
        val server = startHttp(ix, corpus, port, scorer, dfDict)
        System.err.println(
          s"graft-serve http on port ${server.getAddress.getPort} " +
            s"(default scorer=$scorer)")
        Thread.currentThread.join() // serve until killed
    }
    spark.stop()
  }
}
