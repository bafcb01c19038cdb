package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.index.IndexTables
import graft.oracle.BruteForce
import graft.query.Wand
import graft.tools.Serve

/** The serving workload (serve-small): `Serve.startHttp` over the index
  * `SparkEntry.index` builds and pins from a 5,000-doc documents table,
  * queried over HTTP with the reference query set and its boolean forms,
  * so every query repeats. Spark's fixed per-query cost (DataFrame
  * construction, planning, jobs, the cogroup exchange) is almost all of
  * the latency; cursor work is tiny.
  *
  * The timed phases are closed loops: one connection (low), then `nproc`
  * connections (high). Open-loop arrivals at fixed rates of 1-3 queries/s
  * were tried first: on a shared 4-vCPU machine their per-run medians
  * spread by 30-90 % between runs (an idle machine's latency follows its
  * co-tenants and vCPU wake-ups), beyond any usable bound. The traced run
  * still drives an open-loop phase for per-query waiting and the
  * generator's lateness.
  */
object Serving {
  /** Fixed settings. The low (one-connection) phase gets `LowShare` of
    * the measured seconds. `TracedQps`, the traced run's open-loop rate,
    * is under half of this commit's throughput with 4 connections on 4
    * cores (about 5 queries/s). */
  val Docs = 5000
  val LowShare = 0.5
  val TracedQps = 2.0
  val SetupReps = 4
  val WarmRounds = 3

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Int,
      work: Path, threads: Int, plant: Boolean, sessionS: Double): Result = {
    // ---- inputs (not timed): one copy of the documents table per
    // set-up repetition, so each repetition is a fresh SparkEntry.index
    val dirs = (0 until SetupReps).map(i => work.resolve(s"docs$i").toString)
    Inputs.writeSmallDocuments(spark, seed, Docs, dirs.head)
    dirs.tail.foreach(d => copyTree(Paths.get(dirs.head), Paths.get(d)))
    val rng = new Inputs.Rng(seed * 7919L + 1)
    def draw() = IndexedSeq.fill(1000)(
      Inputs.SmallQueries(rng.nextInt(Inputs.SmallQueries.size)))
    val lowQs = draw()
    val highQs = draw()
    Log("inputs written")

    // ---- set-up (timed): build + pin + df dictionary, repeated (the
    // last repetition is the one served), then server start + warm-up
    var ix: IndexTables = null
    var dfs: Option[Wand.DfDict] = None
    val builds = dirs.zipWithIndex.map { case (d, i) =>
      // drop the previous repetition's pinned tables and IndexBuilder's
      // own cached intermediates, so storage holds one index at a time
      spark.catalog.clearCache()
      val (_, buildMs) = trace.span(s"setup.build.$i") {
        ix = trace.span("SparkEntry.index", group = s"build.$i.construct") {
          SparkEntry.index(spark, d)
        }._1
        Seq("docs" -> ix.docs, "index" -> ix.index,
          "termstats" -> ix.termStats, "norms" -> ix.norms).foreach {
          case (n, t) => trace.span(s"pin.$n", group = s"build.$i.$n")(t.count())
        }
      }
      val (_, dictMs) = trace.span("Wand.dfDictionary", group = s"dfdict.$i") {
        dfs = Some(Wand.dfDictionary(ix))
      }
      Log(f"set-up build $i: ${buildMs / 1e3}%.2f s + df dict ${dictMs / 1e3}%.2f s")
      (buildMs / 1e3, (buildMs + dictMs) / 1e3)
    }
    val pinnedBytes = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val (server, startMs) = trace.span("Serve.startHttp") {
      Serve.startHttp(ix, SparkEntry.corpus(spark, dirs.last), 0, "wand", dfs)
    }
    try {
      val call = LoadGen.http(server.getAddress.getPort, Inputs.K) _
      val warmQs = Vector.fill(WarmRounds)(Inputs.SmallQueries).flatten
      val (_, warmMs) = trace.span("setup.warmup", group = "warmup") {
        LoadGen.closedLoop(warmQs, threads)(call)
      }
      val buildS = LoadGen.median(builds.map(_._1))
      val refreshS = LoadGen.median(builds.map(_._2))
      val setupS = sessionS + refreshS + (startMs + warmMs) / 1e3
      Log(f"set-up done: warm-up ${warmMs / 1e3}%.2f s")

      // ---- expected answers, from the scalar oracle (not timed)
      val oracle = bruteForce(spark, dirs.last)
      val expected = Inputs.SmallQueries.map(q => q -> oracle(q)).toMap
      Log("oracle answers computed")

      // ---- measured phases
      val low = LoadGen.closedLoopFor(lowQs, 1, seconds * LowShare, call)
      val high = LoadGen.closedLoopFor(highQs, threads,
        seconds * (1 - LowShare), call)
      Log("measured phases done")
      Seq("low" -> low, "high" -> high).foreach { case (n, ds) =>
        Log(s"$n phase latencies, ms in send order: " +
          ds.map(d => f"${d.latencyMs}%.0f").mkString(" "))
      }

      def failed(d: Done): Boolean = d.status != 200 || {
        val hits = Answers.parseHits(d.body)
        val served = if (plant && d.i % 5 == 0) plantWrong(hits) else hits
        !Answers.sameTopK(served, expected(d.q), Inputs.K)
      }
      val all = low ++ high
      val lowMs = low.map(_.latencyMs)
      val highMs = high.map(_.latencyMs)
      val metrics = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("query_p50_ms.low", LoadGen.median(lowMs), "ms"),
        Metric("query_p50_ms.high", LoadGen.median(highMs), "ms"),
        Metric("build_files_per_s", Docs / buildS, "1/s"),
        Metric("refresh_s", refreshS, "s"),
        Metric("index_bytes_per_doc", pinnedBytes.toDouble / Docs, "B"))
      val layers = if (!trace.on) Seq.empty else
        QueryLayers(spark, trace, ix, dfs, Inputs.SmallQueries, call, threads,
          rng, TracedQps, seconds) ++
        Layers.build(trace.listener.get, _.startsWith("build."), SetupReps) ++
        Layers.noRefresh ++ Seq(
          Metric("pinned_mb", pinnedBytes / 1048576.0, "MB"),
          Metric("trace.query_p50_ms.low", LoadGen.median(lowMs), "ms"),
          Metric("trace.build_files_per_s", Docs / buildS, "1/s"))
      Result(all.size, all.count(failed), metrics, layers, Map(
        "docs" -> Docs, "avg_doc_len" -> ix.stats.avgDocLen,
        "distinct_terms" -> dfs.map(_.dfs.size).getOrElse(0),
        "requests_low" -> low.size, "requests_high" -> high.size,
        "qps_high" -> high.size / (seconds * (1 - LowShare)),
        "repeated_share" ->
          (1.0 - all.map(_.q).distinct.size.toDouble / all.size),
        "query_p90_ms_low" -> LoadGen.percentile(lowMs, 0.9),
        "query_p90_ms_high" -> LoadGen.percentile(highMs, 0.9),
        "pinned_mb" -> pinnedBytes / 1048576.0,
        "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._1).sum / 1048576.0))
    } finally server.stop(0)
  }

  private def plantWrong(hits: Seq[(Long, Double)]): Seq[(Long, Double)] =
    if (hits.isEmpty) Seq((0L, 1.0))
    else hits.updated(0, (hits.head._1 + 1000000L, hits.head._2))

  /** Expected hits from the scalar oracle, with its docIds mapped back to
    * the corpus's docIds (the oracle numbers docs by (repo, path)). */
  private def bruteForce(spark: SparkSession,
      dir: String): String => Seq[(Long, Double)] = {
    val rows = SparkEntry.corpus(spark, dir).collect()
    val files = rows.map(r => graft.RepoFile(r.getString(1), r.getString(2),
      r.getString(3), r.getString(4), r.getString(5))).toSeq
    val idOf = rows.map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    val bf = BruteForce.index(files)
    q => bf.search(q, Int.MaxValue).map { h =>
      val f = bf.docs(h.docId.toInt).file
      (idOf((f.repo, f.path)), h.score)
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}
