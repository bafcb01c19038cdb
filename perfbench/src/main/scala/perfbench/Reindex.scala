package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.RepoFile
import graft.index.{DocIds, IndexConfig, IndexStore, IndexTables, SegmentedBuild}
import graft.oracle.BruteForce
import graft.query.Wand
import graft.tools.Serve

/** The build workload. A seeded CorpusGen window is staged to parquet
  * (input, not timed). Timed: `DocIds.assign` plus `SegmentedBuild.build`
  * into a fresh directory, then `invalidateSegments` for a seeded repo
  * and `SegmentedBuild.build` again. The build layers do all the work;
  * the refresh runs them on one segment, where per-job cost and the
  * all-segment merge dominate. (One repo, so that every seed rebuilds
  * exactly one segment: with two, seeds rebuilt one or two and the
  * refresh time followed that count.)
  *
  * Checks: the refreshed index must hash-equal the full build (index,
  * termStats and norms, order-independent), and the stored index must
  * answer the reference query set as the scalar oracle does. */
object Reindex {
  /** Fixed settings: corpus size, segments, repos the refresh changes,
    * the warm-up build's size and repetitions, and the build config. */
  val Docs = 2000
  val Segments = 4
  val ChangedRepos = 1
  val WarmDocs = 100
  val WarmReps = 2
  val Cfg = IndexConfig(bucketBits = 7, indexPartitions = 4)

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Int,
      work: Path, threads: Int, plant: Boolean, sessionS: Double): Result = {
    import spark.implicits._
    val enc = org.apache.spark.sql.Encoders.product[RepoFile]
    // ---- inputs (not timed)
    val corpus = Inputs.stageReindexCorpus(spark, seed, Docs,
      work.resolve("corpus").toString).as(enc)
    val warmCorpus = Inputs.stageReindexCorpus(spark, seed + 1, WarmDocs,
      work.resolve("warmcorpus").toString).as(enc)
    val files = corpus.collect().toSeq
    val rng = new Inputs.Rng(seed * 7919L + 3)
    val changed = IndexedSeq.fill(ChangedRepos)(
      files(rng.nextInt(files.size)).repo).distinct
    val queries = Serve.QuerySet.toIndexedSeq
    val bf = BruteForce.index(files)
    val expected = queries.map(q =>
      q -> bf.search(q, Int.MaxValue).map(h => (h.docId, h.score))).toMap
    Log("inputs staged, oracle answers computed")

    // ---- set-up (timed): a warm-up build of a small window, repeated
    val warm = (0 until WarmReps).map { i =>
      trace.span(s"setup.warmup.$i", group = s"warm.$i") {
        val a = DocIds.assign(warmCorpus, 4).persist(StorageLevel.MEMORY_AND_DISK)
        a.count()
        SegmentedBuild.build(a, work.resolve(s"warm$i").toString, 1, Cfg)
        a.unpersist(true)
      }._2 / 1e3
    }
    val setupS = sessionS + LoadGen.median(warm)
    Log(s"set-up done: warm-up builds $warm")

    // ---- measured: as many whole full-build + refresh cycles as fit in
    // `seconds` (at least one)
    val t0 = System.nanoTime()
    var failed = 0L
    var attempted = 0L
    var lastCycleS = 0.0
    val cycles = Iterator.from(0).takeWhile(c => c == 0 ||
      (System.nanoTime() - t0) / 1e9 + lastCycleS <= seconds).map { c =>
      val tc = System.nanoTime()
      val dir = work.resolve(s"index$c").toString
      val (assigned, assignMs) = trace.span("DocIds.assign", c, group = s"c$c.docids") {
        val a = DocIds.assign(corpus, 4).persist(StorageLevel.MEMORY_AND_DISK)
        a.count()
        a
      }
      val (_, buildMs) = trace.span("SegmentedBuild.build", c, group = s"c$c.full") {
        SegmentedBuild.build(assigned, dir, Segments, Cfg)
      }
      val fullHash = hashes(IndexStore.read(spark, dir))
      val segTimes = lineageMs(spark, dir)
      val (rebuilt, refreshMs) = trace.span("refresh", c, group = s"c$c.refresh") {
        val segs = SegmentedBuild.invalidateSegments(dir,
          changed.toDF("repo"), Segments)
        if (plant) corruptOneSegment(spark, dir, Segments, segs)
        SegmentedBuild.build(assigned, dir, Segments, Cfg)
        segs.size
      }
      assigned.unpersist(true)
      Log(f"cycle $c: assign ${assignMs / 1e3}%.2f s, build ${buildMs / 1e3}%.2f s, " +
        f"refresh ${refreshMs / 1e3}%.2f s ($rebuilt segments)")
      attempted += 2
      if (hashes(IndexStore.read(spark, dir)) != fullHash) failed += 1
      lastCycleS = (System.nanoTime() - tc) / 1e9
      (assignMs + buildMs, refreshMs, rebuilt, segTimes, dir)
    }.toVector

    // ---- queries on the stored index: each query twice, one at a time
    // (low), then each twice through `threads` concurrent callers (high)
    val dir = cycles.last._5
    val ix = IndexStore.read(spark, dir)
    val dfs = Some(Wand.dfDictionary(ix))
    def ask(q: String): (Boolean, Double) = {
      val t = System.nanoTime()
      val body = Serve.searchJson(ix, q, Inputs.K, "wand", dfs).mkString("[", ",", "]")
      val ms = (System.nanoTime() - t) / 1e6
      (Answers.sameTopK(Answers.parseHits(body), expected(q), Inputs.K), ms)
    }
    val low = (queries ++ queries).map(ask)
    val high = LoadGen.closedLoop(queries ++ queries, threads)(ask)
    Log("query checks done")
    attempted += low.size + high.size
    failed += (low ++ high).count(!_._1)

    val pinnedBytes = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    val buildS = LoadGen.median(cycles.map(_._1 / 1e3))
    val refreshS = LoadGen.median(cycles.map(_._2 / 1e3))
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("query_p50_ms.low", LoadGen.median(low.map(_._2)), "ms"),
      Metric("query_p50_ms.high", LoadGen.median(high.map(_._2)), "ms"),
      Metric("build_files_per_s", Docs / buildS, "1/s"),
      Metric("refresh_s", refreshS, "s"),
      Metric("index_bytes_per_doc",
        SegmentedBuild.dirBytes(dir).toDouble / Docs, "B"))
    val layers = if (!trace.on) Seq.empty else {
      trace.drain()
      val l = trace.listener.get
      val n = cycles.size
      val segSkew = LoadGen.median(cycles.map { c =>
        val t = c._4.sorted
        t.last / math.max(1.0, t(t.size / 2))
      })
      // query layers over the stored index, served like serve-small
      val server = Serve.startHttp(ix, ix.docs, 0, "wand", dfs)
      val queryLayers = try QueryLayers(spark, trace, ix, dfs, queries,
        LoadGen.http(server.getAddress.getPort, Inputs.K), threads, rng,
        highQps = 2.0, seconds)
      finally server.stop(0)
      val rf = Layers.build(l, g => g.endsWith(".refresh"), n)
      def rfS(name: String) = rf.find(_.name == name).map(_.value).getOrElse(0.0)
      queryLayers ++
        Layers.build(l, g => g.endsWith(".docids") || g.endsWith(".full"), n) ++
        Seq(Metric("build.segment_skew", segSkew, "ratio"),
          Metric("refresh.segments_rebuilt",
            LoadGen.median(cycles.map(_._3.toDouble)), "count"),
          Metric("refresh.rebuild_s",
            rfS("build.tokenize_s") + rfS("build.postings_s"), "s"),
          Metric("refresh.merge_s", rfS("build.merge_s"), "s"),
          Metric("pinned_mb", pinnedBytes / 1048576.0, "MB"),
          Metric("trace.query_p50_ms.low", LoadGen.median(low.map(_._2)), "ms"),
          Metric("trace.build_files_per_s", Docs / buildS, "1/s"))
    }
    Result(attempted, failed, metrics, layers, Map(
      "docs" -> Docs, "segments" -> Segments,
      "changed_repos" -> changed.size, "cycles" -> cycles.size,
      "tokens" -> (bf.avgdl * bf.nDocs).round,
      "distinct_terms" -> dfs.map(_.dfs.size).getOrElse(0)))
  }

  private def hashes(t: IndexTables): Seq[String] =
    Seq(t.index, t.termStats, t.norms).map(Answers.tableHash)

  /** Per-segment wall times from the build's lineage rows. */
  private def lineageMs(spark: SparkSession, dir: String): Seq[Double] =
    SegmentedBuild.lineage(spark, dir).select(col("durationMs"))
      .collect().map(_.getLong(0).toDouble).toSeq

  /** The planted fault of the benchmark's self-test: drop one posting
    * row from a segment the refresh does NOT rebuild, so the refreshed
    * index silently differs from the full build. */
  private def corruptOneSegment(spark: SparkSession, dir: String,
      nSegments: Int, invalidated: Seq[Int]): Unit = {
    val seg = (0 until nSegments).find(s => !invalidated.contains(s)).get
    val segDir = s"$dir/segments/seg=$seg"
    val rows = spark.read.parquet(segDir).collect()
    val kept = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.drop(1).toSeq),
      spark.read.parquet(segDir).schema)
    kept.write.mode("overwrite").parquet(s"$segDir.tmp")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(segDir))
    Files.move(Paths.get(s"$segDir.tmp"), Paths.get(segDir))
  }
}
