package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig, IndexStore}

/** Physical-plan guarantees that carry the 100 TB story: term lookups
  * must push predicates into the Parquet scan (the columnar analog of
  * the reference's HashBlob dictionary probe), BM25 paths must not read
  * position blobs (column pruning), and the hot paths must stay inside
  * whole-stage codegen. */
class PlanSpec extends SparkSpec {

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-store").toString
    val corpus = DocIds.assign(CorpusGen.generate(spark, 200, 4), 4)
    val ix = IndexBuilder.build(corpus,
      IndexConfig(bucketBits = 5, indexPartitions = 4))
    IndexStore.write(ix, d)
    d
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("term filter is pushed down to the Parquet scan") {
    val ix = IndexStore.read(spark, dir)
    val q = ix.index.filter(col("field") === "body" && col("term") === "hash")
      .select(col("term"), col("bucket"), col("n"))
    val plan = formatted(q)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(term,hash)"), plan)
  }

  test("BM25 read path prunes the positions column") {
    val ix = IndexStore.read(spark, dir)
    val q = ix.index.filter(col("term") === "hash")
      .select(col("term"), col("docIds"), col("tfs"))
    val plan = formatted(q)
    val readSchema = plan.linesIterator
      .filter(_.trim.startsWith("ReadSchema")).mkString
    assert(!readSchema.contains("positions"), readSchema)
    assert(readSchema.contains("docIds"), readSchema)
  }

  test("non-phrase WAND serving path prunes the positions column") {
    val ix = IndexStore.read(spark, dir)
    val dfs = Some(graft.query.Wand.dfDictionary(ix))
    // a phrase-free query decodes no posting's positions in any shard
    Seq("computer science", "hash table NOT parse", "(parse OR tree) AND if")
      .foreach { q =>
        val parts = graft.query.Wand.partitionHits(ix, q, 10, dfs)
        assert(parts.nonEmpty && parts.forall(_.positionsDecoded == 0),
          s"'$q' decoded ${parts.map(_.positionsDecoded).sum} position lists")
      }
    // while a phrase query legitimately decodes them
    assert(graft.query.Wand.partitionHits(ix, "\"computer science\"", 10, dfs)
      .map(_.positionsDecoded).sum > 0, "phrase query decoded no positions")
  }

  /** Runs `f` in its own job group; returns its value, the Spark jobs it
    * ran, the tasks those jobs ran, the shuffle bytes those tasks read
    * and wrote, and the stages that ran tasks. */
  private def anatomy[T](f: => T): (T, Int, Int, Long, Int) = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"anatomy-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          ran.add(e.stageId)
          if (e.taskMetrics != null)
            shuffleBytes.addAndGet(
              e.taskMetrics.shuffleReadMetrics.totalBytesRead +
                e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "anatomy")
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.get, tasks.get, shuffleBytes.get, ran.size)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private val hitRe = """"docId":(\d+),"score":([^,}]+)""".r
  private def parsed(lines: Seq[String]): Seq[(Long, Double)] =
    hitRe.findAllMatchIn(lines.mkString)
      .map(m => (m.group(1).toLong, m.group(2).toDouble)).toSeq

  /** The scalar oracle's top-k over a `documents.parquet` dir, in the
    * docIds [[SparkEntry.corpus]] gives the documents. */
  private def oracleOf(sfDir: String): (String, Int) => Seq[(Long, Double)] = {
    val rows = SparkEntry.corpus(spark, sfDir).collect()
    val files = rows.map(r => RepoFile(r.getString(1), r.getString(2),
      r.getString(3), r.getString(4), r.getString(5))).toSeq
    val idOf = rows.map(r => (r.getString(1), r.getString(2)) -> r.getLong(0))
      .toMap
    val bf = graft.oracle.BruteForce.index(files)
    (q, k) => bf.search(q, k).map { h =>
      val f = bf.docs(h.docId.toInt).file
      (idOf((f.repo, f.path)), h.score)
    }
  }

  private def assertSameHits(got: Seq[(Long, Double)],
      want: Seq[(Long, Double)], what: String): Unit = {
    assert(got.nonEmpty && got.map(_._1) == want.map(_._1), what)
    got.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-9, what)
    }
  }

  /** A documents.parquet in the driver's testdata shape, with docIds
    * 0 until `texts.size`. */
  private def documentsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val sfDir = Files.createTempDirectory("graft-docs").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, s"repo${i % 5}", "txt", t) }
      .toDF("doc_id", "source", "lang", "text")
      .write.parquet(s"$sfDir/documents.parquet")
    sfDir
  }

  test("pinned serving: one job, no shuffle, only the four tables cached") {
    // a documents.parquet in the driver's testdata shape
    val sfDir = Files.createTempDirectory("graft-pinned").toString
    DocIds.assign(CorpusGen.generate(spark, 240, 4), 4)
      .select(col("docId").as("doc_id"), col("repo").as("source"),
        col("lang"), col("content").as("text"))
      .write.parquet(s"$sfDir/documents.parquet")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ix = SparkEntry.index(spark, sfDir)
    // the build's cached corpus and termDoc are released: what stays
    // pinned is the index, docs, termStats and norms
    val pinned = sc.getPersistentRDDs.keySet -- before
    assert(pinned.size == 4, sc.getPersistentRDDs.values.mkString("\n"))
    // ... and materialized: every partition of each is in storage
    val stored = sc.getRDDStorageInfo.filter(r => pinned(r.id))
    assert(stored.length == 4 &&
      stored.forall(r => r.numCachedPartitions == r.numPartitions),
      stored.mkString("\n"))
    val dfs = Some(graft.query.Wand.dfDictionary(ix))
    val oracle = oracleOf(sfDir)
    val qs = Seq("computer science", "hash table NOT parse", "\"hash table\"",
      "(parse OR tree) AND if")
    qs.foreach { q =>
      graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs) // warm
      val (lines, jobs, tasks, shuffleBytes, _) =
        anatomy(graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs))
      assert(jobs == 1, s"'$q' ran $jobs jobs")
      assert(tasks == ix.config.indexPartitions, s"'$q' ran $tasks tasks")
      assert(shuffleBytes == 0, s"'$q' shuffled $shuffleBytes bytes")
      assertSameHits(parsed(lines.toSeq), oracle(q, 10), s"pinned '$q'")
    }
    // queries add exactly one persistent RDD, the serving shards, fully
    // cached, and none per query
    val shards = sc.getPersistentRDDs.keySet -- before -- pinned
    assert(shards.size == 1, sc.getPersistentRDDs.values.mkString("\n"))
    val shardStore = sc.getRDDStorageInfo.filter(r => shards(r.id))
    assert(shardStore.length == 1 && shardStore.forall(r =>
      r.numCachedPartitions == r.numPartitions &&
        r.numPartitions == ix.config.indexPartitions), shardStore.mkString("\n"))
    qs.foreach(graft.tools.Serve.searchJson(ix, _, 10, "wand", dfs))
    assert(sc.getPersistentRDDs.keySet -- before -- pinned == shards)
  }

  test("stored-handle serving: one job per query after the first") {
    val ix = IndexStore.read(spark, dir)
    val dfs = Some(graft.query.Wand.dfDictionary(ix))
    val oracle = graft.oracle.BruteForce.index(
      (0L until 200).map(CorpusGen.genDoc))
    val qs = Seq("computer science", "hash table NOT parse",
      "\"computer science\"")
    (1 to 2).foreach { round =>
      qs.foreach { q =>
        val (lines, jobs, tasks, shuffleBytes, _) =
          anatomy(graft.tools.Serve.searchJson(ix, q, 10, "bm25", dfs))
        // the first use also runs the one-off bucket repartition that
        // builds the shards; every later query is one task per shard
        // over the cached shards, at the stored partitioning
        if (round == 2) {
          assert(jobs == 1, s"'$q' ran $jobs jobs")
          assert(tasks == 4, s"'$q' ran $tasks tasks")
          assert(shuffleBytes == 0, s"'$q' shuffled $shuffleBytes bytes")
        }
        assertSameHits(parsed(lines.toSeq),
          oracle.search(q, 10).map(h => (h.docId, h.score)), s"stored '$q'")
      }
    }
  }

  test("serving shards are lineage-free: a small task binary, one job a query") {
    val sc = spark.sparkContext
    val sfDir = documentsDir(CorpusGen.generate(spark, 240, 4).collect()
      .map(_.content).toSeq)
    Seq("pinned" -> SparkEntry.index(spark, sfDir),
      "stored" -> IndexStore.read(spark, dir)).foreach { case (handle, ix) =>
      val before = sc.getPersistentRDDs.keySet
      // what every query task deserializes of its input: the shards RDD
      // with whatever lineage it still has
      val bytes = org.apache.spark.SparkEnv.get.closureSerializer
        .newInstance().serialize(ix.shards).limit()
      assert(bytes < 8192, s"$handle shards serialize to $bytes bytes")
      val dfs = Some(graft.query.Wand.dfDictionary(ix))
      val q = "hash table NOT parse"
      graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs)
      val (_, jobs, tasks, shuffleBytes, _) =
        anatomy(graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs))
      assert(jobs == 1, s"$handle '$q' ran $jobs jobs")
      assert(tasks == ix.config.indexPartitions, s"$handle '$q' ran $tasks tasks")
      assert(shuffleBytes == 0, s"$handle '$q' shuffled $shuffleBytes bytes")
      assert(sc.getPersistentRDDs.keySet -- before == Set(ix.shards.id),
        s"$handle: ${sc.getPersistentRDDs.values.mkString("\n")}")
    }
  }

  test("lost serving shards are rebuilt and the query retried once") {
    val ix = IndexStore.read(spark, dir)
    val oracle = graft.oracle.BruteForce.index(
      (0L until 200).map(CorpusGen.genDoc))
    val q = "computer science"
    def answer(): Unit = assertSameHits(
      parsed(graft.tools.Serve.searchJson(ix, q, 10, "bm25", None).toSeq),
      oracle.search(q, 10).map(h => (h.docId, h.score)), s"stored '$q'")
    answer()
    // the shards' blocks go, as on executor loss: the checkpoint cannot
    // recompute them, so the first run fails and the rerun is on new ones
    val lost = ix.shards
    lost.unpersist(blocking = true)
    var runs = 0
    assert(ix.withShards { s => runs += 1; s.count() } ==
      ix.config.indexPartitions)
    assert(runs == 2)
    val rebuilt = ix.shards
    assert((rebuilt ne lost) && graft.query.Shard.intact(rebuilt))
    rebuilt.unpersist(blocking = true)
    answer()
    assert(graft.query.Shard.intact(ix.shards))
  }

  test("a query that fails on intact serving shards is not retried") {
    val ix = IndexStore.read(spark, dir)
    val shards = ix.shards
    var runs = 0
    val e = intercept[org.apache.spark.SparkException](ix.withShards { s =>
      runs += 1
      s.foreach(_ => throw new IllegalStateException("a query bug"))
    })
    assert(e.getMessage.contains("a query bug"), e.getMessage)
    assert(runs == 1)
    assert(ix.shards eq shards)
  }

  test("each shard examines exactly its query terms' posting rows") {
    val sfDir = documentsDir(CorpusGen.generate(spark, 300, 4).collect()
      .map(_.content).toSeq)
    val stored = Files.createTempDirectory("graft-rows").toString
    IndexStore.write(IndexBuilder.build(SparkEntry.corpus(spark, sfDir),
      IndexConfig(bucketBits = 4, indexPartitions = 3)), stored)
    Seq("pinned" -> SparkEntry.index(spark, sfDir),
      "stored" -> IndexStore.read(spark, stored)).foreach { case (handle, ix) =>
      val n = ix.config.indexPartitions
      Seq("computer science", "hash table NOT parse", "\"hash table\"",
        "rareterm OR if").foreach { q =>
        val terms = graft.query.QueryParser.parse(q).get.allTerms.distinct
        // the query terms' rows per partition, counted from the index
        // table under the shards' hash partitioning of bucket
        val want = ix.index
          .filter(col("field") === "body" && col("term").isin(terms: _*))
          .groupBy(pmod(hash(col("bucket")), lit(n)).as("p")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
        val parts = graft.query.Wand.partitionHits(ix, q, 10, None)
        assert(parts.map(_.partition).toSeq == (0 until n), s"$handle '$q'")
        parts.foreach { p =>
          assert(p.rowsExamined == want.getOrElse(p.partition, 0),
            s"$handle '$q' partition ${p.partition}: examined " +
              s"${p.rowsExamined} rows, the query terms have " +
              s"${want.getOrElse(p.partition, 0)}")
        }
      }
    }
  }

  /** A score rounded as the q_wand oracle rounds it. */
  private def r4(x: Double): BigDecimal =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  /** The q_wand oracle's rounded-tie rule: the served rounded scores are
    * the pool's best k rounded scores, and each served hit belongs to
    * the pool's class of its rounded score. */
  private def obeysRoundedTieRule(got: Seq[(Long, Double)],
      pool: Seq[(Long, Double)], k: Int): Boolean = {
    val want = pool.map { case (d, s) => (d, r4(s)) }
      .sortBy { case (d, s) => (-s, d) }
    val g = got.map { case (d, s) => (d, r4(s)) }
    g.size == math.min(k, want.size) && g.map(_._1).distinct.size == g.size &&
      g.map(_._2) == want.take(g.size).map(_._2) &&
      g.forall { case (d, s) => want.contains((d, s)) }
  }

  test("rounded ties wider than k at the cut obey the oracle's subset rule") {
    // every document holds `tieword`, so its idf is tiny (~0.002) and
    // a docLen step of one token moves a score by ~2e-6, far below the
    // oracle's 4-place rounding: three leaders, then twelve docs whose
    // exact scores differ but round to one class (docLen falls as docId
    // rises, so exact order is the reverse of the oracle's docId
    // tie-break), then the fillers; the class straddles the cut at k = 8
    val k = 8
    val leaders = Map(5 -> 300, 100 -> 301, 200 -> 302)
    val ties = (0 until 12).map(i => (10 + 20 * i) -> (316 - 2 * i)).toMap
    val texts = (0 until 256).map { d =>
      val (tf, len) = leaders.get(d).map(3 -> _)
        .orElse(ties.get(d).map(1 -> _)).getOrElse(1 -> 500)
      (Seq.fill(tf)("tieword") ++ Seq.fill(len - tf)("pad")).mkString(" ")
    }
    val sfDir = documentsDir(texts)
    val pool = oracleOf(sfDir)("tieword", Int.MaxValue)
    val cut = r4(pool(k - 1)._2)
    val cls = pool.filter(h => r4(h._2) == cut).map(_._1)
    assert(cls.toSet == ties.keySet.map(_.toLong) && cls.size > k &&
      pool.indexWhere(h => r4(h._2) == cut) < k, s"no tie class at the cut: $pool")

    val stored = Files.createTempDirectory("graft-ties").toString
    IndexStore.write(IndexBuilder.build(SparkEntry.corpus(spark, sfDir),
      IndexConfig(bucketBits = 4, indexPartitions = 4)), stored)
    val served = Seq(SparkEntry.index(spark, sfDir),
      IndexStore.read(spark, stored)).map { ix =>
      val parts = graft.query.Wand.partitionHits(ix, "tieword", k, None)
      val fromParts = parts.filter(_.hits.exists(h => ties.contains(h.docId.toInt)))
      assert(fromParts.length >= 2,
        s"tie-class winners came from ${fromParts.length} partition(s)")
      val got = graft.query.Wand.hits(ix, "tieword", k)
        .map(h => (h.docId, h.score)).toSeq
      assert(obeysRoundedTieRule(got, pool, k), s"$got against $pool")
      // the exact order picks other class members than the docId
      // tie-break would, so the rule, not equality, is what holds
      assert(got.map(_._1) != pool.sortBy(h => (-r4(h._2), h._1)).take(k).map(_._1))
      got
    }
    assert(served(0) == served(1), "pinned and stored handles disagree")
  }

  test("store round-trip preserves the index (config + stats + rows)") {
    val ix = IndexStore.read(spark, dir)
    assert(ix.stats.nDocs == 200)
    // every IndexConfig field, indexPartitions included
    val written = IndexConfig(bucketBits = 5, indexPartitions = 4)
    ix.config.productElementNames.zip(ix.config.productIterator)
      .zip(written.productIterator).foreach { case ((name, got), want) =>
        assert(got == want, s"config.$name")
      }
    assert(ix.index.count() > 0 && ix.norms.count() > 0)
    // queries over the persisted index work end-to-end
    val hits = graft.query.Engine.search(ix, "computer science", 10).collect()
    assert(hits.nonEmpty)
  }

  test("a stats.json without indexPartitions reads with the default") {
    val old = Files.createTempDirectory("graft-old-store").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir),
      new java.io.File(old))
    val statsPath = java.nio.file.Paths.get(s"$old/stats.json")
    Files.writeString(statsPath, Files.readString(statsPath)
      .replaceAll(",\"indexPartitions\":[0-9]+", ""))
    assert(!Files.readString(statsPath).contains("indexPartitions"))
    val ix = IndexStore.read(spark, old)
    assert(ix.config == IndexConfig(bucketBits = 5))
    assert(graft.query.Wand.hits(ix, "computer science", 10).nonEmpty)
  }

  test("IndexStore.write is byte-stable: the same tables give the same files") {
    val built = IndexBuilder.build(
      DocIds.assign(CorpusGen.generate(spark, 40, 2), 2),
      IndexConfig(bucketBits = 3, indexPartitions = 16))
    // cached, so both writes read the same rows in the same order. The
    // range partitioner samples its boundaries with a seed drawn from
    // the RDD id, which differs per write; these tables are small
    // enough that its sample is the whole table, so the boundaries are
    // fixed (larger tables can split differently). The norms keep
    // several partitions, which the write must merge stably.
    val ix = built.copy(index = built.index.cache(), docs = built.docs.cache(),
      termStats = built.termStats.cache(), norms = built.norms.cache())
    assert(ix.norms.rdd.getNumPartitions > 1)
    val dirs = Seq.fill(2)(Files.createTempDirectory("graft-stable").toString)
    dirs.foreach(IndexStore.write(ix, _))
    def files(d: String): Seq[(String, Array[Byte])] = {
      val root = java.nio.file.Paths.get(d)
      val paths = Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          n.endsWith(".parquet") || n == "stats.json"
        })
      // part files are named part-<n>-<write uuid>-c000: key them by
      // table and part number
      paths.map { p =>
        val rel = root.relativize(p).toString
          .replaceAll("(part-[0-9]+)-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "$1")
        rel -> Files.readAllBytes(p)
      }.sortBy(_._1).toSeq
    }
    val (a, b) = (files(dirs(0)), files(dirs(1)))
    assert(a.map(_._1) == b.map(_._1))
    assert(a.exists(_._1.startsWith("norms/")) && a.exists(_._1.startsWith("index/")))
    val differing = a.zip(b).collect {
      case ((name, x), (_, y)) if !java.util.Arrays.equals(x, y) => name
    }
    assert(differing.isEmpty, "differ between two writes of the same tables")
    Seq(ix.index, ix.docs, ix.termStats, ix.norms).foreach(_.unpersist())
  }

  test("docId assignment is one range sort: no Window, few stages") {
    // 173 docs, not 200: the fixture build persists the 200-doc corpus,
    // and an identical plan would be swapped for its InMemoryRelation
    val corpus = CorpusGen.generate(spark, 173, 4)
    val (assigned, _, _, _, stages) = anatomy {
      val a = DocIds.assign(corpus, 4)
      a.count()
      a
    }
    // no window of any kind: an unpartitioned one funnels the whole
    // input through one task, and the partitioned windowed hierarchy
    // this replaced ran 16 stages here (assign plus this count)
    val windows = assigned.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, windows.mkString("\n"))
    // range sample, range shuffle, offset count, and the count itself
    assert(stages <= 5, s"assign + count ran $stages stages")
    // and the ids are still the dense (repo, path, commit) rank
    val rows = assigned.select("docId").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (0L until 173L).toSeq)
  }

  test("per-row curation ops (secret scan, lang id, quality) are shuffle-free") {
    // these are the "run over every one of 10^12 docs" filters: the plan
    // must be a single map stage — a shuffle here would dominate the
    // whole curation pass at corpus scale
    val docs = CorpusGen.generate(spark, 50, 2)
      .toDF().withColumnRenamed("path", "doc_path")
      .withColumn("doc_id", col("commit").cast("string").substr(1, 8))
    Seq(
      graft.ops.TextAnalysis.secretScan(docs, "doc_id", "content"),
      docs.select(graft.ops.TextAnalysis.langId(col("content"))),
      graft.ops.TextAnalysis.qualityFeatures(docs, "doc_id", "content")
    ).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    }
  }

  test("tokenize + aggregate pipeline runs inside whole-stage codegen") {
    val corpus = DocIds.assign(CorpusGen.generate(spark, 50, 2), 2)
    val agg = IndexBuilder.tokenRows(corpus)
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    agg.collect() // materialize so AQE finalizes the physical plan
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }
}
