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
    // the serving scan a phrase-free query runs on must never read
    // positions: the parquet scan's ReadSchema excludes the (largest)
    // blob column entirely
    val scan = ix.wandInputs.postingScan(withPositions = false)
    val readSchemas = formatted(scan).linesIterator
      .filter(_.trim.startsWith("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("positions"), readSchemas)
    assert(readSchemas.contains("docIds"), readSchemas)
    // while the phrase input legitimately reads them
    assert(formatted(ix.wandInputs.postingScan(withPositions = true))
      .contains("positions"), "phrase scan lost positions")
  }

  /** Runs `f` in its own job group; returns its value, the Spark jobs it
    * ran and the shuffle bytes those jobs' tasks read and wrote. */
  private def anatomy[T](f: => T): (T, Int, Long) = {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"anatomy-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          shuffleBytes.addAndGet(
            e.taskMetrics.shuffleReadMetrics.totalBytesRead +
              e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "anatomy")
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.get, shuffleBytes.get)
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
    Seq("computer science", "hash table NOT parse", "\"hash table\"",
      "(parse OR tree) AND if").foreach { q =>
      graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs) // warm
      val (lines, jobs, shuffleBytes) =
        anatomy(graft.tools.Serve.searchJson(ix, q, 10, "wand", dfs))
      assert(jobs == 1, s"'$q' ran $jobs jobs")
      assert(shuffleBytes == 0, s"'$q' shuffled $shuffleBytes bytes")
      assertSameHits(parsed(lines.toSeq), oracle(q, 10), s"pinned '$q'")
    }
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
        val (lines, jobs, _) =
          anatomy(graft.tools.Serve.searchJson(ix, q, 10, "bm25", dfs))
        // the first use of an input also runs its one-off bucket
        // repartition; every later query reuses that map output
        if (round == 2) assert(jobs == 1, s"'$q' ran $jobs jobs")
        assertSameHits(parsed(lines.toSeq),
          oracle.search(q, 10).map(h => (h.docId, h.score)), s"stored '$q'")
      }
    }
  }

  test("store round-trip preserves the index (config + stats + rows)") {
    val ix = IndexStore.read(spark, dir)
    assert(ix.stats.nDocs == 200)
    assert(ix.config.bucketBits == 5)
    assert(ix.index.count() > 0 && ix.norms.count() > 0)
    // queries over the persisted index work end-to-end
    val hits = graft.query.Engine.search(ix, "computer science", 10).collect()
    assert(hits.nonEmpty)
  }

  test("docId assignment has no unpartitioned window (no global funnel)") {
    // 173 docs, not 200: the fixture build persists the 200-doc corpus,
    // and an identical plan would be swapped for its InMemoryRelation,
    // hiding the Window nodes from this assertion
    val assigned = DocIds.assign(CorpusGen.generate(spark, 173, 4), 4)
    // every Window must declare a partitioning — an empty partition
    // spec funnels the whole input through ONE task (round-1 scale bug)
    val windows = assigned.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned Window in docId plan: $w")
    }
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
