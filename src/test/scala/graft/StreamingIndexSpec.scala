package graft

import java.nio.file.Files

import graft.IndexParity.{assertSame, assertSameTables, snapshot}
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.streaming.StreamingIndexBuild

/** Incremental streaming index build: each micro-batch writes an
  * idempotent segment; the merged index must equal a direct batch build
  * over the same corpus, and newly-arrived files must be picked up by a
  * later run without touching existing segments. */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  val cfg: IndexConfig = IndexConfig(bucketBits = 5, indexPartitions = 4)

  test("streamed segments merge to the exact batch-built index; new files append") {
    val corpusDir = Files.createTempDirectory("graft-stream-corpus").toString
    val indexDir = Files.createTempDirectory("graft-stream-index").toString

    // wave 1: 150 docs
    CorpusGen.generate(spark, 150, 2).toDF()
      .write.mode("append").parquet(corpusDir)
    StreamingIndexBuild.start(spark, corpusDir, indexDir, cfg)
      .awaitTermination()
    val ix1 = StreamingIndexBuild.mergedIndex(spark, indexDir, cfg)
    val direct1 = IndexBuilder.build(
      StreamingIndexBuild.hashDocIds(
        spark.read.parquet(corpusDir)), cfg)
    assert(ix1.stats == direct1.stats)
    assertSameTables(ix1, direct1)

    val segsAfter1 = new java.io.File(s"$indexDir/segments").list().toSet

    // wave 2: 80 more docs arrive; a second AvailableNow run indexes
    // ONLY them (checkpoint skips wave 1)
    spark.range(150, 230).map(i => CorpusGen.genDoc(i.longValue())).toDF()
      .write.mode("append").parquet(corpusDir)
    StreamingIndexBuild.start(spark, corpusDir, indexDir, cfg)
      .awaitTermination()
    val segsAfter2 = new java.io.File(s"$indexDir/segments").list().toSet
    assert(segsAfter1.subsetOf(segsAfter2) && segsAfter2.size > segsAfter1.size)

    val ix2 = StreamingIndexBuild.mergedIndex(spark, indexDir, cfg)
    val direct2 = IndexBuilder.build(
      StreamingIndexBuild.hashDocIds(spark.read.parquet(corpusDir)), cfg)
    assert(ix2.stats == direct2.stats)
    assertSameTables(ix2, direct2)

    // queries run unchanged over the incrementally-built index
    val hits = graft.query.Engine.search(ix2, "computer science", 10).collect()
    assert(hits.nonEmpty)
  }

  test("planted docId collisions resolve deterministically via salted rehash") {
    import org.apache.spark.sql.functions._
    // coarse 8-bit hash → ~7 expected colliding pairs among 60 docs:
    // dense planted collisions, still resolvable within the salt budget
    val coarse = (salt: org.apache.spark.sql.Column) =>
      pmod(when(salt === 0, xxhash64(col("repo"), col("path"), col("commit")))
        .otherwise(xxhash64(col("repo"), col("path"), col("commit"), salt)),
        lit(256L))
    val batch = CorpusGen.generate(spark, 60, 2).toDF()
    // the resolved frame stays cached until its cleanup runs; after the
    // cleanup no cached frame is left behind. Compared by id: the
    // context cleaner may drop earlier suites' unreferenced RDDs from
    // the persistent set at any time, so its size can shrink meanwhile
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (resolved1, cleanup1) =
      StreamingIndexBuild.resolveDocIds(batch, None, coarse)
    val r1 = resolved1
      .select("docId", "repo", "path").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    cleanup1()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "resolveDocIds cleanup must release every cached round")
    // every doc indexed, every docId unique — collisions resolved, not
    // dropped and not merged (the round-2 loud-failure flipped to
    // correct indexing)
    assert(r1.length == 60)
    assert(r1.map(_._1).distinct.length == 60)
    // the salt-0 hash really did collide (the test planted something)
    val salt0 = batch.select(coarse(lit(0))).collect().map(_.getLong(0))
    assert(salt0.distinct.length < 60, "fixture failed to plant collisions")
    // deterministic: identical reassignment on a second run (replay)
    val r2 = StreamingIndexBuild.resolveDocIds(batch, None, coarse)._1
      .select("docId", "repo", "path").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(r1.toSeq == r2.toSeq)

    // cross-batch: re-resolving the same docs against the registry walks
    // each doc back to its ORIGINAL id (re-ingest stays an anti-join
    // no-op); new docs get ids disjoint from the registry's
    val registry = StreamingIndexBuild.resolveDocIds(batch, None, coarse)._1
      .select(col("docId"), col("repo").as("pRepo"),
        col("path").as("pPath"), col("commit").as("pCommit"))
    val again = StreamingIndexBuild.resolveDocIds(batch, Some(registry), coarse)._1
      .select("docId", "repo", "path").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(again.toSeq == r1.toSeq)
    val fresh = spark.range(60, 90).map(i => CorpusGen.genDoc(i.longValue())).toDF()
    val newIds = StreamingIndexBuild.resolveDocIds(fresh, Some(registry), coarse)._1
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(newIds.size == 30)
    assert(newIds.intersect(r1.map(_._1).toSet).isEmpty)
  }

  test("re-ingest wins the collision window: same-identity registry hit never bumps") {
    import org.apache.spark.sql.functions._
    // constant salt-0 hash: a NEW identity is guaranteed to land on the
    // re-ingested doc's registry id in the same batch — the scenario
    // where a lexicographically-smaller newcomer must NOT displace the
    // registry match (displacement would index the same doc twice)
    val coarse = (salt: org.apache.spark.sql.Column) =>
      when(salt === 0, lit(7L))
        .otherwise(pmod(xxhash64(col("repo"), col("path"), col("commit"),
          salt), lit(1000000L)))
    val x = Seq(("zz-repo", "src/x.c", "c1")).toDF("repo", "path", "commit")
    val registry = StreamingIndexBuild.resolveDocIds(x, None, coarse)._1
      .select(col("docId"), col("repo").as("pRepo"),
        col("path").as("pPath"), col("commit").as("pCommit"))
    assert(registry.select("docId").head().getLong(0) == 7L)
    // batch 2 re-ingests X plus a new identity that sorts BEFORE it
    val batch2 = Seq(("zz-repo", "src/x.c", "c1"),
      ("aa-repo", "src/y.c", "c1")).toDF("repo", "path", "commit")
    val resolved =
      StreamingIndexBuild.resolveDocIds(batch2, Some(registry), coarse)._1
    val byRepo = resolved.collect()
      .map(r => r.getAs[String]("repo") -> r.getAs[Long]("docId")).toMap
    assert(byRepo("zz-repo") == 7L) // re-ingested doc keeps its id
    assert(byRepo("aa-repo") != 7L) // the colliding newcomer rehashed
    // hence the registry anti-join drops exactly the re-ingest
    val newOnly =
      resolved.join(registry.select("docId"), Seq("docId"), "left_anti")
    assert(newOnly.select("repo").collect()
      .map(_.getString(0)).toSeq == Seq("aa-repo"))
    // a registry with DUPLICATE rows for the same docId (replayed
    // segments legitimately produce them) must not fan out the join and
    // bump the re-ingest either
    val dupReg = registry.union(registry)
    val resolvedDup =
      StreamingIndexBuild.resolveDocIds(batch2, Some(dupReg), coarse)._1
        .collect().map(r => r.getAs[String]("repo") -> r.getAs[Long]("docId"))
        .toMap
    assert(resolvedDup("zz-repo") == 7L)
    assert(resolvedDup("aa-repo") == byRepo("aa-repo"))
  }

  test("re-ingesting the same documents in a new file/batch is a no-op") {
    val corpusDir = Files.createTempDirectory("graft-reingest-corpus").toString
    val indexDir = Files.createTempDirectory("graft-reingest-index").toString

    CorpusGen.generate(spark, 60, 2).toDF()
      .write.mode("append").parquet(corpusDir)
    StreamingIndexBuild.start(spark, corpusDir, indexDir, cfg)
      .awaitTermination()
    val before = snapshot(StreamingIndexBuild.mergedIndex(spark, indexDir, cfg))

    // the SAME 60 docs arrive again in a different parquet file → a new
    // micro-batch; the registry anti-join must drop all of them
    CorpusGen.generate(spark, 60, 3).toDF()
      .write.mode("append").parquet(corpusDir)
    StreamingIndexBuild.start(spark, corpusDir, indexDir, cfg)
      .awaitTermination()
    val ix2 = StreamingIndexBuild.mergedIndex(spark, indexDir, cfg)

    // stats, df, norms, docs and the byte-level index are unchanged: no
    // duplicated postings, no inflated df
    assertSame(snapshot(ix2), before)

    // postings carry unique docIds per (field, term): decoded docId run
    // has no repeats
    val decoded = graft.query.Engine.allPostings(ix2)
      .groupBy("term", "docId").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
    assert(decoded.isEmpty)
  }
}
