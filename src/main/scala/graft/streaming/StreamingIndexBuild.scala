package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.{IndexBuilder, IndexConfig, IndexTables, SegmentedBuild}

/** Incremental (streaming) index construction — the Structured-Streaming
  * re-expression of the reference's continuous crawler pipeline
  * (`/root/reference/src/crawler/crawler3.cpp:313-363,600-607`: pages
  * stream in, chunks accumulate, segments are flushed): new corpus files
  * land in a directory; each micro-batch writes its docs rows and an
  * independent, idempotent `stream-<batchId>` segment with its lineage
  * record through the batch build's segment writer
  * (`SegmentedBuild.buildSegment`; batch replays after a crash rewrite
  * the same segment — Structured Streaming's checkpoint + deterministic
  * docIds make the whole build resumable); the serving index is
  * `SegmentedBuild`'s assembly over all segments.
  *
  * Streaming docIds: a dense global rank needs the full corpus, so the
  * incremental path uses `xxhash64(repo, path, commit)` docIds — deterministic,
  * stable under replay, sorted posting lists and every query path work
  * unchanged (docId is an opaque sort key throughout). */
object StreamingIndexBuild {

  /** Salted identity hash: salt 0 is the plain 63-bit
    * xxhash64(repo, path, commit) (shifted non-negative — docId orders
    * must be stable under the Long comparisons used by posting-list
    * delta encoding); salt k > 0 mixes the salt in. Salt 0 first keeps
    * every pre-existing id stable. */
  def saltedDocId(salt: Column): Column =
    shiftrightunsigned(
      when(salt === 0, xxhash64(col("repo"), col("path"), col("commit")))
        .otherwise(xxhash64(col("repo"), col("path"), col("commit"), salt)),
      1)

  def hashDocIds(corpus: DataFrame): DataFrame =
    corpus.withColumn("docId", saltedDocId(lit(0)))

  /** Deterministic, collision-FREE docId assignment for a micro-batch —
    * the 10^12-doc mitigation behind the opaque-sort-key contract
    * (docId only needs to be unique, deterministic, and replay-stable;
    * nothing downstream interprets its bits).
    *
    * Every doc starts at its salt-0 hash id. A doc whose id collides
    * with a DIFFERENT identity — another doc in the batch (the
    * lexicographically-smallest identity keeps the id) or a registry
    * entry from an earlier batch — rehashes with salt+1, iterating
    * until no collision remains (expected iterations ≈ 1 + n²/2^64 —
    * at 10^12 docs a few dozen rehashes total, each round one bounded
    * distributed pass). Determinism: the winner rule and the salt
    * sequence depend only on identities and registry state, so a
    * crash-replayed batch (same registry view — own segment excluded by
    * the caller) reassigns identical ids, and a re-ingested doc walks
    * the same salt chain back to its original id (same-identity registry
    * hits never bump). `hashAt` is injectable so tests can plant dense
    * collisions with a coarse hash; `maxSalt` bounds the loop — a loud
    * failure after 8 deterministic retries, not a silent merge.
    *
    * Returns the resolved frame and its unpersist hook: the final
    * round is ALWAYS cached (the returned plan reads it), so the caller
    * must call `cleanup()` after every sink that consumes the frame has
    * completed, or each call leaks one cached frame for the life of
    * the process. */
  def resolveDocIds(batch: DataFrame,
      prior: Option[DataFrame],
      hashAt: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        saltedDocId,
      maxSalt: Int = 8): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    var cur = batch.dropDuplicates("repo", "path", "commit")
      .withColumn("salt", lit(0))
      .withColumn("docId", hashAt(lit(0)))
    // one registry row per docId: replayed segments legitimately store
    // duplicate (docId, identity) rows (mergedIndex dedupes them the
    // same way), and a duplicated registry row would FAN OUT the join
    // below — the batch row would appear twice in the window and the
    // rk=2 copy would bump a same-identity re-ingest to a salted id
    val priorDf = prior.map(_.select(col("docId"), col("pRepo"),
      col("pPath"), col("pCommit")).dropDuplicates("docId"))
    var iter = 0
    var done = false
    var prevRound: Option[DataFrame] = None
    while (!done) {
      val withPrior = priorDf match {
        case Some(p) => cur.join(p, Seq("docId"), "left")
        case None => cur
          .withColumn("pRepo", lit(null).cast("string"))
          .withColumn("pPath", lit(null).cast("string"))
          .withColumn("pCommit", lit(null).cast("string"))
      }
      // a row whose identity EQUALS the registry entry for its id must
      // win the in-batch window and never bump — otherwise a re-ingested
      // doc that ties with a lexicographically-smaller new identity
      // would be pushed to a salted id, escape the registry anti-join,
      // and be indexed a second time under a second docId. (At most one
      // row per id can registry-match: matching rows share the registry
      // identity, and identities are deduped above.)
      val regMatch = col("pRepo").isNotNull &&
        col("repo") === col("pRepo") && col("path") === col("pPath") &&
        col("commit") === col("pCommit")
      val w = Window.partitionBy(col("docId"))
        .orderBy(regMatch.desc, col("repo"), col("path"), col("commit"))
      // persist THEN probe: the bump count and the next round (or the
      // returned frame) both read the same materialization — probing
      // emptiness on the raw plan and then re-materializing it ran the
      // dominant join+window twice per collision round
      val marked = withPrior
        .withColumn("rk", row_number().over(w))
        .withColumn("bump", col("rk") > 1 ||
          (col("pRepo").isNotNull && !regMatch))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBumped = marked.filter(col("bump")).count() // materializes marked
      prevRound.foreach(_.unpersist(false)) // safe: marked is computed
      prevRound = Some(marked)
      if (nBumped == 0) {
        done = true
        cur = marked.drop("rk", "bump", "pRepo", "pPath", "pCommit")
      } else {
        // every rehash result is RE-CHECKED (a bumped id could itself
        // collide), so the budget gates the rehash, not the check: a
        // batch that resolves on exactly the maxSalt-th rehash succeeds,
        // and the failure message counts the rehashes that actually ran
        require(iter < maxSalt,
          s"docId collisions unresolved after $maxSalt salted rehashes — " +
            "id space too small for the corpus")
        cur = marked
          .withColumn("salt",
            when(col("bump"), col("salt") + 1).otherwise(col("salt")))
          .withColumn("docId",
            when(col("bump"), hashAt(col("salt"))).otherwise(col("docId")))
          .drop("rk", "bump", "pRepo", "pPath", "pCommit")
        iter += 1
      }
    }
    // the final round's materialization stays cached (the returned plan
    // projects it, and downstream consumers read it more than once)
    // until the caller invokes the cleanup
    (cur.drop("salt"), () => prevRound.foreach(_.unpersist(false)))
  }

  /** Start (or resume) the incremental build over `corpusDir`.
    * AvailableNow processes whatever is currently in the directory and
    * stops — call again later to index newly-arrived files; the
    * checkpoint skips everything already indexed. */
  def start(spark: SparkSession, corpusDir: String, indexDir: String,
      cfg: IndexConfig = IndexConfig()): StreamingQuery = {
    val schema = spark.read.parquet(corpusDir).schema
    val stream = spark.readStream.schema(schema).parquet(corpusDir)
    stream.writeStream
      .option("checkpointLocation", s"$indexDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        // Re-ingest dedupe + collision-free ids: [[resolveDocIds]]
        // dedupes identical identities in-batch and rehashes any id that
        // collides with a different identity (in-batch or registry), so
        // two distinct documents NEVER share a docId — no duplicate
        // docIds inside a posting run, no broken (term,docId)
        // uniqueness, at any corpus scale. The registry view EXCLUDES
        // this batch's own segment so a crash-replay of the same batchId
        // (which already wrote partial output) resolves identically and
        // stays idempotent instead of anti-joining against itself into
        // an empty segment.
        val docsRoot = Paths.get(s"$indexDir/docs")
        val prior =
          if (!Files.exists(docsRoot)) None
          else Some(batch.sparkSession.read
            .parquet(s"$indexDir/docs")
            .filter(col("seg").cast("string") =!= s"stream-$batchId")
            .select(col("docId"), col("repo").as("pRepo"),
              col("path").as("pPath"), col("commit").as("pCommit")))
        val (resolved, resolveCleanup) = resolveDocIds(batch, prior)
        // cross-batch re-ingest: a doc already in the registry resolves
        // to its original docId (same identity never bumps) and is
        // dropped here; genuinely new docs never match a registry id
        // (different-identity matches were rehashed away)
        val withIds0 = prior match {
          case Some(p) =>
            resolved.join(p.select("docId"), Seq("docId"), "left_anti")
          case None => resolved
        }
        // persisted: both the segment write and the docs write read it
        // (one resolve+anti-join pass, not one per sink). Cleanup runs
        // in the finally below — a batch that FAILS (and will be
        // replayed by the stream) must not leak one cached rehash-round
        // frame + one cached batch frame per retry.
        val withIds = withIds0
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          IndexBuilder.buildDocs(withIds).write.mode("overwrite")
            .parquet(s"$indexDir/docs/seg=stream-$batchId")
          // docs = documents actually indexed this batch (post-dedupe),
          // a cheap count off the persisted frame
          SegmentedBuild.buildSegment(IndexBuilder.termDoc(withIds, cfg.codec),
            withIds.count(), indexDir, s"stream-$batchId", t0, cfg, None)
        } finally {
          withIds.unpersist()
          resolveCleanup() // release the cached final resolve round
        }
        ()
      }
      .start()
  }

  /** Assemble the queryable index from everything indexed so far. */
  def mergedIndex(spark: SparkSession, indexDir: String,
      cfg: IndexConfig = IndexConfig()): IndexTables = {
    val rawDocs = spark.read.parquet(s"$indexDir/docs").drop("seg")
    // registry-level collision backstop: the ingest path RESOLVES
    // collisions per batch (salted rehash in resolveDocIds), so a
    // healthy registry can never trip this; the re-check guards the
    // stored registry against out-of-band writes/merges.
    val collided = rawDocs
      .groupBy(col("docId"))
      .agg(countDistinct(col("repo"), col("path"), col("commit")).as("k"))
      .filter(col("k") > 1)
      .limit(1).collect()
    require(collided.isEmpty,
      s"docId hash collision detected (docId=${collided.headOption.map(_.get(0))}): " +
        "two distinct documents hashed to one 63-bit id; widen the id")
    // duplicates of the SAME doc across replayed segments are benign
    SegmentedBuild.assemble(spark, indexDir, rawDocs.dropDuplicates("docId"),
      cfg, None)
  }
}
