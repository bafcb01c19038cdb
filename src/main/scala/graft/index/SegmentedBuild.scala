package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.codec.VarbyteFunctions._

/** Segmented, resumable index build with per-segment lineage — the
  * Spark re-expression of the reference's independent per-crawler-node
  * chunk writes + frontier checkpointing
  * (`/root/reference/src/crawler/crawler3.cpp:600-607`,
  * `dispatcher.cpp:159-199`): build the index in N corpus segments,
  * each written idempotently with a lineage record; a killed build
  * re-runs only the missing segments; a final merge job folds segment
  * posting runs into the global index.
  *
  * This object owns the segment format and the index assembly for both
  * the batch build ([[build]]) and the streaming build
  * (`StreamingIndexBuild`): one segment writer, one merge, one
  * assembler. Segment rows are corpus-stats-free — their tf-norms are
  * placeholders the merge recomputes — so a segment stays reusable
  * however the corpus stats move.
  *
  * Segmenting key = pmod(xxhash64(repo), nSegments): whole repos stay
  * in one segment (deterministic, rerun-stable). Because docIds are
  * assigned globally BEFORE segmentation, each (field, term, bucket)
  * group holds disjoint sorted runs across segments, so the merge is a
  * sorted-run concatenation (associative + commutative + idempotent —
  * the properties resumability needs).
  *
  * Like the crawler nodes' chunks, the segments a [[build]] finds
  * missing are written concurrently (`graft.Jobs.concurrently`): one at
  * a time, each one's small write stage left most cores idle. The build
  * waits for every segment before it rethrows the first failure; the
  * finished ones keep their lineage records (written last), so a rerun
  * rebuilds only the failed ones.
  */
object SegmentedBuild {

  /** `seg` is the segment's partition value under `segments/`: a batch
    * segment number or a streaming `stream-<batchId>`. */
  private def lineagePath(dir: String, seg: String) =
    Paths.get(s"$dir/_lineage/seg-$seg.json")

  /** Total bytes of regular files under `dir` — the segment-size metric
    * of the lineage records. */
  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map(Files.size).sum
    } finally s.close()
  }

  /** A segment counts as done only when its lineage record exists AND
    * was written under the SAME partitioning scheme and codec — a rerun
    * with different nSegments/bucketBits must not reuse stale segments
    * (they'd cover a different corpus slice), and one with a different
    * codec must not decode another codec's blobs. */
  def segmentDone(dir: String, seg: Int, nSegments: Int = -1,
      bucketBits: Int = -1, codec: String = ""): Boolean = {
    val p = lineagePath(dir, seg.toString)
    if (!Files.exists(p)) return false
    if (nSegments < 0) return true
    val json = Files.readString(p)
    def field(k: String): String =
      s""""$k":"?([-a-z0-9]+)""".r.findFirstMatchIn(json)
        .map(_.group(1)).getOrElse("")
    field("nSegments") == nSegments.toString &&
      (bucketBits < 0 || field("bucketBits") == bucketBits.toString) &&
      (codec.isEmpty || field("codec") == codec)
  }

  /** Phase 2: build + persist segment `seg` of the corpus (skips if it
    * is [[segmentDone]]). Returns index rows written, -1 if skipped. */
  def buildSegment(corpusWithDocId: DataFrame, dir: String, seg: Int,
      nSegments: Int, cfg: IndexConfig): Long = {
    if (segmentDone(dir, seg, nSegments, cfg.bucketBits, cfg.codec))
      return -1L
    val t0 = System.nanoTime()
    // persisted across the metrics count and the posting build: the doc
    // count must not cost a second scan+filter of the corpus
    val segCorpus = corpusWithDocId
      .filter(pmod(xxhash64(col("repo")), lit(nSegments)) === seg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try buildSegment(IndexBuilder.termDoc(segCorpus, cfg.codec),
      segCorpus.count(), dir, seg.toString, t0, cfg, Some(nSegments))
    finally segCorpus.unpersist(false)
  }

  /** The one segment writer, for batch (`seg` = N) and streaming
    * (`seg` = stream-N) segments: writes termDoc rows `td` as posting
    * runs under `segments/seg=<seg>`, tf-norms left as `0.0`
    * placeholders, then the segment's lineage record. Returns index
    * rows written.
    *
    * The lineage record doubles as the segment's METRICS row (north
    * rule: per-partition lineage + metrics): docs processed, posting
    * rows and total postings written, bytes on disk, and wall-clock
    * since `t0` — enough to spot a skewed or straggling segment from
    * the [[lineage]] table alone, the Spark analog of the reference
    * crawler's per-node progress logs (`dispatcher.cpp:159-199`). It is
    * written last, so a segment without one is never taken as done. */
  private[graft] def buildSegment(td: DataFrame, nDocs: Long, dir: String,
      seg: String, t0: Long, cfg: IndexConfig,
      nSegments: Option[Int]): Long = {
    val segDir = s"$dir/segments/seg=$seg"
    IndexBuilder.encodeIndexRows(IndexBuilder.plistRows(td, lit(0.0), cfg), cfg)
      .write.mode("overwrite").parquet(segDir)
    val written = td.sparkSession.read.parquet(segDir)
      .agg(count(lit(1)), sum(col("n"))).head()
    val n = written.getLong(0)
    val nPostings = if (written.isNullAt(1)) 0L else written.getLong(1)
    val bytes = dirBytes(segDir)
    val durationMs = (System.nanoTime() - t0) / 1000000L
    Files.createDirectories(Paths.get(s"$dir/_lineage"))
    Files.writeString(lineagePath(dir, seg),
      s"""{"segment":"$seg",""" +
        nSegments.fold("")(k => s""""nSegments":$k,""") +
        s""""indexRows":$n,"bucketBits":${cfg.bucketBits},""" +
        s""""codec":"${cfg.codec}","docs":$nDocs,""" +
        s""""postings":$nPostings,"bytes":$bytes,""" +
        s""""durationMs":$durationMs,"status":"done"}""")
    n
  }

  /** Segment rows under `dir`, scoped to `segs` when given: stale seg
    * dirs from an earlier run with different nSegments must not leak
    * into this build. */
  private def segmentRows(spark: SparkSession, dir: String,
      segs: Option[Seq[String]]): DataFrame = {
    val all = spark.read.parquet(s"$dir/segments")
    segs.fold(all)(keep => all.filter(col("seg").cast("string").isin(keep: _*)))
  }

  /** Phase 3: merge segment runs into the final index. Decodes each
    * segment's (docIds, tfs, posBlob) triples, re-groups per (field,
    * term, bucket) — disjoint sorted runs, so this is a merge — and
    * re-encodes with [[IndexBuilder.encodeIndexRows]], with tf-norms,
    * block maxima and rowMax computed from `docs` and `stats`: rows
    * byte-identical to a direct single-pass build. */
  def merge(spark: SparkSession, dir: String, docs: DataFrame,
      stats: CorpusStats, cfg: IndexConfig,
      segs: Option[Seq[String]] = None): DataFrame = {
    val exploded = segmentRows(spark, dir, segs).select(
        col("field"), col("term"),
        explode(arrays_zip(
          decodeDelta(cfg.codec, col("docIds")).as("d"),
          decodePlain(cfg.codec, col("tfs")).as("t"),
          col("positions").as("p"))).as("e"))
      .select(col("field"), col("term"),
        col("e.d").as("docId"), col("e.t").cast("int").as("tf"),
        col("e.p").as("posBlob"))
      .join(docs.select(col("docId"), col("docLen")), "docId")
    IndexBuilder.encodeIndexRows(IndexBuilder.plistRows(exploded,
      IndexBuilder.tfNorm(col("tf"), col("docLen"), stats.avgDocLen, cfg),
      cfg), cfg)
  }

  /** The one index assembler, for the batch and streaming builds: the
    * queryable tables over a docs registry and the segments `segs` (all
    * of them when None) — corpus stats from `docs`, the [[merge]], df
    * from the segments' posting counts, and the per-bucket norms. */
  private[graft] def assemble(spark: SparkSession, dir: String,
      docs: DataFrame, cfg: IndexConfig,
      segs: Option[Seq[String]]): IndexTables = {
    val stats = IndexBuilder.corpusStats(docs)
    val termStats = segmentRows(spark, dir, segs)
      .groupBy(col("field"), col("term"))
      .agg(sum(col("n")).cast("bigint").as("df"))
    IndexTables(docs, merge(spark, dir, docs, stats, cfg, segs), termStats,
      IndexBuilder.buildNorms(docs, cfg), stats, cfg)
  }

  /** Full resumable build: global docs phase (cheap, rerun each time —
    * at production scale this would be a checkpointed table too),
    * the missing segments' postings as concurrent jobs (done segments
    * skipped by their lineage), assemble, persist. */
  def build(corpusWithDocId: DataFrame, dir: String, nSegments: Int,
      cfg: IndexConfig = IndexConfig()): IndexTables = {
    val docs = IndexBuilder.buildDocs(corpusWithDocId)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Jobs.concurrently((0 until nSegments)
      .filterNot(segmentDone(dir, _, nSegments, cfg.bucketBits, cfg.codec))
      .map(s => () => buildSegment(corpusWithDocId, dir, s, nSegments, cfg)))
    val t = assemble(corpusWithDocId.sparkSession, dir, docs, cfg,
      Some((0 until nSegments).map(_.toString)))
    IndexStore.write(t, dir)
    t
  }

  /** Manifest-diff resumability (pairs with `RawFiles.diffManifest`):
    * drop the lineage records of every segment owning a changed repo,
    * so the next [[build]] re-runs exactly those segments and reuses
    * the rest. Sound ONLY for in-place edits: docIds are dense (repo,
    * path) ranks, so when the diff reports `pathSetChanged` the caller
    * must [[invalidateAll]] instead (ids shifted globally). An edit that
    * moves the corpus stats needs nothing more: segments are stats-free
    * and the merge recomputes every tf-norm. Segment ids come from the SAME
    * xxhash64 expression the build partitions by — one tiny Spark job,
    * no driver-side hash reimplementation to drift. Returns the
    * invalidated segment ids. */
  def invalidateSegments(dir: String, changedRepos: DataFrame,
      nSegments: Int): Seq[Int] = {
    val segs = changedRepos
      .select(pmod(xxhash64(col("repo")), lit(nSegments)).cast("int")
        .as("seg"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    segs.foreach(s => Files.deleteIfExists(lineagePath(dir, s.toString)))
    segs
  }

  /** Full invalidation: every segment rebuilds on the next [[build]]
    * (path-set changes). */
  def invalidateAll(dir: String, nSegments: Int): Seq[Int] = {
    (0 until nSegments).foreach(s =>
      Files.deleteIfExists(lineagePath(dir, s.toString)))
    0 until nSegments
  }

  /** The lineage/metrics table (one row per completed segment). */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Paths.get(s"$dir/_lineage")
    val rows =
      if (!Files.exists(p)) Seq.empty[String]
      else {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          // every segment record, batch and streaming
          s.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".json"))
            .map(f => Files.readString(f)).toList
        } finally s.close()
      }
    spark.read.json(spark.createDataset(rows))
  }
}
