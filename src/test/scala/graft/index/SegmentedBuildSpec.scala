package graft.index

import java.nio.file.Files

import graft.IndexParity.assertSameTables
import graft.SparkSpec
import graft.corpus.CorpusGen

/** Resumable segmented build (north rule: per-partition segment merge,
  * lineage metadata, resumable rebuilds): the merged segmented index must
  * be byte-identical to the direct single-pass build, an interrupted
  * build must resume by skipping completed segments, and the lineage
  * table must record every segment. */
class SegmentedBuildSpec extends SparkSpec {

  val NDocs = 200
  lazy val cfg: IndexConfig = IndexConfig(bucketBits = 5, indexPartitions = 4)
  lazy val corpus =
    DocIds.assign(CorpusGen.generate(spark, NDocs, 4), 4)
      .persist()

  test("segmented build + merge is byte-identical to the direct build") {
    val dir = Files.createTempDirectory("graft-seg").toString
    val direct = IndexBuilder.build(corpus, cfg)
    val seg = SegmentedBuild.build(corpus, dir, nSegments = 3, cfg)
    assert(seg.stats == direct.stats)
    // every table, df through the segment-level aggregation path included
    assertSameTables(seg, direct)
  }

  test("interrupted build resumes: done segments skipped, output identical") {
    val dir = Files.createTempDirectory("graft-resume").toString

    // phase 1 of an interrupted run: only segment 0 completes
    val n0 = SegmentedBuild.buildSegment(corpus, dir, 0, 3, cfg)
    assert(n0 >= 0)
    assert(SegmentedBuild.segmentDone(dir, 0))
    assert(!SegmentedBuild.segmentDone(dir, 1))

    // the resumed full build must skip segment 0 (buildSegment returns -1)
    assert(SegmentedBuild.buildSegment(corpus, dir, 0, 3, cfg) == -1L)
    val resumed = SegmentedBuild.build(corpus, dir, nSegments = 3, cfg)
    assertSameTables(resumed, IndexBuilder.build(corpus, cfg))

    // lineage: one row per segment with the build metadata AND metrics
    // (docs / postings / bytes / durationMs — north rule: per-partition
    // lineage + metrics)
    val lin = SegmentedBuild.lineage(spark, dir)
    assert(lin.count() == 3)
    assert(lin.select("status").collect().forall(_.getString(0) == "done"))
    val metrics = lin.select("docs", "postings", "bytes", "durationMs")
      .collect()
    assert(metrics.forall(r => r.getLong(0) > 0 && r.getLong(1) > 0 &&
      r.getLong(2) > 0 && r.getLong(3) >= 0))
    // every doc landed in exactly one segment
    assert(lin.agg(org.apache.spark.sql.functions.sum("docs")).head()
      .getLong(0) == NDocs)
  }

  test("rerun with different nSegments rebuilds instead of reusing stale segments") {
    val dir = Files.createTempDirectory("graft-reseg").toString
    // first build with 4 segments
    SegmentedBuild.build(corpus, dir, nSegments = 4, cfg)
    // a segment from the 4-way scheme must NOT count as done for a
    // 2-way rerun (it covers a different corpus slice)
    assert(!SegmentedBuild.segmentDone(dir, 0, nSegments = 2,
      bucketBits = cfg.bucketBits))
    // and the full 2-way rerun still matches the direct build exactly
    val re = SegmentedBuild.build(corpus, dir, nSegments = 2, cfg)
    assertSameTables(re, IndexBuilder.build(corpus, cfg))
  }

  test("rerun with a different codec rebuilds instead of decoding stale segments") {
    val dir = Files.createTempDirectory("graft-recodec").toString
    SegmentedBuild.build(corpus, dir, nSegments = 3, cfg)
    val gv = cfg.copy(codec = "groupvarint")
    // a varbyte segment must NOT count as done for a group-varint rerun
    assert(!SegmentedBuild.segmentDone(dir, 0, nSegments = 3,
      bucketBits = gv.bucketBits, codec = gv.codec))
    val re = SegmentedBuild.build(corpus, dir, nSegments = 3, gv)
    assertSameTables(re, IndexBuilder.build(corpus, gv))
  }
}
