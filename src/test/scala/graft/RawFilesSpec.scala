package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.RawFiles

/** Raw-file corpus source: a directory tree must read as the standard
  * (repo, path, commit, lang, content) table, reject binary blobs via
  * the UTF-8 gate, satisfy the per-row sha256 invariant, and feed the
  * normal build + query path unchanged. */
class RawFilesSpec extends SparkSpec {
  import spark.implicits._

  test("directory tree reads as the corpus shape; binary blobs rejected") {
    val root = Files.createTempDirectory("graft-raw").toString
    def write(p: String, bytes: Array[Byte]): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
      ()
    }
    write("repoA/src/Main.scala",
      "object Main { val x = 1 }".getBytes(StandardCharsets.UTF_8))
    write("repoA/README.md", "hash table lookup".getBytes(StandardCharsets.UTF_8))
    write("repoB/lib/util.py", "def f():\n  return 42".getBytes(StandardCharsets.UTF_8))
    write("ROOTFILE", "top level".getBytes(StandardCharsets.UTF_8))
    // names Spark's file sources silently hide (`_`/`.` prefixes) — a
    // code corpus MUST keep these (every Python package has __init__.py)
    write("repoB/pkg/__init__.py", "import os".getBytes(StandardCharsets.UTF_8))
    write("repoA/.github/ci.yml", "on: push".getBytes(StandardCharsets.UTF_8))
    // invalid UTF-8 (0xC3 not followed by a continuation byte) → rejected
    write("repoB/blob.bin", Array[Byte](0x28, 0xC3.toByte, 0x28, 0xFF.toByte))

    val c = RawFiles.corpus(spark, root)
    assert(c.columns.toSeq == Seq("repo", "path", "commit", "lang", "content"))
    val rows = c.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(3))).toSet
    assert(rows == Set(
      ("repoA", "src/Main.scala", "scala"),
      ("repoA", "README.md", "md"),
      ("repoA", ".github/ci.yml", "yml"),
      ("repoB", "lib/util.py", "py"),
      ("repoB", "pkg/__init__.py", "py"),
      ("", "ROOTFILE", "")))
    // per-row invariant (input_hint): commit = sha256(content) prefix —
    // re-encoding the decoded content must reproduce the raw bytes' hash
    assert(c.filter(col("commit") =!=
      substring(sha2(encode(col("content"), "UTF-8"), 256), 1, 16)).isEmpty)

    // the raw-file corpus drives the standard build + query path
    val ix = graft.index.IndexBuilder.build(
      graft.index.DocIds.assign(c.as[RepoFile], 2),
      graft.index.IndexConfig(bucketBits = 4, indexPartitions = 2))
    val hits = graft.query.Engine.search(ix, "hash AND table", 10).collect()
    assert(hits.length == 1)
    assert(hits.head.getAs[String]("path") == "README.md")

    // oversize cap: files above maxFileBytes are skipped before any read
    // (Main.scala is 25 bytes, util.py is 20 — both over an 18-byte cap)
    val capped = RawFiles.corpus(spark, root, maxFileBytes = 18)
      .select("path").collect().map(_.getString(0)).toSet
    assert(capped ==
      Set("README.md", ".github/ci.yml", "ROOTFILE", "pkg/__init__.py"))
  }

  test("skew guard: one monorepo with 90% of files spans many read tasks") {
    val root = Files.createTempDirectory("graft-skew").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    (0 until 90).foreach(i => write(s"mono/src/f$i.scala", s"val x$i = $i"))
    (0 until 5).foreach(i => write(s"tinyA/a$i.py", s"a = $i"))
    (0 until 5).foreach(i => write(s"tinyB/b$i.py", s"b = $i"))

    val withPid = RawFiles.corpus(spark, root, parallelism = 8)
      .withColumn("pid", spark_partition_id())
    assert(withPid.count() == 100)
    // the read stage must NOT serialize the hot repo behind one walker:
    // its 90 files spread across (nearly) all 8 read tasks
    val monoTasks = withPid.filter(col("repo") === "mono")
      .select("pid").distinct().count()
    assert(monoTasks >= 4, s"monorepo read used only $monoTasks tasks")
  }

  test("stage-1 LISTING of one monorepo spreads across tasks") {
    val root = Files.createTempDirectory("graft-listskew").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    // 90% of files in one repo, split between depth-2 files (file
    // units) and deeper subtrees (dir units) — both unit shapes must
    // participate and the walk must NOT serialize in one task
    (0 until 30).foreach(i => write(s"mono/src/f$i.scala", s"val a$i = $i"))
    (0 until 30).foreach(i => write(s"mono/src/core/d$i.scala", s"val b$i = $i"))
    (0 until 30).foreach(i => write(s"mono/lib/vendor/v$i.py", s"c$i = $i"))
    (0 until 10).foreach(i => write(s"tiny/t$i.py", s"t = $i"))

    val refs = RawFiles.listing(spark, root, parallelism = 8)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the listing output lives in the partition whose task WALKED it
      // (mapPartitions preserves the unit repartition), so distinct
      // non-empty output partitions == tasks that did listing work
      val monoTasks = refs.rdd
        .mapPartitionsWithIndex((pid, it) =>
          it.filter(_.repo == "mono").map(_ => pid))
        .distinct().count()
      assert(monoTasks > 1, s"monorepo LISTING ran in $monoTasks task(s)")
      // and the chunked walk still lists exactly the right files
      assert(refs.count() == 100)
      val monoPaths = refs.collect().filter(_.repo == "mono").map(_.path).toSet
      assert(monoPaths.size == 90)
      assert(monoPaths.contains("src/f0.scala"))
      assert(monoPaths.contains("src/core/d0.scala"))
      assert(monoPaths.contains("lib/vendor/v0.py"))
    } finally { refs.unpersist(); () }
  }

  test("manifest records skipped files: a binary blob must not poison the diff") {
    val root = Files.createTempDirectory("graft-skip").toString
    val mdir = Files.createTempDirectory("graft-skip-m").toString
    def write(p: String, bytes: Array[Byte]): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
      ()
    }
    write("r/ok.md", "hash table".getBytes(StandardCharsets.UTF_8))
    // invalid UTF-8 → read gate rejects it, but it IS a listed file
    write("r/blob.bin", Array[Byte](0x28, 0xC3.toByte, 0x28, 0xFF.toByte))
    // oversize → skipped before any read, also a listed file
    write("r/big.md", ("x" * 200).getBytes(StandardCharsets.UTF_8))

    val c = RawFiles.ingest(spark, root, mdir, maxFileBytes = 64)
    assert(c.select("path").collect().map(_.getString(0)).toSet == Set("ok.md"))
    // the manifest snapshots ALL THREE with an ingested flag
    val m = RawFiles.readManifest(spark, mdir).collect()
      .map(r => r.getAs[String]("path") ->
        (r.getAs[Boolean]("ingested"), Option(r.getAs[String]("sha"))))
      .toMap
    assert(m.keySet == Set("ok.md", "blob.bin", "big.md"))
    assert(m("ok.md")._1 && m("ok.md")._2.nonEmpty)
    assert(!m("blob.bin")._1 && m("blob.bin")._2.isEmpty)
    assert(!m("big.md")._1 && m("big.md")._2.isEmpty)
    // UNCHANGED tree → EMPTY diff: without the skip rows the blob would
    // read as "added" on every diff and permanently force full rebuilds
    val d = RawFiles.diffManifest(RawFiles.listing(spark, root),
      RawFiles.readManifest(spark, mdir))
    assert(!d.pathSetChanged && d.changedRepos.isEmpty,
      "skipped files false-positived the manifest diff")
    // manifest-driven reread opens only the ingested row
    assert(RawFiles.corpusFromManifest(spark, root, mdir, maxFileBytes = 64)
      .select("path").collect().map(_.getString(0)).toSet == Set("ok.md"))
  }

  test("size cap is re-checked at read time, not trusted from the manifest") {
    val root = Files.createTempDirectory("graft-grow").toString
    val mdir = Files.createTempDirectory("graft-grow-m").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    write("r/small.md", "tiny")
    write("r/other.md", "also tiny")
    val cap = 64L
    RawFiles.ingest(spark, root, mdir, maxFileBytes = cap)
    // the file grows past the cap AFTER the snapshot: a manifest-driven
    // read must not ride the stale 4-byte row into an unbounded read
    write("r/small.md", "x" * 500)
    val got = RawFiles.corpusFromManifest(spark, root, mdir,
        maxFileBytes = cap)
      .select("path").collect().map(_.getString(0)).toSet
    assert(got == Set("other.md"), got.toString)
  }

  test("manifest: ingest snapshot, diff-driven reread, segment reuse") {
    val root = Files.createTempDirectory("graft-manif").toString
    val mdir = Files.createTempDirectory("graft-manif-out").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    (0 until 4).foreach { r =>
      (0 until 6).foreach(i =>
        write(s"repo$r/f$i.md", s"hash table entry $r $i lookup"))
    }

    // ingest = corpus + manifest in one pass; manifest-driven reread
    // must equal the walked corpus exactly
    val c0 = RawFiles.ingest(spark, root, mdir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(key(c0) == key(RawFiles.corpus(spark, root)))
    assert(key(RawFiles.corpusFromManifest(spark, root, mdir)) == key(c0))
    val manifest = RawFiles.readManifest(spark, mdir)
    assert(manifest.columns.toSet ==
      Set("repo", "path", "size", "mtime", "sha", "ingested"))

    // build the segmented index off the manifest-driven corpus
    val cfg = graft.index.IndexConfig(bucketBits = 4, indexPartitions = 2)
    val idir = Files.createTempDirectory("graft-manif-ix").toString
    def corpusNow() = graft.index.DocIds.assign(
      RawFiles.corpus(spark, root).as[RepoFile], 2)
    graft.index.SegmentedBuild.build(corpusNow(), idir, 4, cfg)

    def lineageJson(s: Int) = java.nio.file.Files.readString(
      Paths.get(idir, "_lineage", s"seg-$s.json"))

    // no change → empty diff, nothing invalidated
    val same = RawFiles.diffManifest(RawFiles.listing(spark, root), manifest)
    assert(!same.pathSetChanged && same.changedRepos.isEmpty)
    assert(graft.index.SegmentedBuild
      .invalidateSegments(idir, same.changedRepos, 4).isEmpty)

    // IN-PLACE edit (same path set, same docLen → ids and stats stable):
    // the diff names exactly that repo, only its segment rebuilds
    write("repo2/f0.md", "hash table changed 2 0 lookup")
    val diffA =
      RawFiles.diffManifest(RawFiles.listing(spark, root), manifest)
    assert(!diffA.pathSetChanged, "in-place edit must not change the path set")
    assert(diffA.changedRepos.collect().map(_.getString(0)).toSeq ==
      Seq("repo2"))
    val inval = graft.index.SegmentedBuild
      .invalidateSegments(idir, diffA.changedRepos, 4)
    assert(inval.nonEmpty)
    (0 until 4).foreach { s =>
      assert(graft.index.SegmentedBuild.segmentDone(idir, s) ==
        !inval.contains(s))
    }
    val untouched = (0 until 4).filterNot(inval.contains)
    val beforeA = untouched.map(s => s -> lineageJson(s)).toMap
    val rebuiltA = graft.index.SegmentedBuild.build(corpusNow(), idir, 4, cfg)
    // untouched segments were SKIPPED (identical lineage records — a
    // rebuild would have re-stamped durationMs), refreshed index equals
    // a from-scratch build of the edited corpus
    untouched.foreach(s => assert(lineageJson(s) == beforeA(s),
      s"segment $s was rebuilt despite an untouched repo set"))
    IndexParity.assertSameTables(rebuiltA,
      graft.index.IndexBuilder.build(corpusNow(), cfg))

    // PATH-SET change (new file): docIds are dense ranks, so ids shift
    // globally — the diff says so and everything invalidates
    RawFiles.ingest(spark, root, mdir) // refresh the snapshot post-edit
    write("repo2/new.md", "fresh content for the diff to find")
    val diffB = RawFiles.diffManifest(RawFiles.listing(spark, root),
      RawFiles.readManifest(spark, mdir))
    assert(diffB.pathSetChanged, "added file must flag a path-set change")
    assert(graft.index.SegmentedBuild.invalidateAll(idir, 4) ==
      (0 until 4))
    (0 until 4).foreach(s =>
      assert(!graft.index.SegmentedBuild.segmentDone(idir, s)))
    val rebuiltB = graft.index.SegmentedBuild.build(corpusNow(), idir, 4, cfg)
    IndexParity.assertSameTables(rebuiltB,
      graft.index.IndexBuilder.build(corpusNow(), cfg))
  }

  test("an edit that changes a document's length rebuilds only its segment") {
    val root = Files.createTempDirectory("graft-grow-doc").toString
    val mdir = Files.createTempDirectory("graft-grow-doc-m").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    (0 until 4).foreach { r =>
      (0 until 6).foreach(i =>
        write(s"repo$r/f$i.md", s"hash table entry $r $i lookup"))
    }
    RawFiles.ingest(spark, root, mdir)
    val cfg = graft.index.IndexConfig(bucketBits = 4, indexPartitions = 2)
    val idir = Files.createTempDirectory("graft-grow-doc-ix").toString
    def corpusNow() = graft.index.DocIds.assign(
      RawFiles.corpus(spark, root).as[RepoFile], 2)
    val first = graft.index.SegmentedBuild.build(corpusNow(), idir, 4, cfg)

    // same path set, but the edited document grows: avgDocLen drifts
    write("repo1/f0.md", "hash table entry 1 0 lookup now runs much longer")
    val diff = RawFiles.diffManifest(RawFiles.listing(spark, root),
      RawFiles.readManifest(spark, mdir))
    assert(!diff.pathSetChanged)
    val inval = graft.index.SegmentedBuild
      .invalidateSegments(idir, diff.changedRepos, 4)
    assert(inval.size == 1)
    // a lineage record's text and mtime: a rewrite changes the mtime
    // even when the text comes out the same
    def record(s: Int) = {
      val p = Paths.get(idir, "_lineage", s"seg-$s.json")
      (Files.readString(p), Files.getLastModifiedTime(p))
    }
    val untouched = (0 until 4).filterNot(inval.contains)
    val before = untouched.map(s => s -> record(s)).toMap
    val refreshed = graft.index.SegmentedBuild.build(corpusNow(), idir, 4, cfg)
    assert(refreshed.stats.avgDocLen != first.stats.avgDocLen)
    untouched.foreach(s => assert(record(s) == before(s),
      s"segment $s was rebuilt, but none of its repos changed"))
    assert(graft.index.SegmentedBuild.segmentDone(idir, inval.head))
    IndexParity.assertSameTables(refreshed,
      graft.index.IndexBuilder.build(corpusNow(), cfg))
  }

  test("symlinks are never followed into directories (no double ingest)") {
    val root = Files.createTempDirectory("graft-symlink")
    Files.createDirectories(root.resolve("repoA/src/deep"))
    Files.write(root.resolve("repoA/src/Main.scala"),
      "object Main".getBytes(StandardCharsets.UTF_8))
    Files.write(root.resolve("repoA/src/deep/Util.scala"),
      "object Util".getBytes(StandardCharsets.UTF_8))
    // root-level symlink-to-dir: following it would ingest repoA twice
    // under two repo names, shifting every dense docId (and a link to an
    // ancestor would walk forever)
    Files.createSymbolicLink(root.resolve("mirror"), root.resolve("repoA"))
    // depth-1 and depth-2 symlinks-to-dir inside a repo: same rule
    Files.createSymbolicLink(root.resolve("repoA/srclink"),
      root.resolve("repoA/src"))
    Files.createSymbolicLink(root.resolve("repoA/src/deeplink"),
      root.resolve("repoA/src/deep"))
    // a symlink to a regular FILE is ingested (isRegularFile follows it)
    Files.createSymbolicLink(root.resolve("alias.scala"),
      root.resolve("repoA/src/Main.scala"))
    val rows = RawFiles.corpus(spark, root.toString)
      .select("repo", "path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(
      ("repoA", "src/Main.scala"),
      ("repoA", "src/deep/Util.scala"),
      ("", "alias.scala")), rows.toString)
  }

  test("corpusFromManifest tolerates a pre-`ingested`-flag manifest") {
    val root = Files.createTempDirectory("graft-legacy").toString
    val mdir = Files.createTempDirectory("graft-legacy-m").toString
    val mdirOld = Files.createTempDirectory("graft-legacy-old").toString
    def write(p: String, text: String): Unit = {
      val f = Paths.get(root, p)
      Files.createDirectories(f.getParent)
      Files.write(f, text.getBytes(StandardCharsets.UTF_8))
      ()
    }
    write("r/a.md", "hash table")
    write("r/b.md", "parse tree")
    RawFiles.ingest(spark, root, mdir)
    // a manifest written before skips were recorded has no `ingested`
    // column — every row in it WAS ingested, and the first run after an
    // upgrade must read it that way instead of dying on the missing
    // column until someone manually re-ingests
    RawFiles.readManifest(spark, mdir).drop("ingested")
      .write.mode("overwrite").parquet(s"$mdirOld/_manifest")
    val got = RawFiles.corpusFromManifest(spark, root, mdirOld)
      .select("path").collect().map(_.getString(0)).toSet
    assert(got == Set("a.md", "b.md"), got.toString)
  }
}
