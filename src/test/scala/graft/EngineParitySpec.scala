package graft

import org.apache.spark.sql.DataFrame

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig, IndexTables}
import graft.oracle.BruteForce
import graft.query.{Engine, QueryParser, Wand}

/** End-to-end parity: Spark pipeline vs no-Spark brute-force oracle on
  * the seeded synthetic corpus — boolean semantics, BM25 ranking, span
  * ranking, and the WAND path (FIXTURES.md §5, SURVEY.md §5). */
class EngineParitySpec extends SparkSpec {
  import spark.implicits._

  val NDocs = 300
  // small bucketBits so the corpus spans multiple buckets (salting path)
  lazy val cfg: IndexConfig = IndexConfig(bucketBits = 6, indexPartitions = 8)
  lazy val files: Seq[RepoFile] = (0L until NDocs).map(CorpusGen.genDoc)
  lazy val oracle: BruteForce.Index = BruteForce.index(files)
  lazy val ix: IndexTables = {
    val corpus = DocIds.assign(CorpusGen.generate(spark, NDocs, 8), 8)
    IndexBuilder.build(corpus, cfg)
  }

  // FIXTURES.md §5 reference query set, plus a quoted phrase (exercises
  // the phrase doc set AND the URL scorer's group-size>1 bonuses)
  val QuerySet = Seq(
    "parse tree", "state of the machine", "hash table lookup",
    "computer science", "tokenizer", "first day of class",
    "\"hash table\"")

  def hits(df: DataFrame): Seq[(Long, Double)] =
    df.select("docId", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** `got` ranks the same docs in the same order as the oracle's bm25
    * top-32 for `q`, each score within 1e-9. */
  def assertOracleRank(got: Seq[(Long, Double)], q: String,
      what: String): Unit = {
    val want = oracle.search(q, 32, "bm25")
    assert(got.map(_._1) == want.map(_.docId), s"$what rank for '$q'")
    got.zip(want).foreach { case ((_, gs), w) =>
      assert(math.abs(gs - w.score) < 1e-9, s"$what score for '$q'")
    }
  }

  test("randomized query fuzz: BM25 and span rank-identical to oracle") {
    // 20 random 1-3 term queries drawn from the corpus vocabulary
    // (seeded — reproducible); every one must be rank- AND score-
    // identical on both scorers, not just the fixed reference set
    val rnd = new scala.util.Random(4242)
    val vocab = files.flatMap(f => graft.index.Tokenizer.tokenize(f.content))
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy(-_._2).map(_._1).take(200).toIndexedSeq
    val queries = (0 until 20).map { _ =>
      val n = 1 + rnd.nextInt(3)
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" ")
    }.distinct
    queries.foreach { q =>
      Seq("bm25", "span").foreach { scorer =>
        val got = hits(Engine.search(ix, q, 32, scorer))
        val want = oracle.search(q, 32, scorer)
        assert(got.map(_._1) == want.map(_.docId), s"$scorer rank for '$q'")
        got.zip(want).foreach { case ((_, gs), w) =>
          assert(math.abs(gs - w.score) < 1e-9, s"$scorer score for '$q'")
        }
      }
    }
    // WAND (block-at-a-time seeks) must stay lossless on random term
    // mixes too — disjunctive top-k vs the oracle's full BM25 scan
    queries.take(8).foreach { q =>
      val terms = QueryParser.parse(q).get.terms
      val got = Wand.topK(ix, terms, 16).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.docs.map(d => (d.docId, oracle.bm25(terms, d.docId)))
        .filter(_._2 > 0.0).sortBy(h => (-h._2, h._1)).take(16)
      assert(got == want, s"WAND for '$q'")
    }
  }

  /** `DocIds.assign(files, partitions)` as (docId, repo, path, commit)
    * in docId order, after asserting its layout: each output partition
    * holds one contiguous, ascending docId range, and the ranges follow
    * partition order. */
  def assignedIds(files: Seq[RepoFile], partitions: Int)
      : Seq[(Long, String, String, String)] = {
    val assigned = DocIds.assign(spark.createDataset(files)
      .repartition(5), partitions)
    val perPartition = assigned.rdd.glom().collect().toSeq
      .map(_.map(r => r.getLong(0)).toSeq)
    perPartition.filter(_.nonEmpty).foreach { ids =>
      assert(ids == (ids.head until ids.head + ids.size),
        s"partition ids not one contiguous ascending range: $ids")
    }
    assert(perPartition.flatten == (0L until files.size),
      s"partitions=$partitions")
    assigned.select("docId", "repo", "path", "commit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1).toSeq
  }

  test("docId assignment matches oracle dense rank") {
    val got = ix.docs.select("docId", "repo", "path")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val want = oracle.docs.map(d => (d.docId, d.file.repo, d.file.path))
    assert(got.toSeq == want)
    // the ids do not depend on the partition count
    val byRank = oracle.docs.map(d =>
      (d.docId, d.file.repo, d.file.path, d.file.commit))
    Seq(1, 3, 8).foreach(p => assert(assignedIds(files, p) == byRank, s"partitions=$p"))
  }

  test("docId assignment on a skewed, shared-prefix corpus") {
    // every repo shares its first 12 chars and one repo holds ~40 % of
    // the files; some paths come in two commits, so commit breaks ties
    val rnd = new scala.util.Random(7)
    val files = (0 until 600).map { i =>
      val repo = if (i % 5 < 2) "github.com/a/big" else f"github.com/a/r${rnd.nextInt(30)}%02d"
      RepoFile(repo, s"src/f${rnd.nextInt(200)}.scala", f"${i % 3}%040d",
        "scala", s"object F$i")
    }.distinctBy(f => (f.repo, f.path, f.commit))
    assert(files.count(_.repo == "github.com/a/big").toDouble / files.size > 0.35)
    val want = files.sortBy(f => (f.repo, f.path, f.commit)).zipWithIndex
      .map { case (f, i) => (i.toLong, f.repo, f.path, f.commit) }
    Seq(1, 3, 8).foreach(p => assert(assignedIds(files, p) == want, s"partitions=$p"))
  }

  test("per-row content sha256 equality (north-rule invariant)") {
    val got = ix.docs.select("docId", "contentSha256").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    oracle.docs.foreach { d =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val want = md.digest(d.file.content.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(got(d.docId) == want, s"sha mismatch doc ${d.docId}")
    }
  }

  test("docLen and df match oracle") {
    val lens = ix.docs.select("docId", "docLen").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    oracle.docs.foreach(d => assert(lens(d.docId) == d.docLen))
    val dfs = ix.termStats.filter($"field" === "body")
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    Seq("if", "return", "computer", "science", "rareterm00001").foreach { t =>
      assert(dfs.getOrElse(t, 0L) == oracle.df(t), s"df($t)")
    }
  }

  test("boolean doc sets match oracle (AND / OR / NOT / phrase)") {
    val qs = Seq("computer AND science", "parse OR tree",
      "hash table NOT rareterm00001", "\"computer science\"",
      "(parse OR tree) AND if")
    qs.foreach { q =>
      val expr = QueryParser.parse(q).get
      val got = Engine.docSet(ix, expr).collect().map(_.getLong(0)).toSet
      val want = oracle.docSet(expr)
      assert(got == want, s"docSet($q)")
    }
  }

  test("BM25 top-k rank-identical to oracle on the reference query set") {
    QuerySet.foreach(q =>
      assertOracleRank(hits(Engine.search(ix, q, 32, "bm25")), q, "bm25"))
  }

  test("span ranker rank-identical to oracle") {
    QuerySet.foreach { q =>
      val got = hits(Engine.search(ix, q, 32, "span"))
      val want = oracle.search(q, 32, "span")
      assert(got.map(_._1) == want.map(_.docId), s"span rank for '$q'")
      got.zip(want).foreach { case ((_, gs), w) =>
        assert(math.abs(gs - w.score) < 1e-9, s"span score for '$q'")
      }
    }
  }

  test("WAND top-k equals DataFrame BM25 top-k (pruning is lossless)") {
    QuerySet.foreach { q =>
      val terms = QueryParser.parse(q).get.terms
      val got = hits(Wand.topK(ix, terms, 32))
      val want = oracle.search(terms.distinct.sorted.mkString(" OR "), 32, "bm25")
      // WAND is disjunctive: compare against oracle OR-semantics ranking
      assert(got.map(_._1) == want.map(_.docId), s"wand rank for '$q'")
      got.zip(want).foreach { case ((_, gs), w) =>
        assert(math.abs(gs - w.score) < 1e-9, s"wand score for '$q'")
      }
    }
  }

  test("constraint-aware WAND serving path == Engine.search on boolean queries") {
    // the round-2 gap: the serving path answered NOT/phrase/multi-term
    // queries with bag-of-words semantics. topKExpr must produce the
    // oracle's doc set, order and scores on the reference query set
    // PLUS NOT / phrase / paren / mixed queries, and Engine.search must
    // return exactly that ranking.
    val qs = QuerySet ++ Seq(
      "hash table NOT rareterm00001",
      "computer NOT science",
      "\"computer science\" OR tokenizer",
      "(parse OR tree) AND if",
      "(parse OR tree) NOT machine",
      "state AND \"the machine\"",
      "hash NOT \"computer science\"")
    qs.foreach { q =>
      val got = hits(Wand.topKExpr(ix, QueryParser.parse(q).get, 32))
      assertOracleRank(got, q, "serving")
      // Engine.search (Wand.search: topKExpr joined to docs) must
      // preserve exactly this ordering and these scores
      val served = hits(Engine.search(ix, q, 32, "bm25"))
      assert(served == got, s"Engine.search join reorder for '$q'")
    }
    // the pinned df dictionary (serving-loop fast path) must be
    // result-identical to the per-query df lookup — both the complete
    // form and a BOUNDED one far smaller than the test vocabulary, so
    // the per-query miss-fallback path actually executes
    val dict = Some(Wand.dfDictionary(ix))
    assert(dict.get.complete, "unbounded dictionary must be complete")
    val bounded = Some(Wand.dfDictionary(ix, maxTerms = 5))
    assert(!bounded.get.complete, "5-term cap must truncate the test vocab")
    assert(bounded.get.dfs.size == 5)
    qs.take(4).foreach { q =>
      val expr = QueryParser.parse(q).get
      val want = hits(Wand.topKExpr(ix, expr, 32))
      assert(hits(Wand.topKExpr(ix, expr, 32, dfs = dict)) == want,
        s"df-dictionary drift for '$q'")
      assert(hits(Wand.topKExpr(ix, expr, 32, dfs = bounded)) == want,
        s"bounded df-dictionary drift for '$q'")
    }
  }

  test("randomized boolean-AST fuzz: serving path rank-identical to oracle") {
    // seeded random expression trees (nested AND/OR/NOT, quoted phrases,
    // parens) rendered to the query grammar; WAND and the oracle parse
    // the same string with the same parser, so any doc-set or score
    // divergence is a ConstraintEval/WAND bug, not a parser quirk.
    // Harder than the fixed set above: NOT under OR, exclude-side
    // phrases, stopword leaves.
    val rnd = new scala.util.Random(777)
    val vocab = files.flatMap(f => graft.index.Tokenizer.tokenize(f.content))
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy(-_._2).map(_._1).take(60).toIndexedSeq
    def term(): String = vocab(rnd.nextInt(vocab.size))
    def gen(depth: Int): String =
      if (depth == 0) {
        if (rnd.nextInt(4) == 0) "\"" + term() + " " + term() + "\""
        else term()
      } else rnd.nextInt(3) match {
        case 0 => s"(${gen(depth - 1)} AND ${gen(depth - 1)})"
        case 1 => s"(${gen(depth - 1)} OR ${gen(depth - 1)})"
        case _ => s"(${gen(depth - 1)} NOT ${gen(depth - 1)})"
      }
    val qs = (0 until 25).map(_ => gen(1 + rnd.nextInt(2))).distinct
    var checked = 0
    qs.foreach { q =>
      QueryParser.parse(q).foreach { expr =>
        assertOracleRank(hits(Wand.topKExpr(ix, expr, 32)), q, "fuzz serving")
        checked += 1
      }
    }
    assert(checked >= 20, s"fuzz generated too few parseable queries: $checked")
  }

  test("top-k stable under different parallelism (determinism)") {
    val corpus2 = DocIds.assign(CorpusGen.generate(spark, NDocs, 3), 3)
    val ix2 = IndexBuilder.build(corpus2, cfg.copy(indexPartitions = 3))
    QuerySet.take(3).foreach { q =>
      assert(hits(Engine.search(ix, q, 32)) == hits(Engine.search(ix2, q, 32)),
        s"parallelism instability for '$q'")
    }
  }
}
