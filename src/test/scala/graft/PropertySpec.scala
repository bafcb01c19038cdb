package graft

import org.apache.spark.sql.DataFrame

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig, IndexTables}
import graft.query.{And, Engine, Or, Phrase, QueryParser, SeqAnd, Term}

/** Algebraic properties of the query engine over seeded random queries
  * (SURVEY.md §5): AND ⊆ each side ⊆ OR, NOT disjointness, phrase ⊆ AND
  * of its terms, BM25 score monotonicity in tf, df consistency. */
class PropertySpec extends SparkSpec {

  val NDocs = 250
  lazy val ix: IndexTables = IndexBuilder.build(
    DocIds.assign(CorpusGen.generate(spark, NDocs, 4), 4),
    IndexConfig(bucketBits = 5, indexPartitions = 4))

  private val rnd = new scala.util.Random(7)
  private def randTerm(): String =
    if (rnd.nextBoolean()) CorpusGen.MidTerms(rnd.nextInt(CorpusGen.MidTerms.length))
    else CorpusGen.HotTerms(rnd.nextInt(CorpusGen.HotTerms.length))

  private def docs(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("degenerate documents survive build + query + curation (ANSI-safe)") {
    // the realistic poison rows of a 100-TB corpus: empty files,
    // whitespace/punctuation-only files, a minified one-token blob.
    // Under Spark 4's default ANSI mode any unguarded ratio/divide on
    // these throws and aborts the whole job — every path here must
    // degrade, not crash, and the normal docs must stay queryable.
    import spark.implicits._
    val sha = (s: String) => java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    val docsIn = Seq(
      ("r", "empty.md", ""),
      ("r", "blank.md", "   \n\t  \n"),
      ("r", "punct.md", "!!! ??? ... ;;; ---"),
      ("r", "blob.min.js", "x" * 20000),
      ("r", "a.md", "hash table lookup parse tree"),
      ("r", "b.md", "the quick hash table")
    ).map { case (r, p, c) => RepoFile(r, p, sha(c), "md", c) }.toDS()
    val dix = IndexBuilder.build(DocIds.assign(docsIn, 2),
      IndexConfig(bucketBits = 4, indexPartitions = 2))
    // every doc is registered, zero-token docs carry docLen 0
    val lens = dix.docs.collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Int]("docLen")).toMap
    assert(lens.size == 6)
    assert(lens("empty.md") == 0 && lens("blank.md") == 0)
    assert(lens("punct.md") == 0)
    // tokens over MaxTokenLen (50) are dropped by design: the minified
    // blob contributes NO postings but stays registered and queryable
    assert(lens("blob.min.js") == 0)
    // conjunctive and disjunctive top-k still answer over the polluted
    // index, agreeing
    val bm = Engine.search(dix, "hash table", 10).collect()
    assert(bm.map(_.getAs[String]("path")).toSet == Set("a.md", "b.md"))
    val wandDocs = graft.query.Wand.topK(dix, Seq("hash", "table"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(wandDocs == bm.map(_.getLong(0)).toSet)
    // curation ops: ratios guarded, no DIVIDE_BY_ZERO on any row
    val idDocs = docsIn.toDF().withColumn("id",
      org.apache.spark.sql.functions.monotonically_increasing_id())
    val q = graft.ops.TextAnalysis.qualityFeatures(idDocs, "id", "content")
      .collect()
    assert(q.length == 6)
    assert(graft.ops.TextAnalysis
      .repetitionFeatures(idDocs, "id", "content").count() == 6)
    assert(idDocs.select(graft.ops.TextAnalysis.langId(
      org.apache.spark.sql.functions.col("content"))).count() == 6)
    // exact dedup groups the two zero-token docs separately (different
    // raw content), nothing throws
    assert(graft.ops.Dedup.exact(idDocs, "id", "content").count() == 6)
  }

  test("AND ⊆ each operand ⊆ OR (20 random term pairs)") {
    (1 to 20).foreach { _ =>
      val (a, b) = (randTerm(), randTerm())
      val da = docs(Engine.docSet(ix, Term(a)))
      val db = docs(Engine.docSet(ix, Term(b)))
      val dAnd = docs(Engine.docSet(ix, And(Term(a), Term(b))))
      val dOr = docs(Engine.docSet(ix, Or(Term(a), Term(b))))
      assert(dAnd == (da intersect db), s"AND($a,$b)")
      assert(dOr == (da union db), s"OR($a,$b)")
    }
  }

  test("NOT excludes exactly the negative set (10 random pairs)") {
    (1 to 10).foreach { _ =>
      val (a, b) = (randTerm(), randTerm())
      val got = docs(Engine.docSet(ix,
        graft.query.AndNot(Term(a), Term(b))))
      val da = docs(Engine.docSet(ix, Term(a)))
      val db = docs(Engine.docSet(ix, Term(b)))
      assert(got == (da diff db), s"NOT($a,$b)")
    }
  }

  test("phrase matches are a subset of the conjunction (10 random bigrams)") {
    (1 to 10).foreach { _ =>
      val (a, b) = (randTerm(), randTerm())
      val ph = docs(Engine.docSet(ix, Phrase(Seq(a, b))))
      val conj = docs(Engine.docSet(ix, SeqAnd(Seq(Term(a), Term(b)))))
      assert(ph.subsetOf(conj), s"phrase($a $b)")
    }
  }

  test("planted phrase is found near the top positions") {
    val ph = docs(Engine.docSet(ix, Phrase(Seq("computer", "science"))))
    // CorpusGen plants "computer science" in every 7th/13th doc whose
    // length reaches the planting position (seed-fixed: 39 docs here)
    assert(ph.size >= 30)
    // and every planted docId is a genuine multiple of 7 or 13, or the
    // phrase arose from adjacent random mid-terms (possible but rare)
    assert(ph.count(i => i % 7 == 0 || i % 13 == 0) >= ph.size / 2)
  }

  test("skew salting: no index row exceeds the bucket capacity") {
    // hot terms ("if", "return") appear in ~every doc; the docId-range
    // bucket must bound every (field, term, bucket) group
    val cap = 1 << ix.config.bucketBits
    val maxN = ix.index.agg(org.apache.spark.sql.functions.max("n"))
      .head().getInt(0)
    assert(maxN <= cap, s"posting run $maxN exceeds bucket capacity $cap")
    // and hot terms really do split into multiple buckets
    val hotBuckets = ix.index
      .filter(org.apache.spark.sql.functions.col("term") === "if")
      .count()
    assert(hotBuckets > 1, s"expected 'if' split across buckets, got $hotBuckets")
  }

  test("BM25 contribution is monotonic in tf (same doc length)") {
    val k1 = ix.config.k1; val b = ix.config.b
    val avgdl = ix.stats.avgDocLen
    def norm(tf: Int, dl: Long): Double =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    (1 to 50).foreach { tf =>
      assert(norm(tf + 1, 1000) > norm(tf, 1000))
    }
  }

  test("df from termStats equals distinct docs in decoded postings") {
    val terms = (1 to 8).map(_ => randTerm()).distinct
    val dfs = Engine.termDfs(ix, terms)
    terms.foreach { t =>
      val posted = docs(Engine.postingsFor(ix, Seq(t))
        .select("docId").distinct())
      assert(dfs.getOrElse(t, 0L) == posted.size, s"df($t)")
    }
  }

  test("WAND stays lossless with a non-default block size") {
    val ix32 = IndexBuilder.build(
      DocIds.assign(CorpusGen.generate(spark, 150, 3), 3),
      IndexConfig(bucketBits = 5, blockSize = 32, indexPartitions = 3))
    val terms = Seq("computer", "science", "hash")
    val wand = graft.query.Wand.topK(ix32, terms, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val df = Engine.bm25Scores(ix32, terms)
      .orderBy(org.apache.spark.sql.functions.col("score").desc,
        org.apache.spark.sql.functions.col("docId").asc)
      .limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wand == df)
  }

  test("searchJson emits one parseable object per hit with the hit fields") {
    val lines = graft.tools.Serve.searchJson(ix, "computer science", 5, "bm25")
    assert(lines.nonEmpty && lines.length <= 5)
    lines.foreach { l =>
      assert(l.startsWith("{") && l.contains("\"docId\"") &&
        l.contains("\"score\"") && l.contains("\"repo\"") &&
        l.contains("\"path\""), l)
    }
  }

  test("searchJson escapes repo and path: every line parses, fields round-trip") {
    import spark.implicits._
    // a quote, a backslash and a control character in repo and path
    val odd = Seq(
      ("a\"quoted\"/repo", "dir\\sub/file.c", "computer science notes"),
      ("tab\trepo", "line\u0001break/\"x\".md", "computer hash table"),
      ("plain", "ok/path.md", "science of computer tables"))
    val corpus = odd.zipWithIndex.map { case ((repo, path, content), i) =>
      (i.toLong, repo, path, s"c$i", "md", content)
    }.toDF("docId", "repo", "path", "commit", "lang", "content")
    val small = IndexBuilder.build(corpus,
      IndexConfig(bucketBits = 1, indexPartitions = 2))
    val lines = graft.tools.Serve.searchJson(small, "computer", 5, "wand")
    assert(lines.length == 3)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val byId = odd.zipWithIndex.map { case ((r, p, _), i) => i.toLong -> (r, p) }
      .toMap
    lines.foreach { l =>
      val o = json.readTree(l)
      val (repo, path) = byId(o.get("docId").asLong())
      assert(o.get("repo").asText() == repo, l)
      assert(o.get("path").asText() == path, l)
      assert(o.get("score").isNumber && o.get("score").asDouble() > 0, l)
    }
  }

  test("all-stopword query degrades to its first token (reference rule)") {
    val e = QueryParser.parse("the of and").get
    assert(e == Term("the"))
  }

  test("trailing tokens after a stray ')' or second NOT are not dropped") {
    import graft.query.AndNot
    assert(QueryParser.parse("hash ) join").get ==
      And(Term("hash"), Term("join")))
    // the second NOT clause must still constrain the result
    val e = QueryParser.parse("hash NOT join NOT merge").get
    val got = docs(Engine.docSet(ix, e))
    val h = docs(Engine.docSet(ix, Term("hash")))
    val j = docs(Engine.docSet(ix, Term("join")))
    val m = docs(Engine.docSet(ix, Term("merge")))
    assert(got.intersect(m).isEmpty && got.intersect(j).isEmpty)
    assert(got.subsetOf(h))
  }

  test("empty-parse search returns the full result schema") {
    val df = Engine.search(ix, "((", 10)
    assert(df.columns.toSeq == Seq("docId", "score", "repo", "path"))
    assert(df.count() == 0)
  }

  test("redaction chain fuzz: counts, spans and re-redaction agree") {
    import spark.implicits._
    import graft.ops.TextAnalysis.{RedactPatterns, RedactToken, redact, redactSpans}
    val r = new scala.util.Random(11)
    def pick[T](xs: T*): T = xs(r.nextInt(xs.size))
    def chars(alphabet: String, n: Int): String =
      Seq.fill(n)(alphabet(r.nextInt(alphabet.length))).mkString
    def hex(n: Int) = chars("0123456789abcdef", n)
    def aws() = "AKIA" + chars("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ", 16)
    def assign(value: String) = {
      val q = pick("'", "\"")
      pick("password", "PASSWD", "Secret", "api_key", "apikey", "token") +
        pick("=", ":", " = ", "\t:") + q + value + q
    }
    def pem(terminated: Boolean) = {
      val kind = pick("", "RSA ", "EC ", "OPENSSH ")
      val body = Seq.fill(r.nextInt(3))(pick(hex(40), aws(), "MIIBog"))
      val end = Option.when(terminated)(s"-----END ${kind}PRIVATE KEY-----")
      ((s"-----BEGIN ${kind}PRIVATE KEY-----" +: body) ++ end).mkString("\n")
    }
    // a credential shape, alone, adjacent to another, or containing one
    def secret(): String = r.nextInt(8) match {
      case 0 => aws()
      case 1 => hex(32 + r.nextInt(40))
      case 2 => assign(pick(chars("abcXYZ09_-", 4 + r.nextInt(8)), aws(),
        hex(32), "k" + hex(33)))
      case 3 => pem(r.nextBoolean())
      case 4 => aws() + hex(32 + r.nextInt(8))
      case 5 => hex(32) + aws() + hex(32)
      case 6 => assign(hex(4)) + assign(aws())
      case _ => pem(true) + pem(false)
    }
    // near-misses, non-ASCII (one outside the BMP) and separators
    def filler() = Seq.fill(r.nextInt(6))(pick("the", "hash", "é", "日本",
      "\uD83D\uDE00", "x=1", "'", "\"", "AKIA", "deadbeef", "token=",
      "-----BEGIN", RedactToken)).mkString(pick(" ", "", "\n"))
    val texts = Seq.fill(300) {
      Seq.fill(1 + r.nextInt(5))(if (r.nextInt(3) == 0) filler() else secret())
        .mkString(pick("", "", " ", "\n"))
    } ++ Seq(aws(), hex(32), assign("abcd"), pem(true), pem(false), "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

    val redacted = redact(docs, "doc_id", "text").collect()
      .map(row => row.getLong(0) -> (row.getString(1), row.getInt(2))).toMap
    val spans = redactSpans(docs, "doc_id", "text").collect()
      .map(row => (row.getLong(0), row.getInt(1), row.getInt(2),
        row.getLong(3).toInt, row.getLong(4).toInt))
      .groupBy(_._1)
    val patterns = RedactPatterns.map(java.util.regex.Pattern.compile(_))
    texts.zipWithIndex.foreach { case (text, i) =>
      val mine = spans.getOrElse(i.toLong, Array.empty)
      assert(redacted(i.toLong)._2 == mine.length,
        s"doc $i: nRedactions ${redacted(i.toLong)._2}, ${mine.length} spans")
      // stage p's text is the text as patterns 1..p-1 left it; offsets
      // count code points
      val stages = RedactPatterns.scanLeft(text)(_.replaceAll(_, RedactToken))
      mine.foreach { case (_, pat, idx, from, until) =>
        val st = stages(pat - 1)
        val slice = st.substring(st.offsetByCodePoints(0, from),
          st.offsetByCodePoints(0, until))
        assert(patterns(pat - 1).matcher(slice).matches(),
          s"doc $i pattern $pat match $idx: '$slice' at $from..$until of '$st'")
      }
    }
    // redacted content has nothing left to redact
    val again = redact(redacted.toSeq.map { case (i, (c, _)) => (i, c) }
      .toDF("doc_id", "text"), "doc_id", "text").collect()
    again.foreach(row => assert(row.getInt(2) == 0,
      s"doc ${row.getLong(0)} re-redacted ${row.getInt(2)} more times: " +
        row.getString(1)))
  }
}
