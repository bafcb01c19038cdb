package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexTables}
import graft.index.codec.VarbyteFunctions._

/** Query execution over the compressed index: boolean doc sets, the
  * all-document BM25 scorer, the span ranker, and [[search]].
  *
  * Ranked BM25 top-k has ONE executor, [[Wand]]: [[search]] hands every
  * scorer except "span" to `Wand.search`, where docLen comes from the
  * bucket-local norms blob, so a query touches only its terms' rows plus
  * one norms row per bucket and shuffles only per-bucket top-k hits.
  * [[bm25Scores]] scores EVERY matching doc (no top-k cut) for the
  * SparkEntry queries that need all scores; it joins the docs table for
  * docLen and uses the same idf/tfNorm arithmetic and sorted-term
  * summation, so both agree bit-for-bit with the scalar oracle.
  *
  * The reference's ISR algebra (`/root/reference/src/isr/isr.h`) is
  * re-expressed at docId level: Word → postings scan, And → docId
  * equi-join, Or → union, Container(NOT) → left_anti join, Phrase →
  * positional adjacency over decoded position blobs. Catalyst pushes the
  * `term IN (...)` filter to the Parquet scan (file pruning via min/max on
  * the range-partitioned term column), so a query touches only the files
  * holding its terms' postings — the Spark analog of the reference's
  * dictionary probe + seek (`IndexFileReader.h:339-429`).
  */
object Engine {

  /** BM25 idf with the standard Robertson–Sparck-Jones form (SURVEY.md
    * §7.3: the reference has no textbook BM25; k1=1.2, b=0.75 are the
    * documented chosen constants). */
  def idf(nDocs: Long, df: Long): Double =
    // StrictMath, not Math: Catalyst's `log` expression evaluates via
    // StrictMath, and WAND (this fn) must be bit-identical to
    // [[bm25Scores]]
    StrictMath.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))

  /** Decoded postings (term, docId, tf) for `terms`. */
  def postingsFor(ix: IndexTables, terms: Seq[String],
      field: String = "body"): DataFrame =
    ix.index
      .filter(col("field") === field && col("term").isin(terms.distinct: _*))
      .select(col("term"), explode(arrays_zip(
        decodeDelta(ix.config.codec, col("docIds")).as("d"),
        decodePlain(ix.config.codec, col("tfs")).as("t"))).as("p"))
      .select(col("term"), col("p.d").as("docId"),
        col("p.t").cast("int").as("tf"))

  /** Full decoded postings stream for one field: (term, docId, tf). */
  def allPostings(ix: IndexTables, field: String = "body"): DataFrame =
    ix.index
      .filter(col("field") === field)
      .select(col("term"), explode(arrays_zip(
        decodeDelta(ix.config.codec, col("docIds")).as("d"),
        decodePlain(ix.config.codec, col("tfs")).as("t"))).as("p"))
      .select(col("term"), col("p.d").as("docId"),
        col("p.t").cast("int").as("tf"))

  /** Decoded positions (term, docId, positions array<long>). Position
    * blobs are decoded ONLY here — boolean/BM25 paths never touch them
    * (lazy positional decode, SURVEY.md §7.5). */
  def positionsFor(ix: IndexTables, terms: Seq[String],
      field: String = "body"): DataFrame =
    ix.index
      .filter(col("field") === field && col("term").isin(terms.distinct: _*))
      .select(col("term"), explode(arrays_zip(
        decodeDelta(ix.config.codec, col("docIds")).as("d"),
        col("positions").as("ps"))).as("p"))
      .select(col("term"), col("p.d").as("docId"),
        decodeDelta(ix.config.codec, col("p.ps")).as("positions"))

  /** Positions decoded ONLY for docs in `cands` (docId column): the
    * docId run is decoded to align blobs, but each per-doc position blob
    * crosses the candidate join still compressed and is expanded only
    * for survivors — for a phrase like ["if", rare-term] this skips
    * decoding the hot term's positions in every non-candidate doc. */
  def positionsForCandidates(ix: IndexTables, terms: Seq[String],
      cands: DataFrame, field: String = "body"): DataFrame =
    ix.index
      .filter(col("field") === field && col("term").isin(terms.distinct: _*))
      .select(col("term"), explode(arrays_zip(
        decodeDelta(ix.config.codec, col("docIds")).as("d"),
        col("positions").as("ps"))).as("p"))
      .select(col("term"), col("p.d").as("docId"), col("p.ps").as("posBlob"))
      .join(cands, "docId")
      .select(col("term"), col("docId"),
        decodeDelta(ix.config.codec, col("posBlob")).as("positions"))

  /** Sorted-array phrase adjacency: exists p in pos(0) with p+i in pos(i)
    * for all i (reference ISRPhrase retry loop, `isr.h:303-410`,
    * re-expressed per-document) — the one rule behind both the
    * DataFrame phrase doc set and WAND's phrase constraint. */
  def phraseMatches(posArrays: Seq[Array[Long]]): Boolean =
    posArrays.nonEmpty && posArrays.head.exists { p =>
      var i = 1
      var ok = true
      while (ok && i < posArrays.length) {
        ok = java.util.Arrays.binarySearch(posArrays(i), p + i) >= 0
        i += 1
      }
      ok
    }
  private val phraseMatchUdf = udf((posArrays: Seq[Seq[Long]]) =>
    !posArrays.contains(null) && phraseMatches(posArrays.map(_.toArray)))

  private def phraseDocs(ix: IndexTables, ts: Seq[String],
      field: String): DataFrame = {
    val dts = ts.distinct
    // docId-level AND first (tf path, no positional decode), then decode
    // positions only for the candidates
    val cands = docSet(ix, SeqAnd(dts.map(Term(_))), field)
    val pos = positionsForCandidates(ix, dts, cands, field)
    // no size(m) re-filter: every candidate already passed the docId
    // AND, so the map always holds all distinct terms
    val perDoc = pos.groupBy(col("docId"))
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("m"))
    val ordered = array(ts.map(t => element_at(col("m"), lit(t))): _*)
    perDoc.filter(phraseMatchUdf(ordered)).select(col("docId"))
  }

  /** Matching docIds for a boolean query expression.
    *
    * Pure-term conjunctions use the count-match pattern (SURVEY.md §2.5
    * I4): one postings scan + one groupBy(docId) replaces an N-way
    * self-join. Mixed conjunctions evaluate non-term children
    * rarest-last: the term-set intersection (cheap, single-shuffle)
    * shrinks the candidate set before positional work — the Spark analog
    * of the reference's rarest-term-first anchoring
    * (`constraint_solver.h:202-228`). */
  def docSet(ix: IndexTables, expr: QueryExpr,
      field: String = "body"): DataFrame = expr match {
    case Term(t)      => postingsFor(ix, Seq(t), field).select(col("docId"))
    case Phrase(ts)   => phraseDocs(ix, ts, field)
    case And(l, r)    => docSet(ix, SeqAnd(Seq(l, r)), field)
    case Or(l, r)     =>
      docSet(ix, l, field).union(docSet(ix, r, field)).distinct()
    case AndNot(p, n) =>
      docSet(ix, p, field).join(docSet(ix, n, field), Seq("docId"), "left_anti")
    case SeqAnd(cs)   =>
      val (termKids, otherKids) = cs.partition(_.isInstanceOf[Term])
      val terms = termKids.collect { case Term(t) => t }.distinct
      val termSet =
        if (terms.isEmpty) None
        else Some(
          postingsFor(ix, terms, field)
            .groupBy(col("docId")).agg(count(lit(1)).as("nt"))
            .filter(col("nt") === terms.size) // (term,docId) rows unique
            .select(col("docId")))
      val parts = termSet.toSeq ++ otherKids.map(docSet(ix, _, field))
      parts.reduce((a, b) => a.join(b, "docId"))
  }

  /** idf of every query term as a broadcastable (term, idf) plan — no
    * driver-side collect: the df lookup joins `termStats` inside the
    * query's own job (the N scalar comes from build-time stats). The
    * reference reads df from the posting-list header the same lazily
    * (`IndexFileReader.h:383-388`). */
  private def idfPlan(ix: IndexTables, ts: Seq[String],
      field: String): DataFrame =
    ix.termStats
      .filter(col("field") === field && col("term").isin(ts: _*))
      .select(col("term"),
        log(lit(1.0) + (lit(ix.stats.nDocs.toDouble) - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"))

  /** Per-doc BM25 over `terms` (disjunctive): (docId, score).
    *
    * Determinism: per-term contributions are summed in sorted-term order
    * via sort_array+aggregate, so the score is bit-stable under any
    * partitioning (rank-identical requirement, SURVEY.md §7.3). */
  def bm25Scores(ix: IndexTables, terms: Seq[String],
      field: String = "body"): DataFrame = {
    val ts = terms.distinct.sorted
    val post = postingsFor(ix, ts, field)
      .join(ix.docs.select(col("docId"), col("docLen")), "docId")
      .join(broadcast(idfPlan(ix, ts, field)), "term")
      .withColumn("contrib", col("idf") *
        IndexBuilder.tfNorm(col("tf"), col("docLen"), ix.stats.avgDocLen, ix.config))
    post.groupBy(col("docId"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"))
  }

  /** Document frequencies for query terms (tiny driver-side collect from
    * the termStats table — the reference reads df from the posting-list
    * header the same way, `IndexFileReader.h:383-388`). */
  def termDfs(ix: IndexTables, terms: Seq[String],
      field: String = "body"): Map[String, Long] =
    ix.termStats
      .filter(col("field") === field && col("term").isin(terms.distinct: _*))
      .select(col("term"), col("df")) // by name: termStats has two
      // producers (direct + segmented build) and round-trips through
      // parquet — positional reads would silently couple this to their
      // physical column order
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Rarest-first term ordering (reference `getRarestIndices`,
    * `constraint_solver.h:202-228`): ascending df, ties by term. */
  def rarestFirst(ix: IndexTables, terms: Seq[String],
      field: String = "body"): Seq[String] = {
    val dfs = termDfs(ix, terms, field)
    terms.distinct.sortBy(t => (dfs.getOrElse(t, 0L), t))
  }

  private val spanScoreUdf =
    udf((body: Seq[Seq[Long]], path: Seq[Seq[Long]]) => {
      def conv(xs: Seq[Seq[Long]]): Seq[Array[Int]] =
        xs.map(x => if (x == null) Array.empty[Int] else x.map(_.toInt).toArray)
      SpanRank.scoreDoc(conv(body), conv(path))
    })

  // URL scoring lives in [[UrlScore]] (reference calculateURLscore
  // parity: reciprocal match score, tiered 256/128/64 host+path bonuses,
  // all-terms-in-group bonuses, short-url boost, single-word boost).

  /** Span-ranker scores for candidate docs (reference parity scorer). */
  def spanScores(ix: IndexTables, candidates: DataFrame,
      terms: Seq[String]): DataFrame = {
    val ordered = rarestFirst(ix, terms)
    def fieldArrays(field: String): DataFrame =
      positionsForCandidates(ix, ordered, candidates, field)
        .groupBy(col("docId"))
        .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
          .as(s"m_$field"))
    val b = fieldArrays("body")
    val p = fieldArrays("path")
    val joined = candidates
      .join(b, Seq("docId"), "left")
      .join(p, Seq("docId"), "left")
    def arr(m: String): Column =
      array(ordered.map(t =>
        coalesce(element_at(col(m), lit(t)), array().cast("array<bigint>"))): _*)
    joined.select(col("docId"),
      spanScoreUdf(arr("m_body"), arr("m_path")).as("spanScore"))
  }

  /** The span scorer's no-parse answer: zero rows in
    * [[Wand.SearchSchema]], the schema both ranked scorers share. */
  private def emptyResults(
      spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      Wand.SearchSchema)

  /** Full ranked search: parse → boolean match → score → top-k → join
    * docs. Scorer "span" (reference parity; span + path score,
    * `constraint_solver.h:464-490`) runs here; every other scorer name
    * is BM25 and runs on the one top-k executor, `Wand.search`. */
  def search(ix: IndexTables, query: String, k: Int = 32,
      scorer: String = "bm25"): DataFrame =
    if (scorer != "span") Wand.search(ix, query, k)
    else QueryParser.parse(query) match {
      case None => emptyResults(ix.index.sparkSession) // no-parse case
      case Some(expr) =>
        val cands = docSet(ix, expr)
        // reference gate (`constraint_solver.h:455-456`): single-term
        // queries score only docs whose url is < 64 chars. Mapping
        // note: the gate uses length(path) ALONE as the full-url
        // analog — in this corpus `path` = "repo/lang/docId" already
        // embeds the repo, so it is the complete url string (UrlScore
        // maps host=repo / path=path for its separate host-vs-path
        // tiers; the two mappings are deliberately different and the
        // BruteForce oracle mirrors both). Applied BEFORE span
        // scoring so gated-out candidates never pay the positional
        // decode + span UDF.
        val gated =
          if (expr.termGroups.flatten.size > 1) cands
          else cands.join(
            ix.docs.filter(length(col("path")) < 64).select(col("docId")),
            "docId")
        spanScores(ix, gated, expr.terms)
          .join(ix.docs.select(col("docId"), col("repo"), col("path")),
            "docId")
          .withColumn("score", col("spanScore") +
            UrlScore.scoreCol(col("repo"), col("path"), expr.termGroups))
          .select(col("docId"), col("score"), col("repo"), col("path"))
          .orderBy(col("score").desc, col("docId").asc)
          .limit(k)
    }
}
