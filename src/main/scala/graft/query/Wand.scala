package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.IndexTables

/** Block-max-WAND top-k over the compressed index.
  *
  * Spark-first layout: posting lists are sharded by docId-range bucket
  * (one index row per (term, bucket)), so WAND runs embarrassingly
  * parallel per bucket — each bucket is a self-contained mini-index with
  * its own norms row — followed by a single global
  * `TakeOrderedAndProject` merge. This is the 1000-executor plan: no
  * driver-side posting traversal, no shuffle beyond the k·buckets local
  * hits.
  *
  * Pruning hierarchy (reference analog: seek tables,
  * `/root/reference/src/inverted_index/IndexFile.h:242-254`; WAND is the
  * north-rule addition):
  *   1. row-UB pivoting — classic WAND: cumulative idf·rowMax bounds
  *      choose the pivot; cursors below it seek (galloping) past whole
  *      runs of docIds without scoring them;
  *   2. block-max skip — per-block upper bounds (exact BM25 tf-norm
  *      maxima computed at build) refine the pivot bound before a full
  *      evaluation;
  *   3. boolean constraint — [[topKExpr]] evaluates the query's
  *      constraint tree at each surviving pivot (required-term fast
  *      fail, then full AND/OR/NOT/phrase evaluation) BEFORE scoring,
  *      the reference's match-then-score loop
  *      (`/root/reference/src/constraint_solver.h:405-504`).
  * The per-bucket threshold starts empty (buckets are independent
  * tasks), so each bucket decodes its candidate rows once — cross-bucket
  * threshold sharing would serialize the scan and is deliberately
  * traded away for embarrassing parallelism.
  *
  * Scores are exact BM25 (tf from blob, docLen from the bucket's norms
  * row) over the POSITIVE terms present in the doc, summed in
  * sorted-term order — the same arithmetic as the all-document scorer
  * [[Engine.bm25Scores]] and the scalar oracle, so ranked top-k is
  * rank-identical to both (asserted by the parity suite). This is the
  * one ranked-BM25 top-k executor: [[Engine.search]] and every serving
  * scorer name except "span" answer through [[search]].
  */
object Wand {

  final case class IxRow(term: String, bucket: Long, n: Int,
      docIds: Array[Byte], tfs: Array[Byte],
      positions: Array[Array[Byte]],
      blockMaxes: Array[Double], blockMaxDocIds: Array[Long],
      rowMax: Double)
  final case class NrmRow(bucket: Long, docIds: Array[Byte],
      docLens: Array[Byte])

  /** One term's cursor over a bucket row, decoded BLOCK-AT-A-TIME: the
    * blob is never fully materialized. Seeks jump via the block
    * `maxDocId` directory (the reference's seek-table search,
    * `IndexFileReader.h:163-250`), byte-skip over the in-between blocks
    * (no decode — `codec.skipValues`), and decode exactly one
    * `blockSize` block into reused buffers (`codec.decodeBlockAt`,
    * delta base = previous block's maxDocId). A WAND run that
    * block-max-prunes most of a hot term's postings pays decode cost
    * only for the blocks it actually lands in. */
  private final class Cursor(row: IxRow, val idf: Double, val k1: Double,
      val b: Double, val avgdl: Double, blockSize: Int,
      codec: graft.index.codec.PostingCodec) {
    val rowUb: Double = idf * row.rowMax
    private val n = row.n
    private val nBlocks = row.blockMaxDocIds.length
    private val ids = new Array[Long](blockSize)
    private val tfs = new Array[Long](blockSize)
    private var cb = -1        // currently decoded block (-1 = none yet)
    private var idByte = codec.startOffset(row.docIds)
    private var tfByte = codec.startOffset(row.tfs)
    private var nextBlock = 0  // first block not yet passed byte-wise
    private var gi = 0         // global posting index (monotone)

    def term: String = row.term
    def exhausted: Boolean = gi >= n

    /** Decode (forward-only) the block holding posting index `i`. */
    private def loadBlockFor(i: Int): Unit = {
      val tb = i / blockSize
      if (tb == cb) return
      if (tb > nextBlock) {
        val skip = (tb - nextBlock) * blockSize
        idByte = codec.skipValues(row.docIds, idByte, skip)
        tfByte = codec.skipValues(row.tfs, tfByte, skip)
        nextBlock = tb
      }
      val len = math.min(blockSize, n - tb * blockSize)
      val base = if (tb == 0) 0L else row.blockMaxDocIds(tb - 1)
      idByte = codec.decodeBlockAt(row.docIds, idByte, len, delta = true,
        base, ids)
      tfByte = codec.decodeBlockAt(row.tfs, tfByte, len, delta = false,
        0L, tfs)
      cb = tb
      nextBlock = tb + 1
    }

    def docId: Long = { loadBlockFor(gi); ids(gi - cb * blockSize) }
    def tf: Long = { loadBlockFor(gi); tfs(gi - cb * blockSize) }
    /** Decoded sorted positions of the CURRENT posting (null-positions
      * rows — non-phrase terms — never call this). */
    def positionsHere: Array[Long] =
      codec.decode(row.positions(gi), delta = true)
    /** Upper bound of current block (idf · blockMax) — metadata only,
      * no decode. */
    def blockUb: Double = {
      val bi = gi / blockSize
      if (bi < row.blockMaxes.length) idf * row.blockMaxes(bi) else rowUb
    }
    def next(): Unit = gi += 1
    /** Advance to first posting with docId >= target: block-directory
      * binary search, byte-skip, then in-block binary search. */
    def seek(target: Long): Unit = {
      if (gi >= n || docId >= target) return
      var tb = gi / blockSize
      if (row.blockMaxDocIds(tb) < target) {
        // first block (beyond tb) whose maxDocId reaches the target
        var lo = tb + 1
        var hi = nBlocks
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (row.blockMaxDocIds(mid) < target) lo = mid + 1 else hi = mid
        }
        if (lo >= nBlocks) { gi = n; return } // past the last posting
        tb = lo
        gi = tb * blockSize
      }
      loadBlockFor(gi)
      // in-block lower bound (target guaranteed <= block max)
      var lo = gi - tb * blockSize
      var hi = math.min(blockSize, n - tb * blockSize)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < target) lo = mid + 1 else hi = mid
      }
      gi = tb * blockSize + lo
    }
    def score(docLen: Long): Double =
      idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * docLen / avgdl)))
  }

  /** Bounded top-k accumulator with (score desc, docId asc) order. */
  private final class TopK(k: Int) {
    // min-heap on (score asc, docId desc) so the root is the weakest hit
    private val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (s, d) => (-s, d)
    }
    private val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)
    def threshold: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.head._1
    def offer(score: Double, docId: Long): Unit = {
      if (heap.size < k) heap.enqueue((score, docId))
      else {
        val (ws, wd) = heap.head
        if (score > ws || (score == ws && docId < wd)) {
          heap.dequeue(); heap.enqueue((score, docId))
        }
      }
    }
    def drain(): Iterator[(Long, Double)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (heap.nonEmpty) { val h = heap.dequeue(); buf += ((h._2, h._1)) }
      buf.iterator
    }
  }

  /** Boolean-constraint evaluator over bucket-local cursors: answers
    * "does `doc` satisfy the query's constraint tree" at the pivot,
    * seeking exclude-side cursors forward on demand (pivots arrive in
    * ascending docId order, so every cursor moves monotonically — the
    * ISR seek discipline). Positive-term cursors are the WAND scoring
    * cursors themselves: at evaluation time they all sit at >= pivot,
    * so "parked on the pivot" IS the membership test (seek no-ops).
    * Phrases decode positions ONLY for the pivot posting of each member
    * term (lazy positional decode). */
  private final class ConstraintEval(expr: QueryExpr,
      cursorOf: Map[String, Cursor]) {
    val required: Set[String] = expr.requiredTerms

    private def present(t: String, doc: Long): Boolean =
      cursorOf.get(t) match {
        case Some(c) => c.seek(doc); !c.exhausted && c.docId == doc
        case None    => false
      }

    private def phraseAt(ts: Seq[String], doc: Long): Boolean =
      ts.forall(present(_, doc)) &&
        Engine.phraseMatches(ts.map(t => cursorOf(t).positionsHere))

    private def eval(e: QueryExpr, doc: Long): Boolean = e match {
      case Term(t)      => present(t, doc)
      case Phrase(ts)   => phraseAt(ts, doc)
      case And(l, r)    => eval(l, doc) && eval(r, doc)
      case Or(l, r)     => eval(l, doc) || eval(r, doc)
      case AndNot(p, n) => eval(p, doc) && !eval(n, doc)
      case SeqAnd(cs)   => cs.forall(eval(_, doc))
    }

    def matches(doc: Long): Boolean =
      required.forall(present(_, doc)) && eval(expr, doc)
  }

  /** WAND over one bucket. `cursors` are this bucket's SCORING (positive)
    * term rows; `matcher` (when present) gates each pivot on the boolean
    * constraint before it is scored/offered, and its required terms
    * drive the conjunctive skip below. */
  private def bucketTopK(cursors: Array[Cursor],
      matcher: Option[ConstraintEval], docLenAt: Long => Long,
      topK: TopK): Unit = {
    var active = cursors.filter(!_.exhausted).toBuffer
    // cursors of terms REQUIRED by the constraint (conservative must-set)
    val req = matcher.map(m => cursors.filter(c => m.required(c.term)))
      .getOrElse(Array.empty[Cursor])
    while (active.nonEmpty) {
      // conjunctive skip (reference ISRAnd seek-to-the-max loop,
      // `isr.h:412-556`): no doc below the max of the required cursors
      // can satisfy the constraint, so align the required cursors on a
      // common doc and pull every other scoring cursor up to it — whole
      // runs of disjunctive-only candidates are skipped without ever
      // being pivoted on. Lossless: skipped docs fail the constraint.
      if (req.nonEmpty) {
        var aligned = false
        while (!aligned) {
          if (req.exists(_.exhausted)) return // a required list ran out
          var target = 0L
          req.foreach(c => if (c.docId > target) target = c.docId)
          aligned = true
          req.foreach { c =>
            if (c.docId < target) { c.seek(target); aligned = false }
          }
        }
        val target = req(0).docId
        active.foreach(c => if (c.docId < target) c.seek(target))
        active = active.filter(!_.exhausted)
        if (active.isEmpty) return
      }
      val sorted = active.sortBy(_.docId)
      // pivot: first index where cumulative row UBs reach the threshold
      // (>= so threshold ties are still examined — tie-break is docId asc)
      var acc = 0.0
      var pi = -1
      var j = 0
      val theta = topK.threshold
      while (pi < 0 && j < sorted.length) {
        acc += sorted(j).rowUb
        if (acc >= theta) pi = j
        j += 1
      }
      if (pi < 0) return // even all UBs summed cannot beat the threshold
      val pivotDoc = sorted(pi).docId
      // absorb any further cursors already parked on the pivot doc
      while (pi + 1 < sorted.length && sorted(pi + 1).docId == pivotDoc) pi += 1
      if (sorted.head.docId == pivotDoc) {
        // cursors [0..pi] are all parked on pivotDoc (sorted ascending).
        // Block-max refinement: exact 64-posting-block UBs at the pivot.
        var blockAcc = 0.0
        var bj = 0
        while (bj <= pi) { blockAcc += sorted(bj).blockUb; bj += 1 }
        if (blockAcc >= theta && matcher.forall(_.matches(pivotDoc))) {
          // fully evaluate pivotDoc in sorted-term order (determinism)
          val dl = docLenAt(pivotDoc)
          var s = 0.0
          sorted.slice(0, pi + 1).sortBy(_.term)
            .foreach(c => s += c.score(dl))
          topK.offer(s, pivotDoc)
        }
        var m = 0
        while (m <= pi) { sorted(m).next(); m += 1 }
      } else {
        // advance all pre-pivot cursors up to the pivot doc
        var m = 0
        while (m < pi) { sorted(m).seek(pivotDoc); m += 1 }
      }
      active = active.filter(!_.exhausted)
    }
  }

  /** Pinned driver-side df dictionary — the serving-loop analog of the
    * reference mmap+mlock'ing its HashBlob dictionary into the engine
    * process (`IndexFileReader.h:279-317`). `complete = true` means the
    * whole vocabulary is here, so a missing term has df 0; when bounded
    * (top-M by df) a miss is AMBIGUOUS — evicted-low-df or truly absent
    * — and the query pays one cluster lookup for just the missing
    * terms. Results are identical either way. */
  final case class DfDict(dfs: Map[String, Long], complete: Boolean,
      field: String)

  /** Build the pinned dictionary: one collect of (term → df) at pin
    * time, then ZERO cluster jobs per query for idf resolution (without
    * it every WAND query pays a termStats-lookup job first). `maxTerms`
    * caps driver memory at web-scale vocabularies (10¹²-file corpora
    * have unbounded identifier vocab): keep the top-M terms by df —
    * the terms whose lookup jobs would otherwise repeat most — and let
    * rare-term misses fall back per query. */
  def dfDictionary(ix: IndexTables, field: String = "body",
      maxTerms: Int = Int.MaxValue): DfDict = {
    require(maxTerms > 0, s"maxTerms must be positive: $maxTerms")
    val base = ix.termStats.filter(col("field") === field)
      .select(col("term"), col("df"))
    // fetch M+1 rows: the extra row is the "vocabulary is bigger than
    // the cap" probe, so completeness needs no second count job
    val rows =
      if (maxTerms == Int.MaxValue) base.collect()
      else base.orderBy(col("df").desc, col("term").asc)
        .limit(maxTerms + 1).collect()
    val complete = maxTerms == Int.MaxValue || rows.length <= maxTerms
    val kept = if (complete) rows else rows.take(maxTerms)
    DfDict(kept.map(r => r.getString(0) -> r.getLong(1)).toMap,
      complete, field)
  }

  /** Top-k BM25 for `terms`, DISJUNCTIVE (bag-of-words) semantics — the
    * classic WAND. Returns (docId, score). `dfs`: optional pinned
    * [[dfDictionary]] (skips the per-query df lookup job). */
  def topK(ix: IndexTables, terms: Seq[String], k: Int = 32,
      field: String = "body",
      dfs: Option[DfDict] = None): DataFrame =
    run(ix, terms.distinct.sorted, None, k, field, dfs)

  /** Constraint-aware top-k: candidates must satisfy the full boolean
    * expression (AND / OR / NOT / phrase / parens) — the doc set of
    * [[Engine.docSet]] — and are then scored with disjunctive BM25 over
    * the positive terms they contain. */
  def topKExpr(ix: IndexTables, expr: QueryExpr, k: Int = 32,
      field: String = "body",
      dfs: Option[DfDict] = None): DataFrame = {
    val spark = ix.index.sparkSession
    import spark.implicits._
    val scoring = expr.terms.distinct.sorted
    if (scoring.isEmpty)
      Seq.empty[(Long, Double)].toDF("docId", "score")
    else run(ix, scoring, Some(expr), k, field, dfs)
  }

  /** Full ranked BM25 search: parse → constraint-aware WAND → join
    * docs; (docId, score, repo, path) in (score desc, docId asc) order,
    * the shape every scorer of [[Engine.search]] returns. */
  def search(ix: IndexTables, query: String, k: Int = 32,
      dfs: Option[DfDict] = None): DataFrame = {
    val spark = ix.index.sparkSession
    QueryParser.parse(query) match {
      case None => Engine.emptyResults(spark)
      case Some(expr) =>
        topKExpr(ix, expr, k, dfs = dfs)
          .join(ix.docs.select(col("docId"), col("repo"), col("path")),
            "docId")
          .select(col("docId"), col("score"), col("repo"), col("path"))
          .orderBy(col("score").desc, col("docId").asc)
    }
  }

  /** Corpus size at which the norms-side bucket semi-join pays for its
    * extra broadcast-subquery job (see the plan note in [[run]]).
    * Overridable system property so tests can force either plan
    * shape. */
  private def normsPruneMinDocs: Long =
    sys.props.get("graft.wand.normsPruneMinDocs").flatMap(_.toLongOption)
      .getOrElse(1L << 20)

  private def run(ix: IndexTables, scoring: Seq[String],
      exprOpt: Option[QueryExpr], k: Int, field: String,
      dfDict: Option[DfDict] = None): DataFrame = {
    val spark = ix.index.sparkSession
    import spark.implicits._
    val scoringSet = scoring.toSet
    val allTs =
      (scoring ++ exprOpt.map(_.allTerms).getOrElse(Seq.empty)).distinct.sorted
    val phraseTerms =
      exprOpt.map(_.phrases.flatten.distinct).getOrElse(Seq.empty)
    val requiredTs = exprOpt.map(_.requiredTerms).getOrElse(Set.empty)
    val dfs = dfDict match {
      case Some(d) =>
        require(d.field == field,
          s"df dictionary pinned for field '${d.field}', query uses '$field'")
        val missing = scoring.filterNot(d.dfs.contains)
        // bounded-dict miss: one lookup job for JUST the missing terms
        if (d.complete || missing.isEmpty) d.dfs
        else d.dfs ++ Engine.termDfs(ix, missing, field)
      case None => Engine.termDfs(ix, scoring, field)
    }
    val idfs = scoring.map(t =>
      t -> Engine.idf(ix.stats.nDocs, dfs.getOrElse(t, 0L))).toMap
    val blockSize = ix.config.blockSize
    val k1 = ix.config.k1
    val b = ix.config.b
    val avgdl = ix.stats.avgDocLen

    // positions ride along ONLY for phrase-member terms (and only when
    // the expr has a phrase at all — otherwise the parquet scan never
    // reads the positions column)
    val posCol =
      if (phraseTerms.isEmpty)
        lit(null).cast("array<binary>")
      else
        when(col("term").isin(phraseTerms: _*), col("positions"))
    val rows = ix.index
      .filter(col("field") === field && col("term").isin(allTs: _*))
      .select(col("term"), col("bucket"), col("n"), col("docIds"), col("tfs"),
        posCol.as("positions"),
        transform(col("blocks"), x => x.getField("blockMax")).as("blockMaxes"),
        transform(col("blocks"), x => x.getField("maxDocId")).as("blockMaxDocIds"),
        col("rowMax"))
      .as[IxRow]
    // prune norms to the buckets the query's posting rows can touch
    // BEFORE the cogroup shuffle: the cogroup function discards norms
    // rows whose bucket has no scoring row anyway, but without this
    // pre-filter every query shuffled the ENTIRE norms table to get
    // there (at 10^12 docs / bucketBits=16 that is a multi-TB norms
    // shuffle per query). The term-filtered rows' distinct bucket set
    // is small (≤ one per posting row), so it broadcasts and the norms
    // side becomes a shuffle-free broadcast semi-join; result-identical
    // by construction.
    //
    // The trade inverts with corpus size (measured in an interleaved
    // A/B, recorded in BASELINE.md): the semi-join
    // costs one extra broadcast-subquery job per query, so below
    // `normsPruneMinDocs` the whole norms table is cheaper to cogroup
    // than the job is to schedule. Driver-side stat-based plan choice,
    // the cost-based-optimizer move, on a statistic (`stats.nDocs`)
    // already in hand.
    val normsAll = ix.norms.select(col("bucket"), col("docIds"),
      col("docLens"))
    val norms =
      (if (ix.stats.nDocs >= normsPruneMinDocs)
        normsAll.join(broadcast(rows.select(col("bucket")).distinct()),
          Seq("bucket"), "left_semi")
      else normsAll).as[NrmRow]

    val codec = graft.index.codec.PostingCodec(ix.config.codec)
    val hits = rows.groupByKey(_.bucket)
      .cogroup(norms.groupByKey(_.bucket)) { (bucket, rIt, nIt) =>
        val rs = rIt.toArray
        val scoringRows = rs.filter(r => scoringSet(r.term))
        if (scoringRows.isEmpty ||
          // required-term bucket skip: a bucket missing any must-have
          // term's posting row cannot contain a matching doc
          !requiredTs.forall(t => rs.exists(_.term == t))) Iterator.empty
        else nIt.toSeq.headOption match {
          case None => Iterator.empty
          case Some(nr) =>
            lazy val nIds = codec.decode(nr.docIds, delta = true)
            lazy val nLens = codec.decode(nr.docLens, delta = false)
            val docLenAt: Long => Long = { d =>
              val p = java.util.Arrays.binarySearch(nIds, d)
              // LOUD on a docId missing from the norms blob: a silent
              // docLen-0 fallback would SHRINK the BM25 denominator and
              // quietly inflate that doc's score — a partial merge bug
              // must fail, not re-rank (index+norms are built together,
              // so this cannot fire on a healthy index)
              require(p >= 0,
                s"docId $d in postings of bucket $bucket but absent from norms")
              nLens(p)
            }
            def mkCursor(r: IxRow): Cursor =
              new Cursor(r, idfs.getOrElse(r.term, 0.0), k1, b, avgdl,
                blockSize, codec)
            val cursors = scoringRows.map(mkCursor)
            val matcher = exprOpt.map { e =>
              // ONE cursor per term: positive terms reuse the scoring
              // cursors (shared monotone position), exclude-side terms
              // get their own idf-0 cursors
              val byTerm = cursors.map(c => c.term -> c).toMap ++
                rs.filter(r => !scoringSet(r.term))
                  .map(r => r.term -> mkCursor(r)).toMap
              new ConstraintEval(e, byTerm)
            }
            val topK = new TopK(k)
            bucketTopK(cursors, matcher, docLenAt, topK)
            topK.drain()
        }
      }
      .toDF("docId", "score")
    hits.orderBy(col("score").desc, col("docId").asc).limit(k)
  }
}
