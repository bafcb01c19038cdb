package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{IndexBuilder, IndexTables}

/** Block-max-WAND top-k over the compressed index.
  *
  * Spark-first layout: posting lists are sharded by docId-range bucket
  * (one index row per (term, bucket)), and the serving inputs — index,
  * norms and docs — are hash-partitioned by that bucket into the same
  * partitions ([[IndexBuilder.bucketPartitioned]]), so every bucket is a
  * self-contained mini-index whose postings, norms and doc rows sit in
  * one partition. Once per handle each partition becomes one persisted
  * [[Shard]]: a (field, term) dictionary over its posting rows, norms
  * keyed by bucket and a sorted docId → (repo, path) table. A query is
  * therefore ONE Spark job with no shuffle (the reference's
  * scatter-gather: broadcast the query to the shards, merge their
  * top-k): one `mapPartitions` task per shard looks up the query's term
  * rows, runs WAND over each of their buckets into one partition-wide
  * top-k, and attaches repo/path to its winners by binary search; the
  * driver merges at most k·partitions hits. A task touches the query's
  * posting rows, their buckets' norms and k docs entries — never the
  * rest of its partition — and a query pays no DataFrame construction
  * or planning.
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
  * The threshold is shared by the buckets of one partition (they run in
  * one task, one after another) and starts empty in each partition:
  * cross-partition sharing would serialize the scan and is deliberately
  * traded away for embarrassing parallelism. Sharing within a partition
  * is exact, because the top-k order (score desc, docId asc) is total.
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

  /** One ranked hit with its document's repo and path. */
  final case class Ranked(docId: Long, score: Double, repo: String,
      path: String)

  /** [[search]]'s result schema, shared by every ranked scorer. */
  val SearchSchema: StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("repo", StringType), StructField("path", StringType)))

  /** One partition's answer: its top-k hits, plus the work it did — the
    * posting rows its dictionary lookups returned and the posting
    * position lists it decoded. */
  private[graft] final case class PartitionHits(partition: Int,
      rowsExamined: Int, positionsDecoded: Long, hits: Array[Ranked])

  /** One term's cursor over a bucket row, decoded BLOCK-AT-A-TIME: the
    * blob is never fully materialized. Seeks jump via the block
    * `maxDocId` directory (the reference's seek-table search,
    * `IndexFileReader.h:163-250`), byte-skip over the in-between blocks
    * (no decode — `codec.skipValues`), and decode exactly one
    * `blockSize` block into reused buffers (`codec.decodeBlockAt`,
    * delta base = previous block's maxDocId). A WAND run that
    * block-max-prunes most of a hot term's postings pays decode cost
    * only for the blocks it actually lands in. */
  private final class Cursor(s: Shard, r: Int, val term: String,
      val idf: Double, val k1: Double, val b: Double, val avgdl: Double,
      blockSize: Int, codec: graft.index.codec.PostingCodec) {
    val rowUb: Double = idf * s.rowMax(r)
    private val n = s.rowN(r)
    private val docIdBlob = s.rowDocIds(r)
    private val tfBlob = s.rowTfs(r)
    private val b0 = s.rowBlock(r) // this row's first block in the shard
    private val nBlocks = s.rowBlock(r + 1) - b0
    private def maxDocIdOf(bi: Int): Long = s.blockMaxDocId(b0 + bi)
    private val ids = new Array[Long](blockSize)
    private val tfs = new Array[Long](blockSize)
    private var cb = -1        // currently decoded block (-1 = none yet)
    private var idByte = codec.startOffset(docIdBlob)
    private var tfByte = codec.startOffset(tfBlob)
    private var nextBlock = 0  // first block not yet passed byte-wise
    private var gi = 0         // global posting index (monotone)

    def exhausted: Boolean = gi >= n

    /** Decode (forward-only) the block holding posting index `i`. */
    private def loadBlockFor(i: Int): Unit = {
      val tb = i / blockSize
      if (tb == cb) return
      if (tb > nextBlock) {
        val skip = (tb - nextBlock) * blockSize
        idByte = codec.skipValues(docIdBlob, idByte, skip)
        tfByte = codec.skipValues(tfBlob, tfByte, skip)
        nextBlock = tb
      }
      val len = math.min(blockSize, n - tb * blockSize)
      val base = if (tb == 0) 0L else maxDocIdOf(tb - 1)
      idByte = codec.decodeBlockAt(docIdBlob, idByte, len, delta = true,
        base, ids)
      tfByte = codec.decodeBlockAt(tfBlob, tfByte, len, delta = false,
        0L, tfs)
      cb = tb
      nextBlock = tb + 1
    }

    def docId: Long = { loadBlockFor(gi); ids(gi - cb * blockSize) }
    def tf: Long = { loadBlockFor(gi); tfs(gi - cb * blockSize) }
    /** Decoded sorted positions of the CURRENT posting (only phrase
      * members' cursors are asked). */
    def positionsHere: Array[Long] =
      codec.decode(s.positions(r, gi), delta = true)
    /** Upper bound of current block (idf · blockMax) — metadata only,
      * no decode. */
    def blockUb: Double = {
      val bi = gi / blockSize
      if (bi < nBlocks) idf * s.blockMax(b0 + bi) else rowUb
    }
    def next(): Unit = gi += 1
    /** Advance to first posting with docId >= target: block-directory
      * binary search, byte-skip, then in-block binary search. */
    def seek(target: Long): Unit = {
      if (gi >= n || docId >= target) return
      var tb = gi / blockSize
      if (maxDocIdOf(tb) < target) {
        // first block (beyond tb) whose maxDocId reaches the target
        var lo = tb + 1
        var hi = nBlocks
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (maxDocIdOf(mid) < target) lo = mid + 1 else hi = mid
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
    /** Posting position lists decoded so far (phrase checks only). */
    var positionsDecoded = 0L

    private def present(t: String, doc: Long): Boolean =
      cursorOf.get(t) match {
        case Some(c) => c.seek(doc); !c.exhausted && c.docId == doc
        case None    => false
      }

    private def phraseAt(ts: Seq[String], doc: Long): Boolean =
      ts.forall(present(_, doc)) && {
        positionsDecoded += ts.size
        Engine.phraseMatches(ts.map(t => cursorOf(t).positionsHere))
      }

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
    * classic WAND. Returns (docId, score) in (score desc, docId asc)
    * order as a local DataFrame. `dfs`: optional pinned
    * [[dfDictionary]] (skips the per-query df lookup job). */
  def topK(ix: IndexTables, terms: Seq[String], k: Int = 32,
      field: String = "body",
      dfs: Option[DfDict] = None): DataFrame =
    scored(ix, merge(run(ix, terms.distinct.sorted, None, k, field, dfs), k))

  /** Constraint-aware top-k: candidates must satisfy the full boolean
    * expression (AND / OR / NOT / phrase / parens) — the doc set of
    * [[Engine.docSet]] — and are then scored with disjunctive BM25 over
    * the positive terms they contain. */
  def topKExpr(ix: IndexTables, expr: QueryExpr, k: Int = 32,
      field: String = "body",
      dfs: Option[DfDict] = None): DataFrame =
    scored(ix, merge(partitionHitsExpr(ix, expr, k, field, dfs), k))

  /** Full ranked BM25 search: parse → constraint-aware WAND with
    * repo/path attached; (docId, score, repo, path) in (score desc,
    * docId asc) order as a local DataFrame, the shape every scorer of
    * [[Engine.search]] returns. */
  def search(ix: IndexTables, query: String, k: Int = 32,
      dfs: Option[DfDict] = None): DataFrame = {
    val rows = hits(ix, query, k, dfs)
      .map(h => Row(h.docId, h.score, h.repo, h.path))
    ix.index.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), SearchSchema)
  }

  /** [[search]]'s hits as driver-side values (no DataFrame at all):
    * the serving loop formats these directly. */
  def hits(ix: IndexTables, query: String, k: Int = 32,
      dfs: Option[DfDict] = None): Array[Ranked] =
    merge(partitionHits(ix, query, k, dfs), k)

  /** [[hits]] before the driver merge: one entry per shard, in
    * partition order (none for a query without scoring terms). */
  private[graft] def partitionHits(ix: IndexTables, query: String, k: Int,
      dfs: Option[DfDict]): Array[PartitionHits] =
    QueryParser.parse(query) match {
      case None       => Array.empty
      case Some(expr) => partitionHitsExpr(ix, expr, k, "body", dfs)
    }

  private def partitionHitsExpr(ix: IndexTables, expr: QueryExpr, k: Int,
      field: String, dfs: Option[DfDict]): Array[PartitionHits] = {
    val scoring = expr.terms.distinct.sorted
    if (scoring.isEmpty) Array.empty
    else run(ix, scoring, Some(expr), k, field, dfs)
  }

  /** The driver merge: the best k of every shard's top-k. */
  private def merge(parts: Array[PartitionHits], k: Int): Array[Ranked] =
    parts.flatMap(_.hits).sortWith((x, y) =>
      x.score > y.score || (x.score == y.score && x.docId < y.docId)).take(k)

  private def scored(ix: IndexTables, hits: Array[Ranked]): DataFrame = {
    val spark = ix.index.sparkSession
    import spark.implicits._
    hits.toSeq.map(h => (h.docId, h.score)).toDF("docId", "score")
  }

  private def run(ix: IndexTables, scoring: Seq[String],
      exprOpt: Option[QueryExpr], k: Int, field: String,
      dfDict: Option[DfDict]): Array[PartitionHits] = {
    val scoringSet = scoring.toSet
    val allTs =
      (scoring ++ exprOpt.map(_.allTerms).getOrElse(Seq.empty)).distinct.sorted
    val phraseTerms =
      exprOpt.map(_.phrases.flatten.distinct).getOrElse(Seq.empty).toSet
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
    val codec = graft.index.codec.PostingCodec(ix.config.codec)

    ix.withShards(_.mapPartitionsWithIndex { (partition, shards) =>
      shards.map { s =>
        // the dictionary probe: this shard's rows of the query's terms
        val found = allTs.flatMap(t => s.rowsOf(field, t).map(t -> _))
        val byBucket = found.groupBy { case (_, r) => s.rowBucket(r) }
          // a bucket with no scoring row, or missing a required term's
          // row, cannot contain a matching doc
          .filter { case (_, rs) =>
            rs.exists(r => scoringSet(r._1)) &&
              requiredTs.forall(t => rs.exists(_._1 == t))
          }
        val topK = new TopK(k)
        var positionsDecoded = 0L
        byBucket.toSeq.sortBy(_._1).foreach { case (bucket, rs) =>
          // LOUD on a bucket or docId missing from the norms: a silent
          // skip or docLen-0 fallback would drop or re-rank hits — a
          // partitioning or merge bug must fail, not answer wrongly
          // (index+norms are built together, so this cannot fire on a
          // healthy index)
          val (idBlob, lenBlob) = s.norms(bucket).getOrElse(
            throw new IllegalStateException(
              s"bucket $bucket has postings but no norms row in its partition"))
          lazy val nIds = codec.decode(idBlob, delta = true)
          lazy val nLens = codec.decode(lenBlob, delta = false)
          val docLenAt: Long => Long = { d =>
            val p = java.util.Arrays.binarySearch(nIds, d)
            require(p >= 0,
              s"docId $d in postings of bucket $bucket but absent from norms")
            nLens(p)
          }
          def mkCursor(t: String, r: Int): Cursor =
            new Cursor(s, r, t, idfs.getOrElse(t, 0.0), k1, b, avgdl,
              blockSize, codec)
          val cursors = rs.collect {
            case (t, r) if scoringSet(t) => mkCursor(t, r)
          }.toArray
          val matcher = exprOpt.map { e =>
            // ONE cursor per term: positive terms reuse the scoring
            // cursors (shared monotone position), exclude-side terms
            // get their own idf-0 cursors
            val byTerm = cursors.map(c => c.term -> c).toMap ++
              rs.collect { case (t, r) if !scoringSet(t) => t -> mkCursor(t, r) }
            new ConstraintEval(e, byTerm)
          }
          bucketTopK(cursors, matcher, docLenAt, topK)
          matcher.foreach(positionsDecoded += _.positionsDecoded)
        }
        // repo/path for the winners only: a binary search each
        val winners = topK.drain().map { case (d, sc) =>
          val (repo, path) = s.doc(d)
          Ranked(d, sc, repo, path)
        }.toArray
        PartitionHits(partition, found.size, positionsDecoded, winners)
      }
    }.collect())
  }
}
