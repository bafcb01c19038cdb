package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), pure column expressions (whole-stage codegen, no
  * UDFs) plus one bounded-heap top-k aggregate.
  *
  * Baseline: brute-force cosine top-k (exact; the correctness oracle).
  * Scale path: IVF — coarse quantization into `nCentroids` buckets,
  * query probes only `nProbe` nearest buckets (probed fraction of the
  * corpus per query ≈ nProbe/nCentroids); past the flat-codebook clamp
  * a two-level coarse quantizer ([[buildIvfTwoLevel]]), and on top of
  * that a product-quantized residual scan + exact re-rank
  * ([[buildPq]]) so probing touches PQ codes (bytes per vector), not
  * raw embeddings. */
object Similarity {

  /** One scored candidate flowing through the top-k aggregate. */
  final case class ScoredId(cos: Double, vecId: Long)

  /** Bounded-heap top-k aggregate: keeps at most k (cos desc, vecId
    * asc) candidates per group through partial aggregation — each
    * map-side partial holds ≤ k rows and merges pairwise, so ranking N
    * candidates per query is one hash-aggregate pass over them instead
    * of a full per-query window SORT of all N (`row_number` over a
    * window was the round-4 shape; at web scale the window sort is a
    * per-query shuffle-and-sort of every probed candidate). */
  private final class TopKAgg(k: Int)
      extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
    // buffer invariant: always sorted by (cos desc, vecId asc), length
    // ≤ k — so reduce is a binary-search O(k) array insert (not a full
    // O(k log k) re-sort per accepted row: with n = rerank·k PQ
    // candidates that re-sort was the hot ANN path's dominant constant)
    // and merge is one linear pass over two already-sorted runs
    // Double.compare, not >/==: IEEE comparisons make NaN (a zero-norm
    // embedding's 0/0 cosine) unordered — every lt() involving it would
    // return false, a NaN entry could land mid-buffer and silently break
    // the sorted invariant for every later insert. Double.compare is the
    // total order Spark's own sort uses (NaN greatest — so NaN ranks
    // first under cos-desc, exactly where the window-sort shape put it).
    private def lt(a: ScoredId, b: ScoredId): Boolean = {
      val c = java.lang.Double.compare(a.cos, b.cos)
      c > 0 || (c == 0 && a.vecId < b.vecId)
    }
    def zero: Seq[ScoredId] = Seq.empty
    def reduce(b: Seq[ScoredId], a: ScoredId): Seq[ScoredId] = {
      val n = b.length
      // no-op fast path when a can't displace the floor of a full buffer
      if (n >= k && !lt(a, b(n - 1))) return b
      val arr = b.toArray
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (lt(arr(mid), a)) lo = mid + 1 else hi = mid
      }
      val outLen = math.min(k, n + 1)
      val out = new Array[ScoredId](outLen)
      System.arraycopy(arr, 0, out, 0, lo)
      if (lo < outLen) {
        out(lo) = a
        System.arraycopy(arr, lo, out, lo + 1,
          math.min(n - lo, outLen - lo - 1))
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    def merge(b1: Seq[ScoredId], b2: Seq[ScoredId]): Seq[ScoredId] = {
      if (b1.isEmpty) return b2
      if (b2.isEmpty) return b1
      val x = b1.toArray
      val y = b2.toArray
      val out = new Array[ScoredId](math.min(k, x.length + y.length))
      var i = 0; var j = 0; var o = 0
      while (o < out.length) {
        if (j >= y.length || (i < x.length && !lt(y(j), x(i)))) {
          out(o) = x(i); i += 1
        } else { out(o) = y(j); j += 1 }
        o += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    def finish(r: Seq[ScoredId]): Seq[ScoredId] = r
    def bufferEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
  }

  /** (qid, cos, vecId) frame → (qid, rank, vecId, cos) top-k rows via
    * the bounded-heap aggregate — the shared tail of every ANN path. */
  private def topKByQid(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k))
    // zero-norm embeddings score NULL (see cosine); an undefined
    // similarity is excluded from the ranking, not fed to a primitive-
    // Double aggregate input
    scored.filter(col("cos").isNotNull).groupBy(col("qid"))
      .agg(agg(col("cos"), col("vecId")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "s")))
      .select(col("qid"), (col("p") + 1).as("rank"),
        col("s.vecId").as("vecId"), round(col("s.cos"), 4).as("cos"))
  }

  /** Σ aᵢ·bᵢ in double precision via zip_with + aggregate. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, NULL when either vector has zero norm:
    * try_divide, because under Spark 4's default ANSI mode a plain
    * divide makes ONE zero-norm embedding in the corpus throw
    * DIVIDE_BY_ZERO and abort the whole ANN job. An undefined
    * similarity must neither crash the query nor outrank real
    * candidates — the top-k paths filter the NULLs out. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Exact cosine top-k of `vecs` (vecId, embedding) for each query row
    * (qid, qvec). Output (qid, rank, vecId, cos). Self-matches excluded
    * when ids collide. Exact because every vector is scored; the
    * ranking itself is the bounded-heap aggregate (a full per-query
    * window sort of the corpus would be the actual scale-killer in the
    * "exact baseline" path). */
  def bruteForceTopK(vecs: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKByQid(
      queries.crossJoin(vecs)
        .filter(col("qid") =!= col("vecId"))
        .withColumn("cos", cosine(col("qvec"), col("embedding"))),
      k)

  /** Convenience: take query vectors from the corpus itself by id. */
  def bruteForceTopKByIds(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val vecs = emb.select(col(idCol).as("vecId"), col(vecCol).as("embedding"))
    val queries = vecs.filter(col("vecId").isin(queryIds: _*))
      .select(col("vecId").as("qid"), col("embedding").as("qvec"))
    bruteForceTopK(vecs, broadcast(queries), k)
  }

  /** An IVF index: the k-means codebook (driver-held, broadcastable) and
    * the persisted (vecId, embedding, centroid) assignment. Build once,
    * probe many times — assignment is NOT recomputed per query (the
    * round-1 weakness this replaces). `coarse` present = two-level
    * quantizer: `centroids` are the LEAF codebook, each leaf belongs to
    * a coarse group, and probing descends coarse → leaves → buckets
    * ([[buildIvfTwoLevel]]). */
  final case class IvfIndex(centroids: Seq[(Int, Array[Double])],
      assigned: DataFrame, coarse: Option[CoarseIndex] = None,
      pq: Option[PqIndex] = None)

  /** Product-quantization layer over an IVF index ([[buildPq]]): the
    * per-block codebook (driver-held — m · codesPerBlock · dim/m
    * doubles, broadcastable) and the per-vector code table
    * `(vecId, centroid, code: array<int>)` — m small ints per vector,
    * the only thing a PQ probe reads per candidate. */
  final case class PqIndex(m: Int, codesPerBlock: Int,
      codebook: Array[Array[Array[Double]]],
      codes: DataFrame)

  /** The coarse level of a two-level IVF: its own small codebook plus
    * the leaf→coarse membership map. */
  final case class CoarseIndex(centroids: Seq[(Int, Array[Double])],
      leafToCoarse: Map[Int, Int])

  /** √n centroid count (the standard IVF sizing: probed fraction
    * nProbe/√n and bucket population n/√n both shrink as the corpus
    * grows), clamped to [4, 4096] — the upper clamp bounds the broadcast
    * codebook; beyond it a production deployment moves to a two-level
    * coarse quantizer, not a bigger flat codebook. */
  def autoCentroids(n: Long): Int =
    math.max(4, math.min(4096, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** Deterministic argmax-cosine assignment against a broadcast codebook:
    * one shuffle-free crossJoin + a partial-aggregating groupBy — max of
    * (cos, -cid) structs picks highest cosine, ties to the smallest cid
    * (NO per-vector window sort: at 10^12 rows a window partitioned by
    * vecId is a full sort; struct-max is a plain hash aggregate). */
  def assignToCentroids(vecs: DataFrame,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centDf = cents.toDF("cid", "cvec")
    vecs.crossJoin(broadcast(centDf))
      .select(col("vecId"), col("embedding"), col("cid"),
        cosine(col("embedding"), col("cvec")).as("cos"))
      .groupBy(col("vecId"))
      .agg(first(col("embedding")).as("embedding"), // determined by vecId
        max(struct(col("cos"), (-col("cid")).as("negCid"))).as("m"))
      .select(col("vecId"), col("embedding"),
        (-col("m.negCid")).cast("int").as("centroid"))
  }

  /** Spherical k-means with a DISTRIBUTED assignment step — the 10^12-row
    * form of [[kmeansCentroids]]: each Lloyd's iteration assigns the FULL
    * corpus against the broadcast codebook (crossJoin + struct-max, no
    * window) and reduces per-centroid component sums with a partial
    * aggregate (posexplode → groupBy(cid, pos)); only the k×dim sum
    * matrix is collected per iteration — bounded metadata, like a
    * term-df lookup. Init: evenly-spaced vectors from a bounded
    * deterministic sample (same rule as the sample-based form). Empty
    * clusters keep their previous centroid. Input vectors are
    * L2-normalized once up front so mean-then-renormalize is the
    * spherical update. */
  def kmeansCentroidsDistributed(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int = 10,
      sampleSize: Int = 4096): Seq[(Int, Array[Double])] = {
    var cents = kmeansInit(emb, idCol, vecCol, k, sampleSize)
    val nrm = norm(col("v"))
    val normed = emb
      .select(col(idCol).cast("long").as("vecId"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vecId"),
        when(nrm === 0.0, col("v"))
          .otherwise(transform(col("v"), x => x / nrm)).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = cents.head._2.length
      var it = 0
      while (it < iters) {
        val stats = assignToCentroids(normed, cents)
          .select(col("centroid"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("centroid"), col("pos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("c"))
          .collect()
        val sums = Array.fill(k)(new Array[Double](dim))
        val counts = new Array[Long](k)
        stats.foreach { r =>
          val cid = r.getInt(0)
          sums(cid)(r.getInt(1)) = r.getDouble(2)
          if (r.getInt(1) == 0) counts(cid) = r.getLong(3)
        }
        cents = cents.map { case (cid, prev) =>
          if (counts(cid) == 0L) (cid, prev)
          else {
            val s = sums(cid)
            val n = math.sqrt(s.map(x => x * x).sum)
            (cid, if (n == 0.0) prev else s.map(_ / n))
          }
        }
        it += 1
      }
      cents
    } finally { normed.unpersist(); () }
  }

  /** Shared deterministic init: evenly-spaced L2-normalized vectors
    * from a bounded HASH-ORDERED sample (no RNG — identical across
    * runs and cluster sizes; hash order, not id order, because dense
    * docIds make "first N by id" a handful of repos, the one corpus
    * corner an init should not over-fit — the distributed Lloyd's
    * rounds then refine against the full corpus regardless). */
  private def kmeansInit(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, sampleSize: Int): Seq[(Int, Array[Double])] = {
    val sample = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(Sampling.idHash(col("id")), col("id")).limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    (0 until k).map(i =>
      (i, normalize(sample((i.toLong * sample.length / k).toInt))))
  }

  /** Deterministic spherical k-means (Lloyd's) over a bounded sample.
    *
    * The sample (first `sampleSize` vectors by id — deterministic, no
    * RNG) is collected to the driver; iterations run driver-side (the
    * sample is bounded metadata, like a term-df lookup), and the final
    * codebook broadcasts back. Init: evenly-spaced sample vectors (rank
    * i·n/k), deterministic across runs and cluster sizes. Empty clusters
    * keep their previous centroid. Vectors are L2-normalized so the
    * mean-then-renormalize update is the spherical k-means step and
    * assignment by max cosine ≡ min Euclidean on the sphere. At 10^12
    * rows the same loop runs with nCentroids ∝ √n and a distributed
    * assignment step per iteration — same dataflow, bigger constants. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 10, sampleSize: Int = 4096): Seq[(Int, Array[Double])] = {
    val sample = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("id")).limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val xs = sample.map(normalizeDriver)
    lloydDriver(xs, k, iters).toIndexedSeq.zipWithIndex
      .map { case (v, i) => (i, v) }
  }

  private def normalizeDriver(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The driver-side Lloyd's loop over pre-normalized vectors — shared
    * by the flat sample path and both levels of the two-level build.
    * Init: evenly-spaced vectors (rank i·n/k). */
  private def lloydDriver(xs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = Array.tabulate(k)(i => xs((i.toLong * xs.length / k).toInt))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](xs.head.length))
      val counts = new Array[Int](k)
      xs.foreach { x =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < x.length) { d += x(j) * cents(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < x.length) { sums(best)(j) += x(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else normalizeDriver(sums(c)))
      it += 1
    }
    cents
  }

  /** Driver-side nearest-centroid (max dot) index for one vector. */
  private def nearestDriver(x: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var j = 0
      while (j < x.length) { d += x(j) * cents(c)(j); j += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Build the IVF index: k-means codebook + one assignment pass
    * (broadcast codebook, argmax cosine per vector via struct-max — no
    * per-vector window sort). The caller should cache `assigned` for
    * repeated probing.
    *
    * `nCentroids = 0` (the default) auto-scales to √n
    * ([[autoCentroids]]) and trains the codebook with the DISTRIBUTED
    * Lloyd's loop ([[kmeansCentroidsDistributed]]) when the corpus
    * exceeds the driver sample — the corpus-size-agnostic path. When
    * n <= sampleSize the deterministic sample IS the corpus, so the
    * bounded driver loop computes the identical spherical k-means
    * without paying `iters` rounds of job scheduling. An explicit
    * `nCentroids` keeps the driver loop (deterministic tiny-fixture
    * tests). */
  def buildIvf(emb: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 0, iters: Int = 10,
      sampleSize: Int = 4096): IvfIndex = {
    val cents =
      if (nCentroids == 0) {
        val n = emb.count()
        val k = autoCentroids(n)
        if (n <= sampleSize)
          kmeansCentroids(emb, idCol, vecCol, k, iters, sampleSize)
        else
          kmeansCentroidsDistributed(emb, idCol, vecCol, k, iters, sampleSize)
      } else kmeansCentroids(emb, idCol, vecCol, nCentroids, iters, sampleSize)
    val vecs = emb.select(col(idCol).as("vecId"), col(vecCol).as("embedding"))
    IvfIndex(cents, assignToCentroids(vecs, cents))
  }

  /** Top-`n` (qid, id) pairs of a scored (qid, cos, id-as-vecId) frame —
    * the probe-selection form of the bounded-heap aggregate. */
  private def topIdsByQid(scored: DataFrame, n: Int,
      outCol: String): DataFrame = {
    val agg = udaf(new TopKAgg(n))
    scored.filter(col("cos").isNotNull).groupBy(col("qid"))
      .agg(agg(col("cos"), col("vecId")).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s.vecId").as(outCol))
  }

  /** The probed (qid, qvec, centroid) set for a query batch: nearest
    * `nProbe` leaves per query, descending coarse → leaves on a
    * two-level index (per-query centroid scoring stays
    * O(√nLeaf + leaves-in-probed-groups), never the full leaf
    * codebook). Window-free: every per-query selection is the bounded
    * top-k aggregate. */
  private[graft] def probeSet(ivf: IvfIndex, queries: DataFrame, nProbe: Int,
      coarseProbe: Int): DataFrame = {
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    ivf.coarse match {
      case None =>
        val centDf = ivf.centroids.toDF("cid", "cvec")
        val scored = broadcast(queries).crossJoin(broadcast(centDf))
          .select(col("qid"),
            cosine(col("qvec"), col("cvec")).as("cos"),
            col("cid").cast("long").as("vecId"))
        topIdsByQid(scored, nProbe, "centroid")
          .join(broadcast(queries), "qid")
          .select(col("qid"), col("qvec"), col("centroid").cast("int").as("centroid"))
      case Some(ci) =>
        val cp = if (coarseProbe > 0) coarseProbe else nProbe
        val coarseDf = ci.centroids.toDF("ccid", "ccvec")
        val leafDf = ivf.centroids
          .map { case (l, v) => (l, ci.leafToCoarse(l), v) }
          .toDF("cid", "ccid", "cvec")
        val coarseScored = broadcast(queries).crossJoin(broadcast(coarseDf))
          .select(col("qid"),
            cosine(col("qvec"), col("ccvec")).as("cos"),
            col("ccid").cast("long").as("vecId"))
        val coarseTop = topIdsByQid(coarseScored, cp, "ccid")
          .join(broadcast(queries), "qid")
          .select(col("qid"), col("qvec"), col("ccid").cast("int").as("ccid"))
        val leafScored = coarseTop.join(broadcast(leafDf), "ccid")
          .select(col("qid"),
            cosine(col("qvec"), col("cvec")).as("cos"),
            col("cid").cast("long").as("vecId"))
        topIdsByQid(leafScored, nProbe, "centroid")
          .join(broadcast(queries), "qid")
          .select(col("qid"), col("qvec"), col("centroid").cast("int").as("centroid"))
    }
  }

  /** IVF-probed ANN over a prebuilt index: per query, search only the
    * `nProbe` centroids nearest to the query vector. On a two-level
    * index the descent is coarse codebook → `coarseProbe` groups →
    * their leaves → `nProbe` leaves → bucket scan. Output
    * (qid, rank, vecId, cos) — approximate (recall < 1 by design).
    * `coarseProbe` 0 = `nProbe` (ignored on a flat index).
    *
    * `rerank` > 0 switches the bucket scan to the PQ path (requires
    * [[buildPq]] codes on the index): probed buckets are scored from
    * PQ CODES ONLY (m bytes/vector instead of the raw embedding), the
    * top `rerank`·k per query are re-scored exactly against raw
    * embeddings, and the final top-k comes from that re-rank — the
    * IVFADC shape, cutting per-probe IO by dim·4/m while keeping exact
    * scores on everything returned. */
  def ivfProbe(ivf: IvfIndex, queryIds: Seq[Long], k: Int,
      nProbe: Int, coarseProbe: Int = 0, rerank: Int = 0): DataFrame = {
    val queries = ivf.assigned.filter(col("vecId").isin(queryIds: _*))
      .select(col("vecId").as("qid"), col("embedding").as("qvec"))
    if (rerank > 0) return ivfProbePq(ivf, queries, k, nProbe, coarseProbe,
      rerank)
    val probes = probeSet(ivf, queries, nProbe, coarseProbe)
    val scored = probes.join(ivf.assigned, "centroid")
      .filter(col("qid") =!= col("vecId"))
      .withColumn("cos", cosine(col("qvec"), col("embedding")))
    topKByQid(scored, k)
  }

  /** Two-level IVF build — the documented successor past the
    * [[autoCentroids]] 4096-leaf clamp: a flat broadcast codebook and a
    * per-query scan of ALL leaf centroids stop making sense, so the
    * leaves are themselves clustered under a √nLeaf coarse codebook.
    * Training is hierarchical on a bounded HASH-ORDERED driver sample
    * (coarse Lloyd's, then an independent Lloyd's per coarse group with
    * leaf counts proportional to group mass — groups may round to
    * slightly fewer than `nLeaf` leaves in total); the FULL corpus is
    * then assigned distributedly in two hops: nearest coarse group
    * (n × √nLeaf cosines) and nearest leaf within that group
    * (n × leaves-per-group) — never n × nLeaf. The sample is ordered
    * by [[Sampling.idHash]], NOT by id: docIds are dense (repo, path)
    * ranks, so "first 16k by id" is a handful of repos and a codebook
    * fit to it models one corner of the embedding space; the hash
    * order is a deterministic uniform draw from the whole corpus.
    * `refineIters` further runs distributed leaf-refinement Lloyd's
    * passes against the FULL corpus (the flat path's
    * [[kmeansCentroidsDistributed]] pattern, scoped to each vector's
    * coarse group), so the final leaves reflect corpus mass, not
    * sample luck. The result plugs into the same
    * [[IvfIndex]]/[[ivfProbe]] API. */
  def buildIvfTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
      nLeaf: Int, iters: Int = 10, sampleSize: Int = 16384,
      refineIters: Int = 1): IvfIndex = {
    require(nLeaf > 1, s"nLeaf must be > 1: $nLeaf")
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = emb
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .orderBy(Sampling.idHash(col("id")), col("id")).limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
      .map(normalizeDriver)
    val k1 = math.max(2, math.ceil(math.sqrt(nLeaf.toDouble)).toInt)
    require(sample.length >= k1, s"sample ${sample.length} < coarse k $k1")
    val coarse = lloydDriver(sample, k1, iters)
    // split the sample by coarse membership; train leaves per group
    val byGroup = Array.fill(k1)(scala.collection.mutable.ArrayBuffer
      .empty[Array[Double]])
    sample.foreach(x => byGroup(nearestDriver(x, coarse)) += x)
    val leaves = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Array[Double])] // (leafId, coarseId, vec)
    var nextLeaf = 0
    byGroup.zipWithIndex.foreach { case (g, ccid) =>
      if (g.nonEmpty) {
        val kg = math.max(1, math.min(g.length,
          math.round(nLeaf.toDouble * g.length / sample.length).toInt))
        lloydDriver(g.toArray, kg, iters).foreach { v =>
          leaves += ((nextLeaf, ccid, v)); nextLeaf += 1
        }
      }
    }
    val vecs = emb.select(col(idCol).as("vecId"), col(vecCol).as("embedding"))
    // two-hop distributed assignment — ONLY against coarse groups that
    // trained leaves: an empty Lloyd's cluster keeps its stale centroid,
    // which can still be nearest for corpus vectors outside the sample;
    // routing one there would have no leaf to land in and the inner
    // join below would silently drop the vector from the index
    val liveGroups = leaves.map(_._2).toSet
    val coarseSeq = coarse.toIndexedSeq.zipWithIndex
      .collect { case (v, i) if liveGroups(i) => (i, v) }
    val coarseAssigned = assignToCentroids(vecs, coarseSeq)
      .withColumnRenamed("centroid", "ccid")
    var leafSeq: Seq[(Int, Int, Array[Double])] = leaves.toSeq
    val leafToCoarse = leaves.map { case (l, c, _) => l -> c }.toMap
    var assigned = assignToLeaves(coarseAssigned, leafSeq, spark)

    // Distributed leaf refinement (Lloyd's against the FULL corpus,
    // scoped to each vector's coarse group): per pass, ONE partial
    // aggregate reduces per-leaf component sums of the normalized
    // corpus vectors (only the nLeaf × dim sum matrix reaches the
    // driver — the same bounded metadata as the codebook itself), the
    // leaf codebook updates (mean-then-renormalize = the spherical
    // step; an empty leaf keeps its vector), and the corpus re-assigns
    // within its coarse group via the broadcast leaf→group table.
    // This is what stops a sample-skewed leaf layout from surviving to
    // probe time: leaves migrate toward where the corpus actually is.
    // Each round's input is cached for its stats pass and released
    // when the next round lands; the returned assignment recomputes
    // its (linear) chain once on the consumer's first action — callers
    // pin the result (the SparkEntry handles do), so that is a
    // one-time cost, not a leak.
    var pass = 0
    var lastCached: Option[DataFrame] = None
    while (pass < refineIters) {
      val cur = assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dim = leafSeq.head._3.length
      val nrm = norm(col("embedding"))
      val stats = cur
        .select(col("centroid"),
          posexplode(when(nrm === 0.0, col("embedding").cast("array<double>"))
            .otherwise(transform(col("embedding"), x => x / nrm)))
            .as(Seq("pos", "x")))
        .groupBy(col("centroid"), col("pos"))
        .agg(sum(col("x")).as("s"))
        .collect()
      val sums = scala.collection.mutable.Map.empty[Int, Array[Double]]
      stats.foreach { r =>
        sums.getOrElseUpdate(r.getInt(0), new Array[Double](dim))(
          r.getInt(1)) = r.getDouble(2)
      }
      leafSeq = leafSeq.map { case (l, c, prev) =>
        sums.get(l) match {
          case Some(s) =>
            val n = math.sqrt(s.map(x => x * x).sum)
            (l, c, if (n == 0.0) prev else s.map(_ / n))
          case None => (l, c, prev)
        }
      }
      // re-assign within each vector's coarse group (= its current
      // leaf's group — reassignment never crosses groups)
      val l2cDf = leafSeq.map { case (l, c, _) => (l, c) }.toDF("lcid", "ccid")
      assigned = assignToLeaves(
        cur.join(broadcast(l2cDf), col("centroid") === col("lcid"))
          .select(col("vecId"), col("embedding"), col("ccid")),
        leafSeq, spark)
      lastCached.foreach(_.unpersist(false))
      lastCached = Some(cur)
      pass += 1
    }
    lastCached.foreach(_.unpersist(false))
    IvfIndex(leafSeq.map { case (l, _, v) => (l, v) }, assigned,
      Some(CoarseIndex(coarseSeq, leafToCoarse)))
  }

  /** Second assignment hop: (vecId, embedding, ccid) rows → nearest
    * leaf WITHIN the coarse group, via broadcast leaf table +
    * struct-max (no per-vector window). */
  private def assignToLeaves(coarseAssigned: DataFrame,
      leaves: Seq[(Int, Int, Array[Double])],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val leafDf = leaves.toDF("lcid", "ccid", "lvec")
    coarseAssigned.join(broadcast(leafDf), "ccid")
      .select(col("vecId"), col("embedding"), col("lcid"),
        cosine(col("embedding"), col("lvec")).as("cos"))
      .groupBy(col("vecId"))
      .agg(first(col("embedding")).as("embedding"),
        max(struct(col("cos"), (-col("lcid")).as("negCid"))).as("m"))
      .select(col("vecId"), col("embedding"),
        (-col("m.negCid")).cast("int").as("centroid"))
  }

  /** Plain (Euclidean) driver-side Lloyd's — the PQ residual-block
    * trainer. Residual blocks are NOT unit vectors, so the spherical
    * update ([[lloydDriver]]) is wrong here; this is the standard
    * min-L2 / mean-update loop. Init: evenly-spaced sample vectors. */
  private def lloydEuclidDriver(xs: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = Array.tabulate(k)(i => xs((i.toLong * xs.length / k).toInt))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](xs.head.length))
      val counts = new Array[Int](k)
      xs.foreach { x =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0
          var j = 0
          while (j < x.length) { val t = x(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < x.length) { sums(best)(j) += x(j); j += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      it += 1
    }
    cents
  }

  /** Product-quantize an IVF index (IVFADC): per-leaf RESIDUALS
    * (x̂ − leaf centroid) are split into `m` blocks; each block gets a
    * shared `codesPerBlock`-entry codebook trained by plain Lloyd's on
    * a bounded hash-ordered sample; every corpus vector is then encoded
    * distributedly as m small ints. A PQ probe
    * ([[ivfProbe]] with `rerank` > 0) scans probed buckets reading
    * ONLY these codes — m bytes-ish per candidate instead of dim·4 —
    * and re-ranks the top rerank·k exactly, which is what makes probe
    * IO survivable when the probed buckets of a 10^12-row corpus no
    * longer fit anyone's scan budget.
    *
    * The per-row encode is a UDF on purpose: the pure-expression form
    * is a crossJoin of n rows × m·codesPerBlock codewords + struct-min
    * — a 2048× row inflation on the build pass; the UDF is one
    * broadcast-codebook tight loop per row (same measured rationale as
    * `IndexBuilder.termDoc`). */
  def buildPq(ivf: IvfIndex, m: Int = 8, codesPerBlock: Int = 256,
      iters: Int = 10, sampleSize: Int = 16384): IvfIndex = {
    val dim = ivf.centroids.head._2.length
    require(m > 0 && dim % m == 0, s"dim $dim must split into m=$m blocks")
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val sub = dim / m
    val leafMap = ivf.centroids.toMap
    val sampleRows = ivf.assigned
      .select(col("vecId"), col("embedding").cast("array<double>").as("v"),
        col("centroid"))
      .orderBy(Sampling.idHash(col("vecId")), col("vecId"))
      .limit(sampleSize).collect()
    require(sampleRows.nonEmpty, "empty PQ training sample")
    val residuals = sampleRows.map { r =>
      val x = normalizeDriver(r.getSeq[Double](1).toArray)
      val lv = leafMap(r.getInt(2))
      Array.tabulate(dim)(j => x(j) - lv(j))
    }
    val kEff = math.min(codesPerBlock, residuals.length)
    val codebook = Array.tabulate(m) { b =>
      val xs = residuals.map(r =>
        java.util.Arrays.copyOfRange(r, b * sub, (b + 1) * sub))
      lloydEuclidDriver(xs, kEff, iters)
    }
    val bcLeaf = spark.sparkContext.broadcast(leafMap)
    val bcCb = spark.sparkContext.broadcast(codebook)
    val mm = m
    val ss = sub
    val enc = udf { (v: Seq[Double], c: Int) =>
      val x = normalizeDriver(v.toArray)
      val lv = bcLeaf.value(c)
      val cb = bcCb.value
      val out = new Array[Int](mm)
      var b = 0
      while (b < mm) {
        var best = 0
        var bestD = Double.MaxValue
        val cwords = cb(b)
        var ci = 0
        while (ci < cwords.length) {
          var d = 0.0
          var j = 0
          while (j < ss) {
            val t = x(b * ss + j) - lv(b * ss + j) - cwords(ci)(j)
            d += t * t
            j += 1
          }
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        out(b) = best
        b += 1
      }
      out
    }
    val codes = ivf.assigned.select(col("vecId"), col("centroid"),
      enc(col("embedding").cast("array<double>"), col("centroid")).as("code"))
    ivf.copy(pq = Some(PqIndex(m, kEff, codebook, codes)))
  }

  /** The PQ bucket scan + exact re-rank behind [[ivfProbe]]'s `rerank`:
    * per query a driver-built LUT (m × codesPerBlock partial dots of
    * the normalized query against the codebook — bounded, broadcast),
    * approx score = dot(q̂, leaf) + Σ_blocks LUT[block][code], top
    * rerank·k per query through the bounded-heap aggregate, exact
    * cosine re-scored ONLY for those against raw embeddings. */
  private def ivfProbePq(ivf: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int, coarseProbe: Int, rerank: Int): DataFrame = {
    val pq = ivf.pq.getOrElse(throw new IllegalArgumentException(
      "ivfProbe(rerank > 0) needs a PQ layer: call buildPq on the index first"))
    val spark = ivf.assigned.sparkSession
    import spark.implicits._
    val m = pq.m
    val dim = ivf.centroids.head._2.length
    val sub = dim / m
    // The query vectors (|batch| rows) and the probe set (|batch| ×
    // nProbe rows) are bounded, so each is collected once and its
    // consumers run from driver rows: the LUTs and both qid joins from
    // the vectors, the bucket join from the (qid, centroid) pairs. A
    // lazy probe frame would re-run its multi-job coarse→leaf descent
    // per reference, and collecting it with its qvec column would ship
    // each query vector once per probed centroid. float→double is
    // exact, so every cosine stays bit-identical.
    val qVecs: Seq[(Long, Seq[Double])] = queries
      .select(col("qid"), col("qvec").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).distinct.toSeq
    val queryDf = qVecs.toDF("qid", "qvec")
    val probeDf = probeSet(ivf, queryDf, nProbe, coarseProbe)
      .select(col("qid"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
      .toDF("qid", "centroid")
    val luts: Seq[(Long, Seq[Seq[Double]])] = qVecs.map { case (qid, qv) =>
      val qn = normalizeDriver(qv.toArray)
      val lut = (0 until m).map { b =>
        pq.codebook(b).toSeq.map { cw =>
          var d = 0.0
          var j = 0
          while (j < sub) { d += qn(b * sub + j) * cw(j); j += 1 }
          d
        }
      }
      (qid, lut)
    }
    val lutDf = luts.toDF("qid", "lut")
    val leafDf = ivf.centroids.toDF("centroid", "cvec")
    val approx = probeDf.join(broadcast(leafDf), "centroid")
      .join(broadcast(lutDf), "qid")
      .join(broadcast(queryDf), "qid")
      .join(pq.codes, Seq("centroid"))
      .filter(col("qid") =!= col("vecId"))
      .select(col("qid"),
        (cosine(col("qvec"), col("cvec")) +
          aggregate(zip_with(col("lut"), col("code"),
            (t, c) => element_at(t, c + 1)), lit(0.0), (a, x) => a + x))
          .as("cos"),
        col("vecId"))
    val cands = topIdsByQid(approx, rerank * k, "vecId")
    val exact = cands
      .join(ivf.assigned.select(col("vecId"), col("embedding")), "vecId")
      .join(broadcast(queryDf), "qid")
      .withColumn("cos", cosine(col("qvec"), col("embedding")))
    topKByQid(exact, k)
  }

  /** Convenience one-shot: build + probe (tests and the driver query). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame =
    ivfProbe(buildIvf(emb, idCol, vecCol, nCentroids), queryIds, k, nProbe)
}
