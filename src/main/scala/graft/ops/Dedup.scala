package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale corpus deduplication operators.
  *
  * All operators take (id, text) shaped input and are built from
  * shuffle-bounded primitives: no operator materializes an unbounded
  * group or an O(n²) comparison — candidate generation is always via
  * equi-join on a bounded key (content hash, shared shingle, LSH band,
  * simhash band), which is the layout that survives 10^12 rows.
  */
object Dedup {

  /** Exact dedup via content hash: one row per distinct content with the
    * canonical (minimum) id and the duplicate count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("contentHash"))
      .agg(min(col(idCol)).as("keepId"), count(lit(1)).as("cnt"))

  /** Distinct token n-gram shingles per doc: (id, shingle).
    *
    * Linear-time formulation: n parallel O(len) slices zipped and
    * concatenated — NOT `slice` inside a per-index `transform`, which is
    * O(len²) per document (each slice call copies). */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = graft.index.Tokenizer.tokens(col(textCol))
    val cnt = greatest(size(toks) - (n - 1), lit(0))
    val parts = (0 until n).map(k => slice(toks, lit(k + 1), cnt).as(s"s$k"))
    val grams = transform(arrays_zip(parts: _*),
      x => concat_ws(" ", (0 until n).map(k => x.getField(s"s$k")): _*))
    docs.select(col(idCol).as("id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).
    *
    * Scalable shape: explode distinct shingles → self-equi-join on the
    * shingle → count shared per pair → |A∪B| from per-doc sizes. Pair
    * cardinality is bounded by shingle co-occurrence, not n² — PROVIDED
    * hot shingles are capped: one boilerplate shingle shared by d docs
    * contributes d²/2 candidate pairs before any threshold filter, so at
    * corpus scale an uncapped run is the job that never finishes.
    * `maxShingleDf` therefore defaults ON (1000): shingles appearing in
    * more than that many docs are dropped from BOTH the join and the
    * per-doc sizes (the jaccard stays internally consistent over the
    * capped shingle universe). Recall effect: a pair whose overlap is
    * carried ONLY by >cap boilerplate shingles is missed — at a 1000-doc
    * cap those shingles carry ~0 specificity, the standard trade (same
    * knob as MinHashLSH's frequency filter). Pass `None` only for small
    * corpora / oracle comparisons that need the exact uncapped metric.
    *
    * BREAKING CHANGE (round 2): the default moved from `None` to
    * `Some(1000)`. A caller relying on the exact uncapped jaccard must
    * now pass `maxShingleDf = None` explicitly — under the default,
    * pairs carried only by >1000-df boilerplate shingles disappear and
    * surviving jaccards are computed over the capped shingle universe. */
  /** Default hot-shingle cap — a NAMED constant so call sites opting
    * into the capped (round-2 default) behavior can say so explicitly;
    * `maxShingleDf = None` restores the exact uncapped metric. */
  val DefaultMaxShingleDf: Option[Int] = Some(1000)

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      maxShingleDf: Option[Int] = DefaultMaxShingleDf): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val shF = maxShingleDf match {
      case Some(cap) =>
        val hot = sh.groupBy("shingle").count().filter(col("count") > cap)
          .select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti")
      case None => sh
    }
    // sizes over the SAME (capped) shingle universe as `shared`, so the
    // jaccard stays internally consistent when maxShingleDf is set
    val sizes = shF.groupBy("id").agg(count(lit(1)).as("sz"))
    val pairs = shF.as("x").join(shF.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "szA"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szB"), "b")
      .withColumn("jaccard",
        col("shared") / (col("szA") + col("szB") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash+LSH near-dup pairs: shingle → 64-bit hash → `numHashes`
    * universal-hash minima → `bands` bands → band-bucket equi-join →
    * exact-Jaccard verification of the candidates only.
    *
    * With numHashes=128 / bands=32 (rows r=4), detection probability at
    * J=0.8 is 1-(1-0.8^4)^32 ≈ 1-6e-8 — the standard S-curve trade.
    * Hash family: h_i(x) = (a_i·x + b_i) mod p, seeds from splitmix64
    * (deterministic across runs and cluster sizes). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.6): DataFrame = {
    require(numHashes % bands == 0)
    // p = 2^31-1 so a·x stays inside a 64-bit long (a,x < 2^31)
    val p = 2147483647L
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val as = Array.tabulate(numHashes)(i => ((mix(2 * i) >>> 1) % (p - 1)) + 1)
    val bs = Array.tabulate(numHashes)(i => (mix(2 * i + 1) >>> 1) % p)

    val sh = shingles(docs, idCol, textCol, n)
      .withColumn("shp", pmod(xxhash64(col("shingle")), lit(p)))
    // 128 partial-aggregating mins in one pass — no per-doc array blowup
    val minAggs = (0 until numHashes).map { i =>
      min(pmod(col("shp") * as(i) + bs(i), lit(p))).as(s"h$i")
    }
    val sigs = sh.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
    val r = numHashes / bands
    // one explode of an array of (band, bucket) structs — not a
    // `bands`-way union (a 32-branch plan is expensive to optimize)
    val bandStructs = array((0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64((bnd * r until (bnd + 1) * r).map(i => col(s"h$i")): _*)
          .as("bucket"))
    }: _*)
    val bandRows = sigs
      .select(col("id"), explode(bandStructs).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bucket").as("bucket"))
    val cands = bandRows.as("x").join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    // exact-Jaccard verification restricted to the candidate pairs only
    // (never the full pair join — that is what LSH exists to avoid)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val shA = sh.select(col("id").as("a"), col("shingle"))
    val shB = sh.select(col("id").as("b"), col("shingle"))
    cands
      .join(shA, "a")
      .join(shB, Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("id").as("a"), col("sz").as("szA")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szB")), "b")
      .withColumn("jaccard",
        col("shared") / (col("szA") + col("szB") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash geometry: 60 signature bits, split into 6 bands of 10 bits
    * for blocking. Candidate keys are band TRIPLES — C(6,3) = 20 keys of
    * 30 bits each per doc. Pigeonhole: hamming ≤ 3 dirties ≤ 3 bands, so
    * ≥ 3 bands stay clean and at least one clean triple key matches.
    * Scale note (the round-1 weakness this replaces): single 16-bit
    * bands give 2^16 buckets → ~10^7 docs/bucket at 10^12 docs and a
    * quadratic in-bucket join that never finishes; 30-bit triple keys
    * give 20·2^30 buckets → ~10^3 docs/bucket average, a ~65536×
    * reduction in per-bucket population for 5× the exploded rows. */
  val SimhashBits = 60
  val SimhashBands = 6
  val SimhashBandBits = 10

  /** 60-bit token hash as pure HOF column expressions: two independent
    * 31-bit polynomial char hashes packed as h1·998244353 + h2
    * (< 1e9+7 · 998244353 < 2^60). Deliberately NOT xxhash64: this hash
    * is exactly mirrorable in DuckDB list_reduce, which makes the
    * simhash pairs operator oracle-checkable end-to-end. */
  def tokenHash60(t: Column): Column = {
    def poly(mult: Long, m: Long): Column =
      aggregate(
        transform(sequence(lit(1), length(t)),
          i => ascii(t.substr(i, lit(1))).cast("bigint")),
        lit(0L), (acc, c) => (acc * mult + c) % m)
    poly(31, 1000000007L) * lit(998244353L) + poly(131, 998244353L)
  }

  /** 60-bit SimHash per doc over token occurrences. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.index.Tokenizer.tokens(col(textCol))
    val th = docs.select(col(idCol).as("id"), explode(toks).as("term"))
      .withColumn("h", tokenHash60(col("term")))
    val bitSums = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    th.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until SimhashBits).map(b =>
          when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Embedding-cosine near-dup pairs via sign-bit LSH + exact verify.
    *
    * Candidate generation: the 64 signature bits are the signs of the
    * embedding's own components (axis-aligned hyperplanes — deterministic,
    * no RNG, so the result is identical across runs and cluster sizes);
    * split into `bands` band keys, candidates = pairs agreeing exactly on
    * at least one band (equi-join on (band, key), never n²). Each
    * candidate is verified with the exact cosine in double precision.
    * Output (a, b, cos) with a < b and cos >= threshold. Production
    * variant at 10^12 rows swaps in random hyperplanes + more bands; the
    * dataflow shape (band join + exact verify) is unchanged. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.35, dim: Int = 64, bands: Int = 8): DataFrame = {
    require(dim % bands == 0)
    val bw = dim / bands
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bandStructs = array((0 until bands).map { b =>
      val key = (0 until bw).map { j =>
        when(element_at(col("v"), b * bw + j + 1) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce[Column](_ + _)
      struct(lit(b).as("band"), key.as("key"))
    }: _*)
    val banded = vecs
      .select(col("id"), col("v"), explode(bandStructs).as("e"))
      .select(col("id"), col("v"), col("e.band").as("band"),
        col("e.key").as("key"))
    // distinct on (a, b) BEFORE scoring: a pair agreeing on several
    // bands must pay the exact-cosine verify only once
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    cands
      .join(vecs.select(col("id").as("a"), col("v").as("va")), "a")
      .join(vecs.select(col("id").as("b"), col("v").as("vb")), "b")
      .select(col("a"), col("b"),
        Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
  }

  /** Connected components over an undirected near-dup pair list:
    * (a, b) edges → (id, rep) where rep is the minimum id in the
    * component. Covers exactly the ids that appear in `pairs`; see
    * [[dupClusters]] for the full-corpus (singleton-including) form.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14). Each
    * half-round is one bounded groupBy + equi-join, and the edge set
    * converges to per-component stars in O(log² n) rounds REGARDLESS of
    * component diameter — the property that matters for dedup at corpus
    * scale, where boilerplate-linked near-dup chains make components
    * arbitrarily long and diameter-bound label propagation (O(diameter)
    * rounds) is the job that never finishes.
    *
    * Per round: the star shuffles plus exactly TWO jobs — the eager
    * checkpoint materialization and one (count, bit_xor fingerprint)
    * aggregate over the materialized blocks. Fixed-point detection
    * compares this round's stats to the previous round's (already in
    * hand — no re-count of the old set), and only when the cheap signal
    * fires does a single exact `except` emptiness check confirm set
    * equality — a one-off, not a per-round cost; an (astronomically
    * unlikely) xor collision just buys one more round. Lineage is
    * truncated by the per-round checkpoint so the plan stays
    * constant-size across iterations; `reliable = true` swaps the
    * executor-local checkpoint for a reliable one (requires
    * `sparkContext.setCheckpointDir`) — on a real cluster with dynamic
    * allocation, localCheckpoint blocks die with their executor. */
  def connectedComponents(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxRounds: Int = 50,
      reliable: Boolean = false): DataFrame = {
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // Reliable checkpoints are NOT auto-deleted (Spark's cleaner only
    // removes them with spark.cleaner.referenceTracking.cleanCheckpoints,
    // off by default), so without explicit cleanup a corpus-scale run
    // leaks one full edge-set copy per round onto cluster storage for
    // the life of the application. Once round r is materialized AND the
    // convergence probe (which may still read round r-1) has run, round
    // r-1's files are dead — delete them. The FINAL round's checkpoint
    // is left alive: the returned DataFrame reads from it.
    def dropCheckpoint(df: DataFrame): Unit =
      if (reliable) {
        df.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.getCheckpointFile
        }.flatten.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          val fs = p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(p, true)
          ()
        }
      }
    // (cardinality, order-free xor fingerprint) of a distinct edge set —
    // one job over checkpointed longs
    def stats(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(lo, hi))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // canonical undirected edge set: (lo, hi), lo < hi, distinct
    var e = ckpt(pairs.select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct())
    var (cnt, fp) = stats(e)
    var round = 0
    var converged = cnt == 0
    while (!converged && round < maxRounds) {
      val next = ckpt(smallStar(largeStar(e)))
      val (nCnt, nFp) = stats(next)
      // both sides are distinct sets: matching stats → confirm set
      // equality exactly with one anti-join emptiness probe
      converged = nCnt == cnt && nFp == fp && next.except(e).isEmpty
      dropCheckpoint(e) // next is materialized; the probe above has run
      e = next; cnt = nCnt; fp = nFp
      round += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    // converged ⇒ stars rooted at the component minimum: every non-root
    // node appears as `hi` with its root as `lo` (min is belt only)
    e.groupBy(col("hi").as("id")).agg(min(col("lo")).as("rep"))
      .union(e.select(col("lo").as("id"), col("lo").as("rep")).distinct())
  }

  /** Large-star: every node links its LARGER neighbors to the minimum
    * of its neighborhood (including itself). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("lo").as("u"), col("hi").as("v"))
      .union(e.select(col("hi").as("u"), col("lo").as("v")))
    val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u")) // m <= u < v, so (m, v) is canonical
      .select(col("m").as("lo"), col("v").as("hi"))
      .distinct()
  }

  /** Small-star: every node links its SMALLER neighbors (and itself) to
    * the minimum of those neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val d = e.select(col("hi").as("u"), col("lo").as("v"))
    val mins = d.groupBy("u").agg(min(col("v")).as("m"))
    d.join(mins, "u")
      .select(col("m").as("lo"), col("v").as("hi")) // m <= v < u
      .filter(col("lo") =!= col("hi"))
      .union(mins.select(col("m").as("lo"), col("u").as("hi"))) // m < u
      .distinct()
  }

  /** Full-corpus duplicate clusters: every doc labeled with its
    * component representative (minimum id over the near-dup component,
    * itself for singletons) plus the cluster size — the "keep one per
    * cluster, know how much you dropped" record a training-data dedup
    * pass emits. `pairs` is any (a, b) near-dup pair list (ngram /
    * minhash / simhash / embedding). */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a", bCol: String = "b",
      reliable: Boolean = false): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol, reliable = reliable)
    val labeled = docs.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep"))
    labeled.join(labeled.groupBy(col("rep")).agg(count(lit(1)).as("csize")),
        "rep")
      .select(col("id"), col("rep"), col("csize"))
  }

  /** Corpus filtered to one canonical doc (the minimum id) per near-dup
    * component — non-representatives removed via anti-join, never a
    * driver-side id list. */
  def keepCanonical(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(connectedComponents(pairs)
        .filter(col("id") =!= col("rep"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Near-dup pairs at Hamming distance <= maxHamming over the 60-bit
    * simhash, candidates from triple-band blocking (lossless for
    * maxHamming <= SimhashBands - 3 by pigeonhole). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= SimhashBands - 3,
      s"triple-band blocking is lossless only for hamming <= ${SimhashBands - 3}")
    val sims = simhash(docs, idCol, textCol)
    def bandVal(b: Int): Column =
      shiftright(col("simhash"), b * SimhashBandBits)
        .bitwiseAND((1L << SimhashBandBits) - 1)
    // one 30-bit key per band triple, combo id in the top bits so all 20
    // key families share one equi-join column
    val combos = (0 until SimhashBands).combinations(3).toSeq
    val keys = array(combos.zipWithIndex.map { case (c, ci) =>
      lit(ci.toLong << 32) + (bandVal(c(0)) * (1L << 20)) +
        (bandVal(c(1)) * (1L << 10)) + bandVal(c(2))
    }: _*)
    val banded = sims
      .select(col("id"), col("simhash"), explode(keys).as("key"))
    // distinct BEFORE hamming (same discipline as the embed path): a
    // pair agreeing on several triple-keys pays the verify exactly once.
    // simhash rides along — it is functionally determined by the id, so
    // distinct on (a, b, sa, sb) ≡ distinct on (a, b).
    banded.as("x").join(banded.as("y"),
        col("x.key") === col("y.key") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
