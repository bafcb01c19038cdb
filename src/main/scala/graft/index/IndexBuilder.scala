package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.index.codec.VarbyteFunctions.{encodeDelta, encodePlain}
import graft.query.Shard

/** Build configuration.
  *
  * @param bucketBits docId-range bucket width (2^bucketBits docs/bucket).
  *   The bucket IS the skew salt: the postings shuffle keys on
  *   `(field, term, bucket)`, so a term appearing in every document
  *   ("if", "return") is split into bounded groups of at most
  *   2^bucketBits postings instead of one unbounded group — order-
  *   preserving salting (reference has no skew handling; north rule
  *   demands it).
  * @param blockSize postings per block-max entry; 64 mirrors the
  *   reference's skip-table `BLOCK_SIZE`
  *   (`/root/reference/src/inverted_index/IndexFile.h:32-37`).
  * @param codec posting-blob codec: "varbyte" (default — unbounded
  *   values, the at-scale codec) or "groupvarint" (the reference's
  *   uint32 alternative, `utf_encoding.h:100-194`; needs dense
  *   docIds < 2^32 and blockSize % 4 == 0 for group-aligned blocks).
  */
final case class IndexConfig(
    bucketBits: Int = 16,
    blockSize: Int = 64,
    k1: Double = 1.2,
    b: Double = 0.75,
    indexPartitions: Int = 32,
    codec: String = "varbyte") {
  require(codec != "groupvarint" || blockSize % 4 == 0,
    "groupvarint blocks must be group-aligned (blockSize % 4 == 0)")
}

final case class CorpusStats(nDocs: Long, avgDocLen: Double)

/** One posting before the term-level merge: positions already
  * delta+varbyte compressed (document-local). */
final case class TermDocRow(field: String, term: String, docId: Long,
    tf: Int, posBlob: Array[Byte], docLen: Int)

/** Minimal growable primitive long buffer (hot build path — avoids one
  * boxed object per token position). */
private[index] final class LongBuf {
  private var a = new Array[Long](4)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def result(): Array[Long] =
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
}

/** Open-addressing term → positions aggregator, reused across the
  * documents of a partition. Tokens are looked up as (src, start, end)
  * spans — a String is allocated only the first time a DISTINCT term
  * appears in a document (~3× fewer allocations than String-per-token at
  * code-corpus repetition rates; the dominant GC load of the build). */
private[index] final class TermAgg {
  private var cap = 2048 // power of two
  private var keys = new Array[String](cap)
  private var bufs = new Array[LongBuf](cap)
  private var used = new Array[Int](1024)
  private var nUsed = 0

  def clear(): Unit = {
    var i = 0
    while (i < nUsed) { keys(used(i)) = null; bufs(used(i)) = null; i += 1 }
    nUsed = 0
  }

  private def grow(): Unit = {
    val oldKeys = keys; val oldBufs = bufs; val oldUsed = used
    val oldN = nUsed
    cap <<= 1
    keys = new Array[String](cap); bufs = new Array[LongBuf](cap)
    used = new Array[Int](cap); nUsed = 0
    var i = 0
    while (i < oldN) {
      val s = oldKeys(oldUsed(i))
      val idx = insertSlot(s, 0, s.length, s)
      bufs(idx) = oldBufs(oldUsed(i))
      i += 1
    }
  }

  /** Find the slot for span [start,end) of src; fills keys/used on miss
    * (interned may be passed to reuse an existing String). */
  private def insertSlot(src: String, start: Int, end: Int,
      interned: String): Int = {
    val len = end - start
    var h = 0x811c9dc5
    var i = start
    while (i < end) { h ^= src.charAt(i); h *= 0x01000193; i += 1 }
    val mask = cap - 1
    var idx = h & mask
    while (true) {
      val k = keys(idx)
      if (k == null) {
        keys(idx) =
          if (interned != null) interned else src.substring(start, end)
        if (nUsed == used.length) used = java.util.Arrays.copyOf(used, nUsed * 2)
        used(nUsed) = idx; nUsed += 1
        return idx
      } else if (k.length == len && k.regionMatches(0, src, start, len)) {
        return idx
      }
      idx = (idx + 1) & mask
    }
    -1 // unreachable
  }

  def add(src: String, start: Int, end: Int, pos: Long): Unit = {
    if (nUsed * 4 >= cap * 3) grow()
    val idx = insertSlot(src, start, end, null)
    var b = bufs(idx)
    if (b == null) { b = new LongBuf; bufs(idx) = b }
    b.add(pos)
  }

  /** Iterate (term, positions) in slot order — deterministic for a given
    * document; downstream sorts make iteration order immaterial. */
  def foreachEntry(f: (String, Array[Long]) => Unit): Unit = {
    var i = 0
    while (i < nUsed) {
      val idx = used(i)
      f(keys(idx), bufs(idx).result())
      i += 1
    }
  }
}

/** The built index: all DataFrames, plus collected scalar stats.
  *
  * `index` schema (FIXTURES.md §3, bucketed):
  *   (field, term, bucket, n, docIds BINARY, tfs BINARY,
  *    positions ARRAY<BINARY>, blocks ARRAY<STRUCT<maxDocId, startIdx,
  *    blockMax>>, rowMax DOUBLE)
  * where docIds = varbyte(delta(sorted docIds within bucket)),
  * tfs = varbyte(tf per posting, same order), positions(i) =
  * varbyte(delta(sorted positions)) for posting i, and blockMax is an
  * exact upper bound on the BM25 tf-norm of any posting in the block
  * (multiply by idf at query time → block-max WAND).
  */
final case class IndexTables(
    docs: DataFrame,
    index: DataFrame,
    termStats: DataFrame,
    norms: DataFrame,
    stats: CorpusStats,
    config: IndexConfig) {
  private[this] var servingShards: RDD[Shard] = _

  /** The BM25 executor's per-partition serving shards over these
    * tables, built by the first query and kept for the life of the
    * handle. Built under the handle's lock, so concurrent first queries
    * wait for one build instead of racing its checkpoint. */
  private[graft] def shards: RDD[Shard] = synchronized {
    if (servingShards == null) servingShards = Shard.of(this)
    servingShards
  }

  /** `query` (one Spark job) over the serving shards. If it fails and
    * the shards' blocks are gone (an executor was lost, or they were
    * unpersisted), their checkpoint cannot recompute them: the shards
    * are rebuilt and the query retried once. Any other failure
    * propagates. */
  private[graft] def withShards[T](query: RDD[Shard] => T): T = {
    val used = shards
    try query(used)
    catch {
      case _: Exception if !Shard.intact(used) =>
        synchronized {
          if (servingShards eq used) {
            used.unpersist(blocking = false)
            servingShards = null
          }
        }
        query(shards)
    }
  }
}

/** Inverted-index construction as declarative Dataset transforms.
  *
  * Dataflow (reference `InvertedIndex::add_word` streaming group-by,
  * `/root/reference/src/inverted_index/Index.h:102-124`, re-expressed
  * Spark-first):
  *
  *   corpus(docId, repo, path, commit, lang, content)
  *     → tokenize (column exprs, whole-stage codegen)
  *     → posexplode → (field, term, docId, pos, docLen)
  *     → groupBy(field, term, docId): tf + sorted positions   [shuffle 1]
  *     → groupBy(field, term, bucket): sorted posting run     [shuffle 2,
  *        term-partitioned, docId-range salted]
  *     → delta+varbyte encode (custom Catalyst expressions) + block-max
  *       metadata (higher-order functions, no UDFs)
  *
  * Both shuffles partial-aggregate map-side; no group exceeds
  * max(docLen, 2^bucketBits) rows, so the plan survives 100× scale-up
  * with constant per-task memory.
  */
object IndexBuilder {

  /** Tokenized corpus view; input must have columns
    * (docId, repo, path, commit, lang, content). */
  private def tokenized(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("bodyTokens", Tokenizer.tokens(col("content")))
      .withColumn("pathTokens", Tokenizer.tokens(col("path")))
      .withColumn("docLen", size(col("bodyTokens")))

  /** The docs registry: one row per document, from a corpus frame that
    * carries its docLen. The one docs schema of every build. */
  def docsRows(corpusWithDocLen: DataFrame): DataFrame =
    corpusWithDocLen.select(
      col("docId"), col("repo"), col("path"), col("commit"), col("lang"),
      col("docLen"),
      StaticRank.staticRank(col("docLen"), col("path"), col("lang"))
        .cast("int").as("staticRank"),
      sha2(col("content"), 256).as("contentSha256"))

  /** [[docsRows]] with docLen counted by the column tokenizer. */
  def buildDocs(corpus: DataFrame): DataFrame = docsRows(tokenized(corpus))

  /** Corpus stats (nDocs, avgDocLen) of a docs registry: one job. */
  def corpusStats(docs: DataFrame): CorpusStats = {
    val r = docs.agg(count(lit(1)), avg(col("docLen"))).head()
    CorpusStats(r.getLong(0), r.getDouble(1))
  }

  /** (field, term, docId, pos, docLen) token stream. Positions are
    * document-relative (see SURVEY.md §7.3); `path` tokens play the
    * reference's title-marker role (`Index.h:102-104`) as a `field`
    * column, not a term suffix. docLen rides along to avoid a
    * postings⋈docs shuffle join later. */
  def tokenRows(corpus: DataFrame): DataFrame = {
    val t = tokenized(corpus)
    val body = t.select(col("docId"), col("docLen"),
        posexplode(col("bodyTokens")).as(Seq("pos", "term")))
      .withColumn("field", lit("body"))
    val path = t.select(col("docId"), col("docLen"),
        posexplode(col("pathTokens")).as(Seq("pos", "term")))
      .withColumn("field", lit("path"))
    body.unionByName(path)
  }

  /** One output row per (field, term, docId): tf + delta+varbyte
    * encoded positions (posBlob), docLen riding along.
    *
    * Grouping tokens by term within one document is a document-LOCAL
    * operation, so it runs as a narrow typed flatMap — one hash-map pass
    * per document — instead of a `posexplode → groupBy(term, docId)`
    * shuffle. That cuts the first shuffle of the build entirely: what
    * moves to the term-level shuffle is one compressed row per (term,
    * doc), not one row per token (~100-1000× less volume at code-corpus
    * token densities — the difference between shuffling ~100 TB and
    * shuffling ~1 TB at north-rule scale). Positions arrive in document
    * order, so the encoded blob is byte-identical to encoding
    * sort_array(collect_list(pos)). */
  def termDoc(corpus: DataFrame, codec: String = "varbyte"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cdc = graft.index.codec.PostingCodec(codec)
    corpus
      .select(col("docId"), col("content"), col("path"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val agg = new TermAgg // reused across the partition's documents
        it.flatMap { case (docId, content, pathStr) =>
          val rows = Vector.newBuilder[TermDocRow]
          // walk maximal [a-z0-9] runs of the lowercased text — exactly
          // the [[Tokenizer.tokens]] split('[^a-z0-9]+') semantics, one
          // lowercase copy per doc, one String per DISTINCT term
          def walk(src: String): Long = {
            val lower = src.toLowerCase(java.util.Locale.ROOT)
            agg.clear()
            val n = lower.length
            var i = 0
            var pos = 0L
            while (i < n) {
              val c = lower.charAt(i)
              if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
                var j = i + 1
                var go = j < n
                while (go) {
                  val d = lower.charAt(j)
                  if ((d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')) {
                    j += 1; go = j < n
                  } else go = false
                }
                if (j - i <= Tokenizer.MaxTokenLen) {
                  agg.add(lower, i, j, pos); pos += 1
                }
                i = j
              } else i += 1
            }
            pos
          }
          val docLen = walk(content).toInt
          agg.foreachEntry { (term, poss) =>
            rows += TermDocRow("body", term, docId, poss.length,
              cdc.encode(poss, delta = true), docLen)
          }
          walk(pathStr)
          agg.foreachEntry { (term, poss) =>
            rows += TermDocRow("path", term, docId, poss.length,
              cdc.encode(poss, delta = true), docLen)
          }
          rows.result()
        }
      }
      .toDF()
  }

  /** BM25 tf normalization: tf(k1+1) / (tf + k1(1-b+b·dl/avgdl)). */
  def tfNorm(tf: Column, docLen: Column, avgdl: Double, cfg: IndexConfig): Column =
    tf * (cfg.k1 + 1.0) /
      (tf + lit(cfg.k1) * (lit(1.0 - cfg.b) + lit(cfg.b) * docLen / avgdl))

  /** (field, term, bucket, plist) aggregation of termDoc-shaped rows,
    * with `tfNorm` as each posting's tf-norm — the ONE formulation shared
    * by the direct build, the segment writer and the merge. The direct
    * build and the merge pass the BM25 [[tfNorm]]; segments pass a
    * `lit(0.0)` placeholder, since the merge recomputes it from the
    * corpus stats of the moment. The struct field order and the bucket
    * expression live here and nowhere else, so merged rows stay
    * byte-identical to direct ones. */
  def plistRows(td: DataFrame, tfNorm: Column, cfg: IndexConfig): DataFrame =
    td
      .withColumn("bucket", shiftright(col("docId"), cfg.bucketBits))
      .groupBy(col("field"), col("term"), col("bucket"))
      .agg(sort_array(collect_list(struct(
        col("docId"), col("tf"), tfNorm.as("tfNorm"), col("posBlob"))))
        .as("plist"))

  /** Per-bucket norms blobs (bucket, docIds, docLens) from the docs
    * registry — shared by the direct and segmented builds for the same
    * byte-identity reason as [[plistRows]]. */
  def buildNorms(docs: DataFrame, cfg: IndexConfig): DataFrame =
    docs
      .withColumn("bucket", shiftright(col("docId"), cfg.bucketBits))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("docId"), col("docLen"))))
        .as("dl"))
      .select(
        col("bucket"),
        encodeDelta(cfg.codec,
          transform(col("dl"), x => x.getField("docId"))).as("docIds"),
        encodePlain(cfg.codec, transform(col("dl"),
          x => x.getField("docLen").cast("bigint"))).as("docLens"))

  /** Encode posting-run rows (field, term, bucket, plist) into the
    * compressed index schema via the one-pass [[graft.index.codec.
    * PostingRunEncode]] expression. Shared by the direct build, the
    * segment builds, and the merge so all produce byte-identical rows.
    * Two-step projection keeps the encoder evaluated once per row. */
  def encodeIndexRows(plists: DataFrame, cfg: IndexConfig): DataFrame =
    plists
      .select(col("field"), col("term"), col("bucket"),
        graft.index.codec.PostingRunEncode(col("plist"), cfg.blockSize,
          cfg.codec).as("enc"))
      .select(col("field"), col("term"), col("bucket"), col("enc.*"))

  def build(corpusWithDocId: DataFrame, cfg: IndexConfig = IndexConfig()): IndexTables =
    buildStaged(corpusWithDocId, cfg)._1

  /** Hash-partitions an index table by docId bucket into
    * `cfg.indexPartitions` partitions: on `bucket` where the table has
    * one (index, norms), otherwise on the same bucket of `docId` (docs).
    * Partition i of every table so partitioned holds the same buckets.
    * The planner drops this exchange on a table that is already
    * partitioned this way. */
  def bucketPartitioned(df: DataFrame, cfg: IndexConfig): DataFrame =
    df.repartition(cfg.indexPartitions,
      if (df.columns.contains("bucket")) col("bucket")
      else shiftright(col("docId"), cfg.bucketBits))

  /** [[build]] plus a hook that releases the intermediates it persists
    * (the corpus, termDoc and the (docId, docLen) aggregate). Call the
    * hook once the tables are materialized where they are kept, e.g.
    * pinned and counted: Spark keeps an already-loaded cache whose plan
    * reads an intermediate when that intermediate is unpersisted, while
    * an unloaded table would re-tokenize the corpus. */
  def buildStaged(corpusWithDocId: DataFrame,
      cfg: IndexConfig = IndexConfig()): (IndexTables, () => Unit) = {
    val corpus = corpusWithDocId.persist(StorageLevel.MEMORY_AND_DISK)
    // docLens, termStats and plists all read termDoc: without the
    // persist the corpus would be tokenized three times
    val tdP = termDoc(corpus, cfg.codec).persist(StorageLevel.MEMORY_AND_DISK)

    // docLen comes back from the persisted termDoc rows — the corpus is
    // tokenized exactly ONCE per build (docs w/ zero tokens: coalesce 0).
    // Persisted: the stats job and the docs table both join it, and the
    // aggregation and its exchange should run once
    val docLens = tdP.groupBy(col("docId"))
      .agg(first(col("docLen")).as("docLen"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docs = docsRows(corpus.join(docLens, Seq("docId"), "left")
      .withColumn("docLen", coalesce(col("docLen"), lit(0))))
    val stats = corpusStats(docs)

    val termStats = tdP.groupBy(col("field"), col("term"))
      .agg(count(lit(1)).as("df"))

    val index = encodeIndexRows(plistRows(tdP,
      tfNorm(col("tf"), col("docLen"), stats.avgDocLen, cfg), cfg), cfg)
    val norms = buildNorms(docs, cfg)

    (IndexTables(docs, index, termStats, norms, stats, cfg), { () =>
      corpus.unpersist()
      tdP.unpersist()
      docLens.unpersist()
    })
  }
}
