package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.storage.StorageLevel

import graft.index.{IndexBuilder, IndexTables}

/** One partition's serving shard: lookups, not scans.
  *
  *  - Posting rows sorted by (field, term, bucket) behind a sorted
  *    (field, term) dictionary — the reference's `HashBlob::Find` probe
  *    (`HashBlob.h:134-151`). Rows keep their compressed docIds/tfs
  *    bytes: nothing is decoded when the shard is built. Row i's block
  *    maxima and maxDocIds are the slice [rowBlock(i), rowBlock(i+1)) of
  *    two primitive arrays; its positions are one blob, the concatenated
  *    per-posting blobs, with posting j's bytes ending at
  *    `posEnd(rowPost(i) + j)`.
  *  - Norms blobs keyed by a sorted bucket array.
  *  - Docs as a sorted docId array with repo and path — the URL seek
  *    table `FindUrl` binary-searches (`IndexFileReader.h:441-509`).
  */
private[graft] final class Shard private (
    keyField: Array[String], keyTerm: Array[String], keyRow: Array[Int],
    private[query] val rowBucket: Array[Long],
    private[query] val rowN: Array[Int],
    private[query] val rowMax: Array[Double],
    private[query] val rowDocIds: Array[Array[Byte]],
    private[query] val rowTfs: Array[Array[Byte]],
    private[query] val rowBlock: Array[Int],
    private[query] val blockMax: Array[Double],
    private[query] val blockMaxDocId: Array[Long],
    rowPositions: Array[Array[Byte]], rowPost: Array[Int], posEnd: Array[Int],
    normBucket: Array[Long], normIds: Array[Array[Byte]],
    normLens: Array[Array[Byte]],
    docId: Array[Long], docRepo: Array[String], docPath: Array[String])
    extends Serializable {

  /** The posting rows of (field, term), ascending by bucket. */
  def rowsOf(field: String, term: String): Range = {
    var lo = 0
    var hi = keyTerm.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = Shard.compare(keyField(mid), keyTerm(mid), field, term)
      if (c < 0) lo = mid + 1 else hi = mid
    }
    if (lo < keyTerm.length && keyField(lo) == field && keyTerm(lo) == term)
      keyRow(lo) until keyRow(lo + 1)
    else 0 until 0
  }

  /** The compressed positions of posting `j` of row `r`. */
  def positions(r: Int, j: Int): Array[Byte] = {
    val p = rowPost(r) + j
    val from = if (j == 0) 0 else posEnd(p - 1)
    java.util.Arrays.copyOfRange(rowPositions(r), from, posEnd(p))
  }

  /** The (docIds, docLens) norms blobs of `bucket`, if it has a row. */
  def norms(bucket: Long): Option[(Array[Byte], Array[Byte])] = {
    val i = java.util.Arrays.binarySearch(normBucket, bucket)
    if (i < 0) None else Some((normIds(i), normLens(i)))
  }

  /** (repo, path) of document `d`; nulls when it has no docs row. */
  def doc(d: Long): (String, String) = {
    val i = java.util.Arrays.binarySearch(docId, d)
    if (i < 0) (null, null) else (docRepo(i), docPath(i))
  }
}

private[graft] object Shard {
  private def compare(f1: String, t1: String, f2: String, t2: String): Int = {
    val c = f1.compareTo(f2)
    if (c != 0) c else t1.compareTo(t2)
  }

  /** The serving shards of a handle, one per partition of its
    * [[IndexBuilder.bucketPartitioned]] index, norms and docs, persisted,
    * local-checkpointed and materialized here. On a handle pinned
    * co-partitioned (`SparkEntry.index`) the rows come from the cached
    * tables; on any other handle, e.g. `IndexStore.read`, the bucket
    * repartition runs once, here. The checkpoint cuts the lineage, so a
    * query's task carries a one-level RDD instead of the plan that
    * built the tables; the price is that lost blocks cannot be
    * recomputed (see [[intact]]). */
  def of(ix: IndexTables): RDD[Shard] = {
    def rows(df: DataFrame, cols: String*): RDD[InternalRow] =
      IndexBuilder.bucketPartitioned(df.select(cols.map(col): _*), ix.config)
        .queryExecution.toRdd
    val blockType = ix.index.schema("blocks").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val maxDocIdAt = blockType.fieldIndex("maxDocId")
    val blockMaxAt = blockType.fieldIndex("blockMax")
    val shards = rows(ix.index, "field", "term", "bucket", "n", "docIds",
      "tfs", "blocks", "rowMax", "positions")
      .zipPartitions(rows(ix.norms, "bucket", "docIds", "docLens"),
        rows(ix.docs, "docId", "repo", "path")) { (p, n, d) =>
        Iterator(build(p, n, d, maxDocIdAt, blockMaxAt))
      }
      .setName("serving shards")
      .persist(StorageLevel.MEMORY_AND_DISK)
      .localCheckpoint()
    shards.count()
    shards
  }

  /** Whether every partition of `shards` is still in storage: false
    * once an executor holding one is lost or they are unpersisted. */
  def intact(shards: RDD[Shard]): Boolean =
    shards.sparkContext.getRDDStorageInfo.exists(r =>
      r.id == shards.id && r.numCachedPartitions == r.numPartitions)

  /** One posting row copied out of the (reused) scan row. */
  private final class Posting(val field: String, val term: String,
      val bucket: Long, val n: Int, val docIds: Array[Byte],
      val tfs: Array[Byte], val maxes: Array[Double], val maxIds: Array[Long],
      val rowMax: Double, val positions: Array[Byte], val posEnd: Array[Int])

  private def build(pIt: Iterator[InternalRow], nIt: Iterator[InternalRow],
      dIt: Iterator[InternalRow], maxDocIdAt: Int, blockMaxAt: Int): Shard = {
    val strings = scala.collection.mutable.HashMap.empty[String, String]
    def shared(s: String): String =
      if (s == null) null else strings.getOrElseUpdate(s, s)
    val ps = pIt.map { r =>
      val blocks = r.getArray(6)
      val nb = blocks.numElements()
      val pos = r.getArray(8)
      val np = pos.numElements()
      val ends = new Array[Int](np)
      var len = 0
      var j = 0
      while (j < np) { len += pos.getBinary(j).length; ends(j) = len; j += 1 }
      val blob = new Array[Byte](len)
      j = 0
      while (j < np) {
        val b = pos.getBinary(j)
        System.arraycopy(b, 0, blob, if (j == 0) 0 else ends(j - 1), b.length)
        j += 1
      }
      new Posting(shared(r.getUTF8String(0).toString),
        r.getUTF8String(1).toString, r.getLong(2), r.getInt(3),
        r.getBinary(4), r.getBinary(5),
        Array.tabulate(nb)(i => blocks.getStruct(i, 3).getDouble(blockMaxAt)),
        Array.tabulate(nb)(i => blocks.getStruct(i, 3).getLong(maxDocIdAt)),
        r.getDouble(7), blob, ends)
    }.toArray.sortWith { (x, y) =>
      val c = compare(x.field, x.term, y.field, y.term)
      c < 0 || (c == 0 && x.bucket < y.bucket)
    }

    val nRows = ps.length
    val keyStarts = (0 until nRows).filter(i => i == 0 ||
      ps(i).field != ps(i - 1).field || ps(i).term != ps(i - 1).term).toArray
    val rowBlock = ps.scanLeft(0)(_ + _.maxes.length)
    val rowPost = ps.scanLeft(0)(_ + _.posEnd.length)

    val norms = nIt.map(r => (r.getLong(0), r.getBinary(1), r.getBinary(2)))
      .toArray.sortBy(_._1)
    val docs = dIt.map { r =>
      def str(i: Int) =
        if (r.isNullAt(i)) null else r.getUTF8String(i).toString
      (r.getLong(0), shared(str(1)), str(2))
    }.toArray.sortBy(_._1)

    new Shard(keyStarts.map(ps(_).field), keyStarts.map(ps(_).term),
      keyStarts :+ nRows,
      ps.map(_.bucket), ps.map(_.n), ps.map(_.rowMax), ps.map(_.docIds),
      ps.map(_.tfs), rowBlock, ps.flatMap(_.maxes), ps.flatMap(_.maxIds),
      ps.map(_.positions), rowPost, ps.flatMap(_.posEnd),
      norms.map(_._1), norms.map(_._2), norms.map(_._3),
      docs.map(_._1), docs.map(_._2), docs.map(_._3))
  }
}
