package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.RepoFile

/** Deterministic dense docId assignment: docId = rank of (repo, path,
  * commit) in lexicographic order, contiguous from 0.
  *
  * One range sort: `repartitionByRange` on (repo, path, commit), a sort
  * within each partition on the same keys, then `zipWithIndex`, which
  * numbers the rows in that total order (its partition offsets come
  * from one count job). Each output partition holds one contiguous,
  * ascending docId range, the layout the docs/norms writes expect.
  *
  * Why this is value-deterministic although the range boundaries are
  * sampled: a row's rank in a total order does not depend on where the
  * order is cut into partitions, so other boundaries move rows between
  * partitions but give every row the same id. And the offsets and the
  * partitioning belong to one RDD: its shuffle dependency fixes the
  * boundaries, so a recomputed partition holds the same rows and gets
  * the same ids.
  *
  * Rejected: `monotonically_increasing_id` (ids depend on the
  * partitioning, so reruns and other parallelism renumber), a global
  * `row_number()` window (one task sorts everything), a
  * `TaskContext.getPartitionId` two-pass scheme (partition ids of a
  * separately planned second pass need not match the first, silently
  * corrupting ids), and the windowed prefix hierarchy this replaced
  * (row_number within repo, per-repo counts cumulated through two
  * prefix levels and a broadcast theta-join, two offset joins, then a
  * range repartition on docId: 17 stages for assign, persist and
  * count of a 2,000-doc corpus, where this runs 6).
  *
  * Unlike a lazy plan, `assign` runs its range-boundary sample and
  * the shuffle, and the offset count job, when it is called. */
object DocIds {
  def assign(corpus: Dataset[RepoFile], partitions: Int = 32): DataFrame = {
    val keys = Seq(col("repo"), col("path"), col("commit"))
    val sorted = corpus.toDF()
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("content"))
      .repartitionByRange(partitions, keys: _*)
      .sortWithinPartitions(keys: _*)
    val schema = StructType(
      StructField("docId", LongType, nullable = false) +: sorted.schema.fields)
    corpus.sparkSession.createDataFrame(sorted.rdd.zipWithIndex().map {
      case (r, docId) => Row.fromSeq(docId +: r.toSeq)
    }, schema)
  }
}
