package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet persistence for the index with an Iceberg-shaped layout.
  *
  * Layout (`<dir>/`): `index/` (range-partitioned by (field, term,
  * bucket) and sorted within files → Parquet min/max footer stats give
  * file-level term pruning, the columnar analog of the reference's
  * HashBlob dictionary probe), `docs/`, `termstats/`, `norms/`,
  * `stats.json` (corpus stats plus the whole [[IndexConfig]], so a read
  * handle serves at the partitioning it was built with), `_lineage/`
  * (per-stage metrics rows — the north-rule checkpoint metadata). No
  * Iceberg runtime jar ships in this environment (SURVEY.md §7.6); the
  * layout keeps table roots, snapshot-style stats, and lineage separate
  * so an Iceberg catalog can adopt the same tables by config when the
  * jar exists. */
object IndexStore {

  def write(t: IndexTables, dir: String): Unit = {
    t.index
      .repartitionByRange(t.config.indexPartitions,
        col("field"), col("term"), col("bucket"))
      .sortWithinPartitions(col("field"), col("term"), col("bucket"))
      .write.mode("overwrite").parquet(s"$dir/index")
    t.docs
      .repartitionByRange(t.config.indexPartitions, col("docId"))
      .sortWithinPartitions(col("docId"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    t.termStats
      .repartitionByRange(t.config.indexPartitions, col("field"), col("term"))
      .sortWithinPartitions(col("field"), col("term"))
      .write.mode("overwrite").parquet(s"$dir/termstats")
    t.norms.repartition(1).sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").parquet(s"$dir/norms")
    Files.createDirectories(Paths.get(dir))
    val c = t.config
    Files.writeString(Paths.get(s"$dir/stats.json"),
      s"""{"nDocs":${t.stats.nDocs},"avgDocLen":${t.stats.avgDocLen},""" +
        s""""bucketBits":${c.bucketBits},"blockSize":${c.blockSize},""" +
        s""""k1":${c.k1},"b":${c.b},"codec":"${c.codec}",""" +
        s""""indexPartitions":${c.indexPartitions}}""")
  }

  def read(spark: SparkSession, dir: String): IndexTables = {
    val json = Files.readString(Paths.get(s"$dir/stats.json"))
    def opt(k: String): Option[Double] =
      s""""$k":([-0-9.eE]+)""".r.findFirstMatchIn(json).map(_.group(1).toDouble)
    def num(k: String): Double = opt(k).get
    val codec = """"codec":"([a-z]+)"""".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse("varbyte")
    // a stats.json written before indexPartitions was recorded reads
    // with the default
    val cfg = IndexConfig(bucketBits = num("bucketBits").toInt,
      blockSize = num("blockSize").toInt, k1 = num("k1"), b = num("b"),
      indexPartitions = opt("indexPartitions")
        .fold(IndexConfig().indexPartitions)(_.toInt),
      codec = codec)
    IndexTables(
      docs = spark.read.parquet(s"$dir/docs"),
      index = spark.read.parquet(s"$dir/index"),
      termStats = spark.read.parquet(s"$dir/termstats"),
      norms = spark.read.parquet(s"$dir/norms"),
      stats = CorpusStats(num("nDocs").toLong, num("avgDocLen")),
      config = cfg)
  }
}
