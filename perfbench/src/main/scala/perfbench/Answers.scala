package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Answer checks. */
object Answers {
  /** Spark's `round(score, 4)` (HALF_UP on the decimal expansion). */
  def round4(s: Double): Double =
    BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** `got` (the engine's top-k, best first) equals the top `k` of `pool`
    * under q_wand's rounded-tie rule: scores are compared rounded to 4
    * places, and docIds are compared per rounded-score class — every
    * class inside the cut must match exactly, and the class the cut
    * splits must be a subset of the pool's docs with that rounded score.
    * `pool` must hold every hit at least down to the k-th rounded score
    * (the whole hit list, or the 2k pool q_wand uses). */
  def sameTopK(got: Seq[(Long, Double)], pool: Seq[(Long, Double)],
      k: Int): Boolean = {
    val want = pool.map { case (d, s) => (d, round4(s)) }
      .sortBy { case (d, s) => (-s, d) }
    val n = math.min(k, want.size)
    val g = got.map { case (d, s) => (d, round4(s)) }
    g.size == n && g.map(_._1).distinct.size == n &&
      g.map(_._2) == want.take(n).map(_._2) &&
      g.groupBy(_._2).forall { case (s, hits) =>
        hits.map(_._1).toSet.subsetOf(want.filter(_._2 == s).map(_._1).toSet)
      }
  }

  /** Parses the `{"results":[{"docId":..,"score":..,...},...]}` body the
    * server returns into (docId, score) pairs, best first. */
  private val HitRe = """"docId":(-?\d+),"score":([-0-9.eE]+)""".r
  def parseHits(body: String): Seq[(Long, Double)] =
    HitRe.findAllMatchIn(body).map(m => (m.group(1).toLong, m.group(2).toDouble))
      .toVector

  /** Order-independent content hash of a table: row count plus two
    * independent 64-bit row hashes summed without overflow. Equal tables
    * hash equal whatever their partitioning or row order. */
  def tableHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h1"),
        hash(cols: _*).cast("decimal(38,0)").as("h2"))
      .agg(count(lit(1)), sum(col("h1")), sum(col("h2"))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}
