package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.CorpusGen
import graft.RepoFile

/** Seeded inputs. Everything here is the benchmark's own input
  * generation: it is not timed and not counted in `setup_s`. */
object Inputs {
  /** splitmix64: a deterministic stream per (seed, stream, i). */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s += 1; mix(s) }
    def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Hits per query: the reference's TOTAL_DOCS_TO_RETURN. */
  val K = 32

  // ---- serve-small: a documents table shaped like the sf0.1 test data
  // (5,000 docs of 30-79 tokens over a small uniform vocabulary), whose
  // vocabulary also holds every term of the reference query set so that
  // each reference query has hits.
  val SmallVocab: IndexedSeq[String] = Vector(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch", "dup",
    "parse", "tree", "state", "machine", "lookup", "computer", "science",
    "tokenizer", "first", "day", "of", "class")
  val SmallLangs: IndexedSeq[String] = Vector("en", "de", "fr", "es", "zh")

  /** Writes `documents.parquet` (doc_id, text, lang, source, n_chars)
    * under `dir`, the layout `SparkEntry.corpus` reads. */
  def writeSmallDocuments(spark: SparkSession, seed: Long, nDocs: Int,
      dir: String): Unit = {
    import spark.implicits._
    val vocab = SmallVocab
    val langs = SmallLangs
    spark.range(0, nDocs, 1, 4).map { id0 =>
      val id = id0.longValue()
      val r = new Rng(seed * 1000003L + id)
      val n = 30 + r.nextInt(50)
      val text = Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
      (id, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** The reference query set (FIXTURES.md §5) and its AND / OR / NOT /
    * phrase forms. Requests draw from this fixed list, so every query
    * repeats within a run. */
  val SmallQueries: IndexedSeq[String] = graft.tools.Serve.QuerySet.toVector ++
    Vector("parse AND tree", "hash OR table", "parse tree NOT state",
      "\"computer science\"", "\"hash table\"",
      "state AND machine NOT tree", "first OR class", "tokenizer NOT lookup")

  // ---- reindex: a seeded window of CorpusGen ids, staged to parquet ----

  def stageReindexCorpus(spark: SparkSession, seed: Long, nDocs: Int,
      path: String): DataFrame = {
    val start = (mix(seed ^ 0xB111DL) >>> 1) % 10000000L
    spark.range(start, start + nDocs, 1, 4)
      .map(id => CorpusGen.genDoc(id.longValue()))(
        org.apache.spark.sql.Encoders.product[RepoFile])
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
