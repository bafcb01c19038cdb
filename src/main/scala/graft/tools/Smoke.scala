package graft.tools

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig}
import graft.query.{Engine, QueryParser, Wand}

/** End-to-end smoke driver: synth corpus → index build → queries through
  * every public path (boolean, phrase, BM25, span, WAND). Run with
  * `sbt "runMain graft.tools.Smoke [nDocs]"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(2000L)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val corpus = DocIds.assign(CorpusGen.generate(spark, nDocs), 8)
    val ix = IndexBuilder.build(corpus, IndexConfig(bucketBits = 8))
    val nIndexRows = ix.index.count()
    println(f"[smoke] built index over $nDocs docs: $nIndexRows index rows, " +
      f"N=${ix.stats.nDocs}, avgdl=${ix.stats.avgDocLen}%.2f, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs")

    Seq("computer science", "\"computer science\"",
      "hash table NOT rareterm00001", "parse OR tree",
      "state of the machine").foreach { q =>
      println(s"\n=== query: $q  (ast=${QueryParser.parse(q)})")
      Engine.search(ix, q, 5).show(truncate = false)
    }

    println("=== disjunctive WAND top-5 for [computer, science]:")
    Wand.topK(ix, Seq("computer", "science"), 5).show(false)

    println("=== span scorer top-5:")
    Engine.search(ix, "computer science", 5, "span").show(false)

    println("=== edge probes:")
    Seq("", "the of a", "zzznosuchterm", "\"unclosed phrase", "((",
      "NOT science", "computer AND AND science").foreach { q =>
      val r = try {
        val df = Engine.search(ix, q, 3)
        s"rows=${df.count()} ast=${QueryParser.parse(q)}"
      } catch { case e: Throwable => s"EXCEPTION ${e.getClass.getSimpleName}: ${e.getMessage}" }
      println(s"probe[$q] -> $r")
    }

    println("=== physical plan of the BM25 search (pushdown check):")
    Engine.search(ix, "computer science", 5).explain("formatted")
    spark.stop()
  }
}
