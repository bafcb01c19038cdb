package graft.tools

import org.apache.spark.sql.SparkSession

import graft.corpus.CorpusGen
import graft.index.{DocIds, IndexBuilder, IndexConfig}

/** N→4N scaling-efficiency evidence (north rule: ≥0.8 going from N to
  * 4N executors, approximated in this single-node sandbox by local[N]
  * vs local[4N] on identical input).
  *
  * Protocol: both parallelism levels run inside ONE JVM (recreating the
  * SparkSession with a different master), so JIT/codegen state is
  * identical; each level gets a warm-up build plus `reps` timed builds;
  * the minimum per level is reported (the box is shared — min filters
  * scheduler/steal-time noise).
  *
  * Args: [nDocs] [reps] [cpusA] [cpusB]  (defaults 160000 3 8 32)
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 160000L
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpusA = if (args.length > 2) args(2).toInt else 8
    val cpusB = if (args.length > 3) args(3).toInt else 32

    val shuffleMult = sys.env.getOrElse("GRAFT_SHUFFLE_MULT", "1").toInt
    def session(cpus: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus * shuffleMult)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    /** The timed job: docId assignment + full index build over an
      * already-materialized corpus table (the sandbox stand-in for the
      * north-rule Iceberg source table — generation is input, not
      * engine work). */
    def buildOnce(spark: SparkSession,
        corpus: org.apache.spark.sql.Dataset[graft.RepoFile],
        cpus: Int): Double = {
      val t0 = System.nanoTime()
      val withIds = DocIds.assign(corpus, cpus * 2)
      val ix = IndexBuilder.build(withIds,
        IndexConfig(bucketBits = 12, indexPartitions = cpus))
      ix.index.write.mode("overwrite").format("noop").save()
      ix.norms.write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      ix.docs.unpersist(); sec
    }

    def measure(cpus: Int): Seq[Double] = {
      val spark = session(cpus)
      import spark.implicits._
      // stage the source table to parquet (outside the timed region):
      // the build's input is a table scan, as in production
      val dir = s"/tmp/graft-scaling-corpus-$nDocs"
      val smallDir = s"/tmp/graft-scaling-corpus-small-$nDocs"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(dir))) {
        CorpusGen.generate(spark, nDocs, 64).write
          .mode("overwrite").parquet(dir)
        CorpusGen.generate(spark, math.max(500L, nDocs / 16), 64).write
          .mode("overwrite").parquet(smallDir)
      }
      def corpus(d: String) = spark.read.parquet(d).as[graft.RepoFile]
      buildOnce(spark, corpus(smallDir), cpus) // warm-up
      spark.catalog.clearCache()
      val times = (1 to reps).map { _ =>
        val t = buildOnce(spark, corpus(dir), cpus)
        spark.sharedState.cacheManager.clearCache()
        t
      }
      spark.stop()
      times
    }

    val tA = measure(cpusA)
    val tB = measure(cpusB)
    val bestA = tA.min
    val bestB = tB.min
    val thA = nDocs / bestA
    val thB = nDocs / bestB
    val eff = thB / ((cpusB.toDouble / cpusA) * thA)
    println(
      f"""{"nDocs":$nDocs,"cpusA":$cpusA,"cpusB":$cpusB,"runsA":[${tA.map(t => f"$t%.2f").mkString(",")}],"runsB":[${tB.map(t => f"$t%.2f").mkString(",")}],"bestSecA":$bestA%.2f,"bestSecB":$bestB%.2f,"filesPerSecA":$thA%.1f,"filesPerSecB":$thB%.1f,"scalingEfficiency":$eff%.3f}""")
  }
}
