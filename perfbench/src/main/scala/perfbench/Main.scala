package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.tools.Serve.jsonEscape

/** Progress lines on stderr (kept in the run's log file). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")
}

/** Benchmark entry point (launched by `perfbench/run.py`):
  *
  *   --workload serve-small|reindex --seed N --seconds S
  *   --trace 0|1 --work DIR [--plant]
  *
  * Prints one line `PERFBENCH_RESULT {...}` holding the answer-check
  * totals, the end-to-end metrics (or with --trace 1 the per-layer
  * metrics) and the run's record. `--plant` corrupts one answer in five
  * (serve) or one segment before the refresh (reindex), for the
  * benchmark's self-test. */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly: the HTTP server's handler pool is non-daemon
    val ok = try { run(args); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    System.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toInt
    val traceOn = opts.get("--trace").contains("1")
    val work = Paths.get(opts("--work")).toAbsolutePath
    val plant = opts.get("--plant").contains("1")
    val threads = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg()
    Log(s"start $workload seed=$seed seconds=$seconds trace=$traceOn")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log(f"session ready in $sessionS%.2f s")

    val trace = new Trace(traceOn, spark.sparkContext)
    val r = try workload match {
      case "serve-small" => Serving.run(spark, trace, seed, seconds, work,
        threads, plant, sessionS)
      case "reindex" => Reindex.run(spark, trace, seed, seconds, work,
        threads, plant, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      trace.close()
      trace.write(work)
    }
    val shown = if (traceOn) r.layers ++ Layers.jvm() else r.metrics
    val finite = shown.forall(m => !m.value.isNaN && !m.value.isInfinite)
    def num(v: Any): String = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x: Int => x.toString
      case x: Long => x.toString
      case x => "\"" + jsonEscape(x.toString) + "\""
    }
    val metricsJson = shown.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    val record = (r.info ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (traceOn) 1 else 0), "nproc" -> threads,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "session_s" -> sessionS))
      .toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${r.failed == 0 && finite},""" +
      s""""attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":$metricsJson,"record":$record}""")
    spark.stop()
  }

  private def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}
