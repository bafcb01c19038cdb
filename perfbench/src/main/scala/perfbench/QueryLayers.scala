package perfbench

import org.apache.spark.sql.SparkSession

import graft.index.IndexTables
import graft.query.{QueryParser, Wand}
import graft.tools.Serve

/** Query-path layers of a traced run, measured from outside the engine:
  * spans around each public call on the query path, and the listener's
  * per-job-group totals for the jobs each call ran.
  *
  *  - unloaded, per query: `QueryParser.parse`; `Wand.search` returning
  *    its DataFrame (df resolve + analysis); forcing the physical plan;
  *    the collect; `search` minus `topKExpr` (the docs join); the HTTP
  *    round trip minus a direct `Serve.searchJson`;
  *  - loaded, per query: the high rate again, each request a direct call
  *    in its own job group, for scheduler waiting and GC.
  */
object QueryLayers {
  import Inputs.K

  def apply(spark: SparkSession, trace: Trace, ix: IndexTables,
      dfs: Option[Wand.DfDict], queries: IndexedSeq[String],
      call: String => (Int, String), threads: Int, rng: Inputs.Rng,
      highQps: Double, seconds: Int): Seq[Metric] = {
    val l = trace.listener.get
    val sample = queries.take(6)
    final case class Row(parseUs: Double, constructMs: Double, planMs: Double,
        execMs: Double, docsJoinMs: Double, httpOverMs: Double, hits: Int)
    val rows = sample.zipWithIndex.map { case (q, i) =>
      val parseUs = {
        val t0 = System.nanoTime()
        (1 to 200).foreach(_ => QueryParser.parse(q))
        (System.nanoTime() - t0) / 200 / 1e3
      }
      val (df, constructMs) =
        trace.span("wand.construct", i, group = s"q$i.construct") {
          Wand.search(ix, q, K, dfs)
        }
      val (_, planMs) = trace.span("wand.plan", i, group = s"q$i.plan") {
        df.queryExecution.executedPlan
      }
      val (hits, execMs) = trace.span("wand.exec", i, group = s"q$i.exec") {
        df.collect()
      }
      val (_, topKMs) = trace.span("wand.topKExpr", i, group = s"q$i.topk") {
        Wand.topKExpr(ix, QueryParser.parse(q).get, K, dfs = dfs).collect()
      }
      val (_, searchMs) = trace.span("wand.search", i, group = s"q$i.search") {
        Wand.search(ix, q, K, dfs).collect()
      }
      // HTTP round trip against a direct call, interleaved, 3 each
      val pairs = (1 to 3).map { _ =>
        val (_, directMs) =
          trace.span("serve.searchJson", i, group = s"q$i.direct") {
            Serve.searchJson(ix, q, K, "wand", dfs)
          }
        val (_, httpMs) = trace.span("serve.http", i) { call(q) }
        (directMs, httpMs)
      }
      Row(parseUs, constructMs, planMs, execMs, searchMs - topKMs,
        LoadGen.median(pairs.map(_._2)) - LoadGen.median(pairs.map(_._1)),
        hits.length)
    }
    trace.drain()
    final case class Exec(jobs: Double, stages: Double, tasks: Double,
        cpuMs: Double, runMs: Double, shuffleRead: Double, records: Double,
        recordsPerHit: Double, lookupJobs: Double)
    val execs = sample.indices.map { i =>
      val st = l.stagesOf(s"q$i.exec")
      val records = st.map(_.recordsRead).sum.toDouble
      Exec(l.jobs(s"q$i.exec").toDouble, st.size.toDouble,
        st.map(_.tasks).sum.toDouble, st.map(_.cpuMs).sum,
        st.map(_.runMs).sum.toDouble, st.map(_.shuffleReadBytes).sum.toDouble,
        records, records / math.max(1, rows(i).hits),
        l.jobs(s"q$i.construct").toDouble)
    }
    def med(f: Row => Double) = LoadGen.median(rows.map(f))
    def medE(f: Exec => Double) = LoadGen.median(execs.map(f))

    val sc = spark.sparkContext
    val loadAt = LoadGen.schedule(rng, highQps, seconds / 4.0)
    val loadQs = IndexedSeq.fill(loadAt.length)(queries(rng.nextInt(queries.size)))
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    val loadRun = LoadGen.run(loadAt, loadQs, threads, { q =>
      sc.setJobGroup(s"load.${counter.getAndIncrement()}", "load", false)
      try (200, Serve.searchJson(ix, q, K, "wand", dfs).mkString)
      finally sc.clearJobGroup()
    })
    trace.drain()
    val perLoaded = l.stagesWhere(_.startsWith("load.")).groupBy(_.group)
      .values.toSeq
    def loaded(f: StageRec => Double) =
      if (perLoaded.isEmpty) 0.0 else LoadGen.median(perLoaded.map(_.map(f).sum))

    Seq(
      Metric("serve.http_overhead_ms", med(_.httpOverMs), "ms"),
      Metric("parse_us", med(_.parseUs), "us"),
      Metric("wand.construct_ms", med(_.constructMs), "ms"),
      Metric("wand.plan_ms", med(_.planMs), "ms"),
      Metric("wand.df_lookup_jobs", medE(_.lookupJobs), "count"),
      Metric("wand.exec_ms", med(_.execMs), "ms"),
      Metric("wand.docs_join_ms", med(_.docsJoinMs), "ms"),
      Metric("spark.jobs", medE(_.jobs), "count"),
      Metric("spark.stages", medE(_.stages), "count"),
      Metric("spark.tasks", medE(_.tasks), "count"),
      Metric("spark.exec_cpu_ms", medE(_.cpuMs), "ms"),
      Metric("spark.exec_run_ms", medE(_.runMs), "ms"),
      Metric("spark.shuffle_read_bytes", medE(_.shuffleRead), "B"),
      Metric("spark.records_read", medE(_.records), "count"),
      Metric("spark.records_read_per_hit", medE(_.recordsPerHit), "count"),
      Metric("spark.sched_delay_ms", loaded(_.waitMs.toDouble), "ms"),
      Metric("spark.gc_ms", loaded(_.gcMs.toDouble), "ms"),
      Metric("loadgen.late_ms.p95",
        LoadGen.percentile(loadRun.map(_.lateMs), 0.95), "ms"))
  }
}
