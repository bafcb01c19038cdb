package perfbench

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A workload's outcome. `info` is the workload record (sizes, rates)
  * written to the results file next to the metrics. */
final case class Result(attempted: Long, failed: Long,
    metrics: Seq[Metric], layers: Seq[Metric], info: Map[String, Any])

/** Build-layer metrics from the listener's stages. A stage belongs to a
  * layer by the engine call it ran under (its site, see [[StageRec]])
  * and its kind:
  *   - `IndexBuilder.build` / `SegmentedBuild.build`: the docs and
  *     corpus-stats pass (for the one-pass `IndexBuilder` it also forces
  *     the persisted tokenization);
  *   - `SegmentedBuild.buildSegment`: shuffle-map stages are tokenize
  *     (scan, termDoc, shuffle write), result stages are postings
  *     (posting sort, run encode, segment write);
  *   - `SegmentedBuild.merge`, and in `IndexStore.write` the index
  *     table's write (the first write in that method): the segment merge;
  *     the other `IndexStore.write` tables are store;
  *   - a pinned table forced by the benchmark: the index table splits
  *     into tokenize / postings as above, the other tables are store.
  */
object Layers {
  private val Line = """:(\d+)\)$""".r.unanchored

  def build(l: LayerListener, inGroup: String => Boolean,
      nBuilds: Int): Seq[Metric] = {
    val st = l.stagesWhere(inGroup)
    def line(s: StageRec) =
      Line.findFirstMatchIn(s.site).map(_.group(1).toInt).getOrElse(-1)
    val storeLines = st.filter(_.site.contains("IndexStore$.write(")).map(line)
    val mergeLine = if (storeLines.isEmpty) -2 else storeLines.min
    def kind(s: StageRec) = if (s.shuffleMap) "tokenize" else "postings"
    def layer(s: StageRec): String =
      if (s.group.endsWith(".docids")) "docids"
      else if (s.site.contains("IndexBuilder$.build(") ||
        s.site.contains("SegmentedBuild$.build(")) "docs_stats"
      else if (s.site.contains("SegmentedBuild$.buildSegment(")) kind(s)
      else if (s.site.contains("SegmentedBuild$.merge(")) "merge"
      else if (s.site.contains("IndexStore$.write("))
        if (line(s) == mergeLine) "merge" else "store"
      else if (s.site.startsWith("perfbench."))
        if (s.group.endsWith(".index")) kind(s) else "store"
      else "other"
    val by = st.groupBy(layer)
    def secs(k: String) = by.getOrElse(k, Nil).map(_.wallMs).sum / 1e3 / nBuilds
    val worst = st.filter(s => s.taskMs.length >= 4 && s.wallMs >= 100)
      .map(s => s.taskMs.max.toDouble / math.max(1L, median(s.taskMs)))
    Seq(
      Metric("build.docids_s", secs("docids"), "s"),
      Metric("build.docs_stats_s", secs("docs_stats"), "s"),
      Metric("build.tokenize_s", secs("tokenize"), "s"),
      Metric("build.postings_s", secs("postings"), "s"),
      Metric("build.merge_s", secs("merge"), "s"),
      Metric("build.store_s", secs("store"), "s"),
      Metric("build.shuffle_write_mb",
        st.map(_.shuffleWriteBytes).sum / 1048576.0 / nBuilds, "MB"),
      Metric("build.spill_mb", st.map(_.spillBytes).sum / 1048576.0 / nBuilds, "MB"),
      Metric("build.gc_s", st.map(_.gcMs).sum / 1e3 / nBuilds, "s"),
      Metric("build.task_skew", if (worst.isEmpty) 1.0 else worst.max, "ratio"))
  }

  private def median(xs: Array[Long]): Long = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** Refresh layers of a workload that runs no refresh; its one-pass
    * build is a single segment. */
  val noRefresh: Seq[Metric] = Seq(
    Metric("build.segment_skew", 1.0, "ratio"),
    Metric("refresh.segments_rebuilt", 0.0, "count"),
    Metric("refresh.rebuild_s", 0.0, "s"),
    Metric("refresh.merge_s", 0.0, "s"))

  /** JVM-wide figures, recorded in every traced run. */
  def jvm(): Seq[Metric] = {
    import scala.jdk.CollectionConverters._
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    Seq(Metric("jvm.heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0, "MB"),
      Metric("jvm.gc_ms", gc.toDouble, "ms"))
  }
}
