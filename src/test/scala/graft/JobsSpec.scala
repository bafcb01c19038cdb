package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** `Jobs.concurrently`, the driver-side pool of the segmented build and
  * of `SparkEntry.index`: a failure surfaces only after every other task
  * has finished, no job or pool thread outlives the call, and jobs run
  * in the caller's job group. */
class JobsSpec extends SparkSpec {

  private def poolThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-jobs-") && t.isAlive).toSet

  /** A short Spark job: 4 tasks of `ms` each. */
  private def slowJob(ms: Long): Long =
    spark.sparkContext.parallelize(1 to 4, 4)
      .map { x => Thread.sleep(ms); x }.count()

  test("a failing task is rethrown only after the others finished") {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val finished = new ConcurrentLinkedQueue[Int]()
    val boom = new IllegalStateException("segment failed")
    sc.setJobGroup(group, "jobs spec")
    val thrown = try intercept[IllegalStateException] {
      Jobs.concurrently(Seq(
        () => throw boom,
        () => { slowJob(400); finished.add(1); 1L },
        () => { slowJob(400); finished.add(2); 2L }))
    } finally sc.clearJobGroup()
    assert(thrown eq boom)
    // the other two tasks ran to the end before the failure surfaced
    assert(finished.asScala.toSet == Set(1, 2))
    org.apache.spark.ListenerBusDrain(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    // the tasks' jobs ran in the caller's job group
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 2)
    // and the pool is gone: its threads exit once the call returns
    val deadline = System.nanoTime() + 5000000000L
    while (poolThreads().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(poolThreads().isEmpty, poolThreads().map(_.getName))
  }

  test("results come back in task order") {
    assert(Jobs.concurrently((1 to 9).map(i => () => { slowJob(10 * (9 - i)); i })) ==
      (1 to 9))
    assert(Jobs.concurrently(Seq.empty[() => Int]).isEmpty)
  }
}
