package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-side concurrency for independent Spark jobs. */
object Jobs {
  private val threadIds = new AtomicInteger

  /** Runs `tasks` (each typically runs Spark jobs) on a pool made by
    * this call, of min(tasks, driver cores) threads: the driver's cores
    * bound how many jobs it can plan at once. The calling thread creates
    * the threads, so they inherit its job group and local properties,
    * and a caller's `cancelJobGroup` reaches their jobs. Returns the
    * results in task order once every task has finished and the pool is
    * gone; if any task failed, rethrows the first failure in task order
    * instead, also only then. */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, Runtime.getRuntime.availableProcessors)),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-jobs-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    try {
      val outcomes = tasks.toVector
        .map(t => pool.submit(new Callable[T] { def call(): T = t() }))
        .map(f => try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) })
      outcomes.collectFirst { case Left(e) => throw e }
      outcomes.collect { case Right(v) => v }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
