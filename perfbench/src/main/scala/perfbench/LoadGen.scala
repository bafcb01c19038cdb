package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

/** One request's record. Times are System.nanoTime. `dueNs` is when the
  * schedule said to send it, `handNs` when the generator handed it to a
  * connection thread, `endNs` when the reply was complete. */
final case class Done(i: Int, q: String, dueNs: Long, handNs: Long,
    endNs: Long, status: Int, body: String) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def lateMs: Double = (handNs - dueNs) / 1e6
}

/** Load generators, in the benchmark's own process with at most `nproc`
  * connection threads.
  *
  * Open loop ([[run]]): arrivals are a seeded Poisson process conditioned
  * on its count (the `n` send times are sorted uniform draws over the
  * phase), so each phase sends a fixed number of requests. A request is
  * timed from its scheduled send time, so a stall also charges the
  * requests queued behind it.
  *
  * Closed loop ([[closedLoopFor]]): each caller sends its next request
  * when its last one returns. */
object LoadGen {
  def schedule(r: Inputs.Rng, qps: Double, seconds: Double): Array[Double] = {
    val n = math.max(1, math.round(qps * seconds).toInt)
    Array.fill(n)(r.nextDouble() * seconds).sorted
  }

  def run(at: Array[Double], queries: IndexedSeq[String], threads: Int,
      call: String => (Int, String)): IndexedSeq[Done] = {
    val pool = new ThreadPoolExecutor(threads, threads, 0L,
      TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable]())
    val out = new Array[Done](at.length)
    val t0 = System.nanoTime() + 5000000L
    try {
      at.indices.foreach { i =>
        val due = t0 + (at(i) * 1e9).toLong
        var now = System.nanoTime()
        while (now < due) {
          LockSupport.parkNanos(math.min(due - now, 200000L))
          now = System.nanoTime()
        }
        val q = queries(i)
        pool.execute { () =>
          val (status, body) =
            try call(q) catch { case e: Exception => (-1, e.toString) }
          out(i) = Done(i, q, due, now, System.nanoTime(), status, body)
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(150, TimeUnit.SECONDS)
      pool.shutdownNow()
    }
    out.indices.map(i => Option(out(i)).getOrElse(
      Done(i, queries(i), 0L, 0L, 0L, -1, "no reply")))
  }

  /** Closed loop for `seconds`: `threads` callers each send their next
    * request when their last one returns, taking queries from `qs` in
    * order. A request is timed from its send. */
  def closedLoopFor(qs: IndexedSeq[String], threads: Int, seconds: Double,
      call: String => (Int, String)): IndexedSeq[Done] = {
    val next = new AtomicInteger()
    val out = new ConcurrentLinkedQueue[Done]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    closedLoop(Seq.fill(threads)(""), threads) { _ =>
      while (System.nanoTime() < end) {
        val i = next.getAndIncrement()
        val q = qs(i % qs.size)
        val t0 = System.nanoTime()
        val (status, body) =
          try call(q) catch { case e: Exception => (-1, e.toString) }
        out.add(Done(i, q, t0, t0, System.nanoTime(), status, body))
      }
    }
    out.asScala.toIndexedSeq.sortBy(_.i)
  }

  /** Runs `f` over `xs` from `threads` callers, each sending its next
    * request when its last one returns (a closed loop). */
  def closedLoop[A](xs: Seq[String], threads: Int)(f: String => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new Callable[A] { def call(): A = f(x) }))
      .map(_.get())
    finally pool.shutdownNow()
  }

  /** GET /api/search over a keep-alive connection. */
  def http(port: Int, k: Int)(q: String): (Int, String) = {
    val url = URI.create(s"http://127.0.0.1:$port/api/search?k=$k&q=" +
      URLEncoder.encode(q, "UTF-8")).toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000)
    c.setReadTimeout(60000)
    val status = c.getResponseCode
    val in = if (status < 400) c.getInputStream else c.getErrorStream
    val body = if (in == null) "" else
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (status, body)
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
