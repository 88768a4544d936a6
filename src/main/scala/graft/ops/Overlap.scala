package graft.ops

import java.util.concurrent.{CancellationException, ExecutionException, Executors,
  FutureTask, LinkedBlockingQueue, ThreadFactory, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Bounded overlap for INDEPENDENT blocking Spark actions — the guide
  * §2.6 pattern ("submit from a small thread pool … 2-3 jobs in flight
  * is plenty") with the round-15 verdict's hardening: the sweeps used
  * to run blocking actions as bare Futures on the global fork-join
  * pool with no `blocking{}` wrapper, so a wide sweep could starve the
  * cores-sized pool (and anything else sharing it). Each call here gets
  * its own small EPHEMERAL daemon pool instead:
  *
  *  - in-flight work is capped per sweep (`cap`, usually [[DEFAULT_CAP]])
  *    — enough to back-fill a chain's driver-latency gaps and straggler
  *    tails, not enough to fight for executor slots;
  *  - a dedicated fixed pool cannot deadlock on independent thunks and
  *    cannot starve unrelated users of a shared pool; nested overlaps
  *    (a thunk that itself overlaps) get their own pool, so there is no
  *    cross-level interaction at all;
  *  - the pool is created on the caller's thread, so Spark's
  *    inheritable thread-locals (job group / description / job tags)
  *    propagate to the overlapped jobs, and it dies with the call.
  *
  * Every thunk tags its thread's Spark jobs with its own job tag
  * (`SparkContext.addJobTag`; a tag composes with the inherited job
  * group, where `setJobGroup` would overwrite it), so [[Handle.cancel]]
  * can stop the jobs a thunk has in flight. [[all]] joins in completion
  * order: the first failure cancels the remaining thunks and rethrows.
  */
object Overlap {
  /** Guide §2.6: 2-3 jobs in flight is plenty. */
  val DEFAULT_CAP = 3

  /** A join handle on one overlapped thunk. `apply()` blocks until the
    * thunk finishes and returns its result or rethrows its failure.
    * `cancel()` stops it: a thunk not yet started never runs, and the
    * Spark jobs of a running one are cancelled by tag until it returns
    * — so once `cancel()` returns, the thunk submits no more jobs. On a
    * finished thunk `cancel()` is a no-op, which makes "cancel in a
    * `finally`" safe on the success path.
    */
  final class Handle[A] private[Overlap] (join: () => A, stop: () => Unit) {
    def apply(): A = join()
    def cancel(): Unit = stop()
  }

  def all[A](thunks: Seq[() => A], cap: Int): Seq[A] =
    if (thunks.lengthCompare(2) < 0) thunks.map(_())
    else {
      val finished = new LinkedBlockingQueue[Int]()
      val hs = launch(thunks, cap, finished.put)
      try thunks.foreach(_ => hs(finished.take())())
      catch { case e: Throwable => hs.foreach(_.cancel()); throw e }
      hs.map(_())
    }

  /** [[all]] over two differently typed thunks. */
  def all2[A, B](a: => A, b: => B): (A, B) = {
    val ra = new AtomicReference[A]
    val rb = new AtomicReference[B]
    all(Seq(() => ra.set(a), () => rb.set(b)), DEFAULT_CAP)
    (ra.get, rb.get)
  }

  /** [[all]] over three differently typed thunks. */
  def all3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val ra = new AtomicReference[A]
    val rb = new AtomicReference[B]
    val rc = new AtomicReference[C]
    all(Seq(() => ra.set(a), () => rb.set(b), () => rc.set(c)), DEFAULT_CAP)
    (ra.get, rb.get, rc.get)
  }

  /** Start the thunks on their own bounded daemon pool and return JOIN
    * handles instead of blocking — the deferred form of [[all]] for
    * work whose consumer is far downstream (e.g. a streaming replay's
    * drain-only standing fits, which can build while the stream runs
    * instead of delaying its start). The pool drains itself after the
    * last thunk (shutdown is pre-issued, threads are daemons). Whoever
    * holds a handle joins it or cancels it.
    */
  def begin[A](thunks: Seq[() => A], cap: Int): Seq[Handle[A]] =
    launch(thunks, cap, _ => ())

  /** [[begin]] for a single thunk. */
  def start[A](thunk: => A): Handle[A] = begin(Seq(() => thunk), cap = 1).head

  private val tags = new AtomicLong

  private def launch[A](thunks: Seq[() => A], cap: Int,
      finished: Int => Unit): Seq[Handle[A]] =
    if (thunks.isEmpty) Seq.empty
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val pool = Executors.newFixedThreadPool(
        math.min(math.max(cap, 1), thunks.size),
        new ThreadFactory {
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, "graft-overlap")
            t.setDaemon(true)
            t
          }
        })
      val hs = thunks.zipWithIndex.map { case (thunk, i) =>
        val tag = s"graft-overlap-${tags.incrementAndGet()}"
        val cancelled = new AtomicBoolean(false)
        val task = new FutureTask[A](() => {
          if (cancelled.get) throw new CancellationException(tag)
          sc.foreach(_.addJobTag(tag))
          try thunk() finally sc.foreach(_.removeJobTag(tag))
        }) {
          override def done(): Unit = finished(i)
        }
        pool.execute(task)
        new Handle[A](() => joinTask(task), () => {
          cancelled.set(true)
          cancelUntilDone(task, tag, sc)
        })
      }
      pool.shutdown() // already-submitted tasks still run; pool dies after
      hs
    }

  private def joinTask[A](task: FutureTask[A]): A =
    try task.get() catch { case e: ExecutionException => throw e.getCause }

  /** Cancel the tag's jobs until the thunk returns: a thunk between two
    * actions has no job to cancel yet, so one cancel could miss the
    * next job it submits.
    */
  private def cancelUntilDone(task: FutureTask[_], tag: String,
      sc: Option[SparkContext]): Unit =
    while (!task.isDone) {
      sc.filterNot(_.isStopped).foreach(_.cancelJobsWithTag(tag))
      try task.get(20, TimeUnit.MILLISECONDS)
      catch { case _: TimeoutException | _: ExecutionException => () }
    }
}
