package graft.operators

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.GraftBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** The one driver-side fan-out: run independent work concurrently,
  * wait for it, rethrow the first failure. Spark runs several jobs at
  * once inside one application; actions are sequential only because
  * driver code calls them sequentially. The index lifecycles (chains
  * of 4–6 independent write jobs) run here so the next job's tasks
  * back-fill executors freed by the current job's tail; so do the PQ
  * subspace trainings, the snapshot/restore copies and the bulk
  * write's footer reads.
  *
  * Semantics callers rely on:
  *  - each call gets a fresh pool of `min(Width, items.length)`
  *    threads, which inherit the caller's inheritable locals (job
  *    descriptions/groups stay attached) and add the call's one job
  *    tag with interrupt-on-cancel;
  *  - the first `Width` items start at once, one per thread; the rest
  *    queue. Once an item fails, the queued items are skipped and the
  *    started ones awaited: no item runs on after the call returns or
  *    throws, so a caller that invalidates an artifact after a failure
  *    never races a live writer;
  *  - the FIRST failure in input order is rethrown, later ones are
  *    suppressed onto it;
  *  - before it rethrows, the call waits until every Spark task started
  *    by a job carrying its tag has ended. Spark fails a job at its
  *    first failed task and kills the others without waiting for them,
  *    so the action returns while they still run;
  *  - an interrupt of the caller skips the queued items and cancels
  *    the tagged jobs, but does not interrupt the pool threads: a
  *    driver thread interrupted inside a Spark action would return
  *    before its tasks end. The started items are awaited and drained,
  *    then InterruptedException is thrown with the flag restored; a
  *    failure the cancel caused rides on it as suppressed, any other
  *    stays primary. An item that starts a job after the cancel runs
  *    it.
  *
  * Callers that depend on a lockstep-validation ORDER (e.g.
  * TextIndex.addSegment's doclen-first / corpus-last bracket) keep
  * those anchors sequential and run only the independent middle here.
  */
private[graft] object Par {

  /** Threads of one call: ES moves segment files shard-parallel, so a
    * 100 TB tree must not stream through one driver thread. The
    * lifecycles and the PQ trainers pass at most 8 items. */
  val Width = 16

  def run(tasks: (() => Unit)*): Unit = { map(tasks)(_()); () }

  /** `f` over `items`, results in input order. */
  def map[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val tasks = new TaggedTasks(tag)
    val stop = new AtomicBoolean(false)
    val width = math.min(Width, items.length)
    sc.addSparkListener(tasks)
    val pool = Executors.newFixedThreadPool(width)
    try {
      val futs =
        try items.zipWithIndex.map { case (a, i) =>
          pool.submit(new Callable[Option[B]] {
            def call(): Option[B] =
              if (i >= width && stop.get) None
              else {
                sc.addJobTag(tag)
                sc.setInterruptOnCancel(true)
                try Some(f(a)) catch { case e: Throwable => stop.set(true); throw e }
              }
          })
        } finally pool.shutdown()
      var interrupted = false
      while (!pool.isTerminated)
        try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        catch {
          case _: InterruptedException =>
            if (!interrupted) sc.cancelJobsWithTag(tag, s"caller of $tag interrupted")
            interrupted = true
            stop.set(true)
        }
      val got = futs.map { fu =>
        try Right(fu.get())
        catch { case e: ExecutionException => Left(Option(e.getCause).getOrElse(e)) }
      }
      val errs = got.collect { case Left(e) => e }
      // a job killed by the cancel fails with an error naming the tag
      def byCancel(e: Throwable): Boolean =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains(tag)))
      val failures =
        if (!interrupted) errs
        else {
          val (echo, own) = errs.partition(byCancel)
          own ++ (new InterruptedException("interrupted while awaiting " +
            "Par tasks (their Spark jobs cancelled, all tasks ended)") +: echo)
        }
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        if (!sc.isStopped) tasks.drain(sc) // a stopped context runs no task
        if (interrupted) Thread.currentThread().interrupt()
        throw e
      }
      got.collect { case Right(Some(b)) => b }
    } finally sc.removeSparkListener(tasks)
  }

  private final case class Drained(tag: String) extends SparkListenerEvent

  /** Records the tasks of the jobs tagged `tag` that are running.
    * The listener bus is asynchronous, so [[drain]] has the scheduler
    * post a [[Drained]] marker once it has handled a cancel of the tag
    * (a no-op for jobs already failed): every task it launched under
    * the tag has posted its start by then, so on the marker's arrival
    * only task ends are outstanding. The wait is on this monitor, with
    * no sleep or polling, through interrupts (the flag is restored). */
  private final class TaggedTasks(tag: String) extends SparkListener {
    private val stages = scala.collection.mutable.Set.empty[Int]
    private val running = scala.collection.mutable.Set.empty[Long]
    private var marked = false

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.split(",").contains(tag))) stages ++= js.stageIds
    }
    override def onTaskStart(ts: SparkListenerTaskStart): Unit = synchronized {
      if (stages(ts.stageId)) running += ts.taskInfo.taskId
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      if (running.remove(te.taskInfo.taskId)) notifyAll()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (e == Drained(tag)) synchronized { marked = true; notifyAll() }

    def drain(sc: org.apache.spark.SparkContext): Unit = {
      GraftBusShim.cancelJobsWithTagThenPost(sc, tag, s"draining failed $tag", Drained(tag))
      var interrupted = false
      synchronized {
        while (!marked || running.nonEmpty)
          try wait() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread().interrupt()
    }
  }
}
