package graft.operators

/** Run INDEPENDENT Spark actions concurrently from the driver — the
  * overlap-independent-jobs discipline: Spark's scheduler happily runs
  * several jobs at once inside one application, and actions are only
  * sequential because driver code calls them sequentially. The
  * multi-table index lifecycles (TextIndex/AnnIndex build, segment
  * commit, purge merge) are chains of 4–6 independent write jobs; run
  * back-to-back, each job's scheduling latency, commit protocol and
  * task tail leave the executors idle between jobs. Submitting the
  * independent chains from a small thread pool lets the next job's
  * tasks back-fill executors freed by the current job's tail — a win
  * on a real cluster (tail back-fill) and locally (the fixed per-job
  * cost of small maintenance jobs overlaps instead of summing).
  *
  * Semantics callers rely on:
  *  - every task is awaited before return OR throw — on failure no
  *    concurrent writer is still running when the caller invalidates
  *    an artifact (the addSegment/addVectors torn-commit discipline);
  *  - the FIRST failure is rethrown (others are suppressed onto it);
  *  - a fresh pool per call, threads inherit the calling thread's
  *    inheritable locals, so job descriptions/groups stay attached;
  *  - an interrupt of the caller cancels the Spark jobs the tasks are
  *    running (each task thread adds this call's job tag to the tags
  *    it inherited, with interrupt-on-cancel, so a hung job is torn
  *    down instead of waited on forever), still awaits every task, and
  *    then throws InterruptedException with the interrupt flag
  *    restored. A failure the cancellation itself caused rides on it
  *    as suppressed; any other task failure stays primary. The cancel
  *    reaches the jobs running when it lands: a task that starts a
  *    further job afterwards runs it.
  *
  * Tear-detection note: callers that depend on a lockstep-validation
  * ORDER (e.g. TextIndex.addSegment's doclen-first / corpus-last
  * bracket) keep those two anchors sequential and only parallelize
  * the independent middle — see the call sites.
  */
private[graft] object Par {
  def run(tasks: (() => Unit)*): Unit = {
    if (tasks.isEmpty) return
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
    try {
      val futs = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            sc.addJobTag(tag)
            sc.setInterruptOnCancel(true)
            t()
          }
        })
      }
      val errs = scala.collection.mutable.ArrayBuffer.empty[Throwable]
      var interrupted = false
      futs.foreach { f =>
        // an interrupt of the CALLING thread must not break the
        // await-all contract: returning early would let a still-live
        // writer race the caller's invalidate(). Cancel the tasks'
        // jobs once, keep awaiting every future, and restore the flag
        // before rethrowing (the round-15 advisor finding).
        var done = false
        while (!done) {
          try { f.get(); done = true } catch {
            case e: java.util.concurrent.ExecutionException =>
              errs += (if (e.getCause != null) e.getCause else e)
              done = true
            case _: InterruptedException =>
              if (!interrupted) sc.cancelJobsWithTag(tag, s"caller of $tag interrupted")
              interrupted = true
          }
        }
      }
      val failures =
        if (!interrupted) errs.toSeq
        else {
          Thread.currentThread().interrupt()
          val ie = new InterruptedException(
            "interrupted while awaiting Par tasks (their Spark jobs " +
              "cancelled, all tasks completed)")
          // a job killed by the cancel fails with an error naming the tag
          def byCancel(e: Throwable): Boolean =
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains(tag)))
          val (echo, own) = errs.toSeq.partition(byCancel)
          own ++ (ie +: echo)
        }
      failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    } finally { pool.shutdownNow(); () }
  }
}
