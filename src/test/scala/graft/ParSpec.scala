package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}

import graft.operators.Par

/** Failure semantics of the driver-side job-overlap mechanism
  * (operators.Par) — the contract the index lifecycles lean on:
  * addSegment/addVectors call invalidate() after Par.run throws, which
  * is only safe if NO task is still running at that point (a straggler
  * writer would append into an artifact the caller just invalidated).
  */
class ParSpec extends SparkSpec {

  // Par.run tags its tasks' Spark jobs through the active session
  private val sc = spark.sparkContext

  /** Interrupt `t`, which is blocked inside Par.run awaiting tasks
    * held on a latch, and wait until Par.run has taken the interrupt
    * (its await clears the flag when it throws). Only then may the
    * caller release the tasks: a task finishing first would let the
    * await return before it ever saw the interrupt. */
  private def interruptInsidePar(t: Thread): Unit = {
    t.interrupt()
    val deadline = System.nanoTime() +
      java.util.concurrent.TimeUnit.SECONDS.toNanos(30)
    while (t.isInterrupted && System.nanoTime() < deadline) Thread.sleep(1)
    assert(!t.isInterrupted, "Par.run never took the interrupt")
  }

  test("a failing task does not rethrow until every other task finished") {
    val slowDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val boomThrown = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      Par.run(
        () => try throw boom finally boomThrown.countDown(),
        // still in flight when the failure happens: it cannot finish
        // before the first task has thrown
        () => { boomThrown.await(); slowDone.set(true) },
        () => ())
    }
    assert(thrown eq boom)
    // the rethrow happened only after the slow writer completed — the
    // invalidate-never-races-a-live-writer guarantee
    assert(slowDone.get())
  }

  test("first failure (task order) is rethrown, later ones suppressed") {
    val a = new IllegalStateException("first-by-task-order")
    val b = new IllegalArgumentException("second")
    val bThrown = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      Par.run(
        // task 0 cannot fail before task 1 has — the contract is
        // deterministic on task order, not racy on wall-clock order
        () => { bThrown.await(); throw a },
        () => { try throw b finally bThrown.countDown() })
    }
    assert(thrown eq a)
    assert(thrown.getSuppressed.toSeq.contains(b))
  }

  test("interrupting the caller still awaits every task (flag restored)") {
    val done = (0 until 3).map(_ => new AtomicBoolean(false))
    val started = new CountDownLatch(3)
    val release = new CountDownLatch(1)
    def task(i: Int): () => Unit = () => {
      started.countDown(); release.await(); done(i).set(true)
    }
    @volatile var caught: Throwable = null
    @volatile var flagRestored = false
    val t = new Thread(() => {
      try Par.run(task(0), task(1), task(2))
      catch { case e: Throwable => caught = e }
      flagRestored = Thread.currentThread().isInterrupted
    })
    t.start()
    started.await() // every task is in flight on the pool threads
    interruptInsidePar(t)
    release.countDown()
    t.join(30000)
    assert(!t.isAlive)
    // every task ran to completion despite the caller's interrupt —
    // the round-15 advisor hole (early return with live writers)
    assert(done.forall(_.get()))
    assert(caught != null && caught.isInstanceOf[InterruptedException])
    assert(flagRestored, "interrupt status must be restored before rethrow")
  }

  test("task failure wins over a concurrent caller interrupt") {
    val boom = new IllegalStateException("boom")
    val slowDone = new AtomicBoolean(false)
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    @volatile var caught: Throwable = null
    val t = new Thread(() => {
      try Par.run(
        () => { started.countDown(); release.await(); throw boom },
        () => { started.countDown(); release.await(); slowDone.set(true) })
      catch { case e: Throwable => caught = e }
    })
    t.start()
    started.await()
    interruptInsidePar(t)
    release.countDown()
    t.join(30000)
    assert(!t.isAlive)
    assert(slowDone.get())
    // the task's failure is the primary error; the interrupt is
    // attached as suppressed, not lost
    assert(caught eq boom)
    assert(caught.getSuppressed.exists(_.isInstanceOf[InterruptedException]))
  }

  test("job descriptions/groups (inheritable locals) reach the pool threads") {
    sc.setJobDescription("par-spec-desc")
    try {
      @volatile var seen: String = null
      Par.run(
        () => { seen = sc.getLocalProperty("spark.job.description") },
        () => ())
      assert(seen == "par-spec-desc")
    } finally sc.setJobDescription(null)
  }

  test("interrupting the caller cancels the Spark jobs its tasks are running") {
    val jobId = new AtomicInteger(-1)
    val jobStarted = new CountDownLatch(1)
    val jobEnded = new CountDownLatch(1)
    @volatile var jobEnd: SparkListenerJobEnd = null
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.job.description") ==
            "par-cancel-spec") {
          jobId.set(js.jobId); jobStarted.countDown()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == jobId.get) { jobEnd = je; jobEnded.countDown() }
    }
    @volatile var caught: Throwable = null
    val t = new Thread(() => {
      try Par.run(
        () => {
          sc.setJobDescription("par-cancel-spec")
          // its one Spark task blocks on a latch nobody releases
          sc.parallelize(Seq(1), 1).foreach(_ => ParSpec.blockUntilInterrupted())
        },
        () => ())
      catch { case e: Throwable => caught = e }
    })
    sc.addSparkListener(listener)
    try {
      t.start()
      // the latch awaits and the join below are hang guards only
      assert(jobStarted.await(60, TimeUnit.SECONDS), "the job never started")
      t.interrupt()
      t.join(60000)
      assert(!t.isAlive, "Par.run never returned: the job was not cancelled")
      assert(caught.isInstanceOf[InterruptedException], caught)
      assert(jobEnded.await(60, TimeUnit.SECONDS))
      assert(jobEnd.jobResult != JobSucceeded)
      assert(jobEnd.jobResult.toString.contains("cancelled"), jobEnd.jobResult)
      // the cancelled job's failure rides on the interrupt
      assert(caught.getSuppressed.nonEmpty, caught)
      // interrupt-on-cancel reached the executor thread running the task
      assert(ParSpec.taskInterrupted.await(60, TimeUnit.SECONDS))
    } finally {
      sc.removeSparkListener(listener)
      ParSpec.never.countDown()
    }
  }
}

object ParSpec {
  val never = new CountDownLatch(1)
  val taskInterrupted = new CountDownLatch(1)

  def blockUntilInterrupted(): Unit =
    try never.await() catch {
      case e: InterruptedException => taskInterrupted.countDown(); throw e
    }
}
