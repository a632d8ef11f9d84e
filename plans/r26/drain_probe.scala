package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Par

/** Counts how often Par.run throws while tasks of its failed job still
  * run. Copy into src/test/scala/graft/ of a checkout and run
  * `sbt "testOnly graft.DrainProbe"`; it prints one line per direction
  * and asserts nothing.
  *
  * Each round runs one 4-task job inside Par.run. Held tasks block on
  * a latch nobody releases before the end, so they end only when Spark
  * kills them: once task 0 fails beside them ("failure"), or once the
  * caller is interrupted ("interrupt"). A round is a miss when a held
  * task is still inside at the moment Par.run throws. */
class DrainProbe extends SparkSpec {
  private val sc = spark.sparkContext
  private val Rounds = 25

  test("drain probe") {
    for (interrupt <- Seq(false, true)) {
      val misses = (1 to Rounds).map { _ =>
        DrainProbe.failTask0 = !interrupt
        DrainProbe.entered = new CountDownLatch(if (interrupt) 4 else 3)
        @volatile var insideAtThrow = -1
        val t = new Thread(() => {
          try Par.run(() => sc.parallelize(0 until 4, 4).foreach(DrainProbe.heldTask), () => ())
          catch { case _: Throwable => insideAtThrow = DrainProbe.inside.get }
        })
        t.start()
        if (interrupt) { DrainProbe.entered.await(); t.interrupt() }
        t.join(60000)
        // let every killed task leave before the next round
        while (DrainProbe.inside.get > 0) Thread.sleep(1)
        insideAtThrow
      }.filter(_ != 0)
      println(s"[probe] ${if (interrupt) "interrupt" else "failure"}: " +
        s"${misses.length}/$Rounds rounds threw with held tasks inside " +
        s"(inside at throw: ${misses.mkString(",")})")
    }
    DrainProbe.released.countDown()
  }
}

object DrainProbe {
  @volatile var failTask0 = false
  @volatile var entered = new CountDownLatch(0)
  val inside = new AtomicInteger
  val released = new CountDownLatch(1)

  def heldTask(i: Int): Unit =
    if (i == 0 && failTask0) {
      entered.await()
      throw new IllegalStateException("task 0 failed")
    } else {
      inside.incrementAndGet()
      try { entered.countDown(); released.await() }
      finally { inside.decrementAndGet(); () }
    }
}
