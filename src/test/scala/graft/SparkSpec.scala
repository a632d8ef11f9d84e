package graft

import org.apache.spark.GraftBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session (one per suite, SURVEY.md §5). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft-warehouse-${sys.props.getOrElse("user.name", "t")}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** The stage names of every job `body` launches, one Seq per job.
    * The listener bus is drained before and after, so no other job's
    * events land in the record. */
  def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name)); ()
      }
    }
    assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
    sc.addSparkListener(listener)
    try {
      body
      assert(GraftBusShim.waitUntilListenerBusEmpty(sc, 30000))
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }
}
