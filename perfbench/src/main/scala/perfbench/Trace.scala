package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spans around the benchmark's calls into the library, and the Spark
  * work each span caused.
  *
  * A span is opened by the client thread around one public call. While
  * it is open, the thread's Spark local property [[Tracer.SpanKey]]
  * names it, so every job the call submits (also from the library's own
  * worker threads, which inherit local properties) is tied to it.
  * [[JobLedger]] receives the jobs' and tasks' events and sums their
  * counters per span. With tracing off, `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextId = 0L
  private var opId = 0L
  private val ledger = new JobLedger

  private var recording = false
  private var stops = 0
  /** The client's own wall time of each traced operation, by op id. */
  private val clientMs = mutable.HashMap.empty[Long, Double]

  def enabled: Boolean = recording

  /** Starts (or resumes) recording spans and Spark events. */
  def start(): Unit = {
    sc.addSparkListener(ledger)
    recording = true
  }

  /** Pauses recording. Waits until the listener has seen every event
    * submitted so far (the end of a marker job), then detaches it. */
  def stop(): Unit = {
    recording = false
    stops += 1
    val marker = s"sync-$stops"
    sc.setLocalProperty(SpanKey, marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!ledger.sawJobEndFor(marker) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(ledger.sawJobEndFor(marker), "listener did not drain within 60 s")
    sc.removeSparkListener(ledger)
  }

  /** Everything recorded while recording was on. */
  def summary(): Summary = Summary(spans.toVector, ledger, clientMs.toMap)

  /** Bytes spilled to disk by tasks seen so far (call after `stop`). */
  def spillBytes: Long = ledger.spillBytes

  /** Runs `body` as one client operation; its spans share `opId`. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      opId += 1
      span(name)(body)
    }

  /** Records the wall time the client measured, with its own clock,
    * around the operation `op` ran last. */
  def clientWall(ms: Double): Unit = if (enabled) clientMs(opId) = ms

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = new Span(nextId, name, open.headOption.map(_.id).getOrElse(0L),
        opId, System.currentTimeMillis(), System.nanoTime())
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Builds a frame, collects it, and records its planning time — the
    * analysis, optimization and physical-planning phases of the query
    * the call returned. */
  def collect(name: String)(df: => DataFrame): Array[Row] =
    span(name) {
      val d = df
      val rows = d.collect()
      if (enabled) {
        val phases = d.queryExecution.tracker.phases
        open.head.planMs = phases.values.map(_.durationMs).sum.toDouble
      }
      rows
    }

}

object Tracer {
  val SpanKey = "perfbench.span"

  final class Span(val id: Long, val name: String, val parent: Long,
                   val op: Long, val startMs: Long, val startNs: Long) {
    var endMs = 0L
    var endNs = 0L
    var planMs = 0.0
    def wallMs: Double = (endNs - startNs) / 1e6
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Per-call counters a span reports. */
  final case class Counters(selfMs: Double, planMs: Double, jobs: Int,
                            tasks: Long, execCpuMs: Double, inputBytes: Long,
                            shuffleWriteBytes: Long, outputBytes: Long,
                            driverGapMs: Double) {
    def get(counter: String): Double = counter match {
      case "self_ms" => selfMs
      case "plan_ms" => planMs
      case "jobs" => jobs.toDouble
      case "tasks" => tasks.toDouble
      case "exec_cpu_ms" => execCpuMs
      case "input_bytes" => inputBytes.toDouble
      case "shuffle_write_bytes" => shuffleWriteBytes.toDouble
      case "output_bytes" => outputBytes.toDouble
      case "driver_gap_ms" => driverGapMs
    }
  }

  final case class Summary(spans: Vector[Span], ledger: JobLedger,
                           clientMs: Map[Long, Double]) {
    private val children = spans.groupBy(_.parent)
    private val jobsBySpan = ledger.jobsBySpan
    private lazy val bySpan = spans.map(s => s.id -> counters0(s)).toMap

    def counters(s: Span): Counters = bySpan(s.id)

    private def counters0(s: Span): Counters = {
      val kids = children.getOrElse(s.id, Vector.empty)
      val jobs = jobsBySpan.getOrElse(s.id.toString, Seq.empty)
      val t = ledger.taskTotals(s.id)
      Counters(
        selfMs = s.wallMs - kids.map(_.wallMs).sum,
        planMs = s.planMs,
        jobs = jobs.size,
        tasks = t.tasks,
        execCpuMs = t.cpuNs / 1e6,
        inputBytes = t.inputBytes,
        shuffleWriteBytes = t.shuffleWrite,
        outputBytes = t.outputBytes,
        driverGapMs = math.max(0.0,
          (s.endMs - s.startMs) - unionMs(jobs, s.startMs, s.endMs)))
    }

    /** Median of each counter over the calls of span `name`; None when
      * the workload never made that call. */
    def median(name: String, counter: String): Option[Double] = {
      val xs = spans.filter(_.name == name).map(s => counters(s).get(counter))
      if (xs.isEmpty) None else Some(Stats.percentile(xs, 50))
    }

    /** Breaches of the span ledger's invariants, one line each:
      *  - a span was never closed;
      *  - a span's children together last longer than it does (they
      *    overlap, or a child outlived its parent);
      *  - an operation's self times add up to more than the client
      *    measured around it with its own clock (a span leaked out of
      *    its operation, or was counted twice). */
    def violations: Seq[String] = {
      val tol = 0.01
      val open = spans.filter(_.endNs == 0L).map(s => s"span ${s.id} ${s.name} never closed")
      val overlap = spans.filter(_.endNs != 0L).flatMap { s =>
        val kids = children.getOrElse(s.id, Vector.empty).map(_.wallMs).sum
        if (kids > s.wallMs + tol)
          Some(f"span ${s.id} ${s.name}: children last $kids%.3f ms, the span ${s.wallMs}%.3f ms")
        else None
      }
      val leaked = spans.groupBy(_.op).toSeq.sortBy(_._1).flatMap { case (op, ss) =>
        val self = ss.map(s => counters(s).selfMs).sum
        clientMs.get(op).filter(self > _ + tol).map(c =>
          f"op $op: span self times add up to $self%.3f ms, the client measured $c%.3f ms")
      }
      open ++ overlap ++ leaked
    }

    /** Operations whose spans were checked against the client's clock. */
    def checkedOps: Int = spans.map(_.op).distinct.count(clientMs.contains)

    def toJsonLines: Iterator[String] = spans.iterator.map { s =>
      val c = counters(s)
      Main.json(ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_ms" -> s.wallMs, "self_ms" -> c.selfMs,
        "client_ms" -> (if (s.parent == 0) clientMs.get(s.op) else None),
        "plan_ms" -> c.planMs, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "exec_cpu_ms" -> c.execCpuMs, "input_bytes" -> c.inputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "output_bytes" -> c.outputBytes, "driver_gap_ms" -> c.driverGapMs))
    }
  }

  /** Length of the union of the job intervals, clipped to [lo, hi]. */
  private def unionMs(jobs: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val iv = jobs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

/** Sums Spark job and task events per span (the span named by the
  * job's [[Tracer.SpanKey]] local property). */
final class JobLedger extends SparkListener {
  final class Totals {
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var shuffleWrite = 0L
    var outputBytes = 0L
  }

  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, Totals]
  private val ended = mutable.HashSet.empty[String]
  private var spilled = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
    jobSpan.get(e.jobId).foreach(ended += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageSpan.getOrElse(e.stageId, ""),
        new Totals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.outputBytes += m.outputMetrics.bytesWritten
      spilled += m.diskBytesSpilled
    }
  }

  def sawJobEndFor(span: String): Boolean = synchronized(ended(span))

  /** (start, end) wall-clock ms of each finished job, by span. */
  def jobsBySpan: Map[String, Seq[(Long, Long)]] = synchronized {
    jobSpan.toSeq.collect { case (j, s) if jobEnd.contains(j) =>
      s -> (jobStart(j), jobEnd(j)) }
      .groupMap(_._1)(_._2)
  }

  def taskTotals(spanId: Long): Totals = synchronized {
    totals.getOrElse(spanId.toString, new Totals)
  }

  def spillBytes: Long = synchronized(spilled)
}
