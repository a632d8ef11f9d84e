package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `perfbench/run.py`).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --run-dir <dir> --out <dir> [--sf <scale factor>]
  * }}}
  *
  * One closed-loop client thread: each operation waits for its reply
  * before the next is sent. The run generates its inputs from the seed,
  * sets the program up several times (reporting the median), warms up,
  * measures for at least `--seconds` and the workload's minimum number
  * of operations, checks the outputs, writes a result file under
  * `--out` and prints a one-line JSON summary last on stdout. With
  * `--trace 1` it alternates untraced and traced segments, each at
  * least a quarter of `--seconds`, and prints the per-layer metrics
  * instead.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: String, outDir: String,
                        sf: Option[Double])

  /** Default scale factor per workload (sf0.1 = 150k orders, 5k docs). */
  val defaultSf: Map[String, Double] = Map(
    "ingest" -> 0.1, "search" -> 0.01, "maintain" -> 0.02, "dedup" -> 0.02)

  val SetupReps = 3
  /** Segments of a traced run, half of them traced. */
  val TraceSegments = 8

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"perfbench: ${e.getMessage}"); 2
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    if (!Workload.names.contains(w))
      throw new IllegalArgumentException(
        s"unknown workload '$w' (one of ${Workload.names.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("out"),
      kv.get("sf").map(_.toDouble))
  }

  /** What one measuring window saw: per operation its latency and its
    * request kind. */
  final case class Window(opMs: Seq[Double], kinds: Seq[String],
                          readMs: Seq[Double], docs: Long, ops: Int,
                          failed: Int, seconds: Double, errors: Seq[String]) {
    def p(q: Double): Double = if (opMs.isEmpty) Double.NaN else Stats.percentile(opMs, q)

    /** Median latency and operation count per request kind. */
    def perKind: ListMap[String, ListMap[String, Any]] =
      ListMap(kinds.zip(opMs).groupMap(_._1)(_._2).toSeq.sortBy(_._1).map {
        case (k, ms) => k -> ListMap("p50_ms" -> Stats.median(ms), "ops" -> ms.size)
      }: _*)
  }

  object Window {
    def merge(ws: Seq[Window]): Window = Window(ws.flatMap(_.opMs),
      ws.flatMap(_.kinds), ws.flatMap(_.readMs), ws.map(_.docs).sum,
      ws.map(_.ops).sum, ws.map(_.failed).sum, ws.map(_.seconds).sum,
      ws.flatMap(_.errors))
  }

  def run(o: Opts): Int = {
    val load0 = Provenance.loadavg()
    val cpu0 = Provenance.cpuTimes()
    val entry = System.nanoTime()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.runDir))
    val fsync = Provenance.fsyncProbe(s"${o.runDir}/fsync-probe")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = secondsSince(entry)
      val tracer = new Tracer(spark)
      val sf = o.sf.getOrElse(defaultSf(o.workload))
      val ctx = Ctx(spark, o.seed, sf, o.runDir, nproc, tracer)
      val wl = Workload(o.workload, ctx)

      val genS = timed(wl.generate())
      // a traced run also records the spans of its last set-up
      val setupS = (1 to SetupReps).map { r =>
        val traceSetup = o.trace && r == SetupReps
        if (traceSetup) tracer.start()
        val s = timed(tracer.op("op.setup")(wl.setup(s"${o.runDir}/setup-$r")))
        if (traceSetup) {
          tracer.clientWall(s * 1e3)
          tracer.stop()
        }
        if (r > 1) deleteTree(s"${o.runDir}/setup-${r - 1}")
        s
      }
      var opIndex = 0
      def window(seconds: Double, minOps: Int): Window = {
        val opMs = mutable.ArrayBuffer.empty[Double]
        val kinds = mutable.ArrayBuffer.empty[String]
        val readMs = mutable.ArrayBuffer.empty[Double]
        val errors = mutable.ArrayBuffer.empty[String]
        var docs = 0L
        val start = System.nanoTime()
        def elapsed = secondsSince(start)
        while ((elapsed < seconds || opMs.size < minOps ||
            opIndex % wl.blockOps != 0) && errors.size < 10) {
          val i = opIndex
          opIndex += 1
          kinds += wl.kind(i)
          val t0 = System.nanoTime()
          try {
            docs += tracer.op(s"op.${o.workload}")(wl.op(i))
            opMs += (System.nanoTime() - t0) / 1e6
            tracer.clientWall(opMs.last)
            (0 until wl.readsPerOp).foreach { j =>
              val r0 = System.nanoTime()
              tracer.op("op.read")(wl.read(i, j))
              readMs += (System.nanoTime() - r0) / 1e6
              tracer.clientWall(readMs.last)
            }
          } catch {
            case e: Exception =>
              errors += s"op $i: ${e.toString.take(400)}"
              if (opMs.size < kinds.size) opMs += (System.nanoTime() - t0) / 1e6
          }
        }
        Window(opMs.toSeq, kinds.toSeq,
          if (wl.opIsRead) opMs.toSeq else readMs.toSeq,
          docs, opMs.size, errors.size, elapsed, errors.toSeq)
      }

      val warmup = window(0, wl.warmupOps)
      val firstS = secondsSince(entry)
      // A traced run alternates untraced and traced segments of at least
      // one block each, in the order U T T U repeated, so that warm-up still
      // going on during the run weighs on both sides alike. The overhead
      // is the traced median over the untraced one.
      val (plain, traced) =
        if (!o.trace) (window(o.seconds, wl.minOps), None)
        else {
          val spill0 = tracer.spillBytes
          var gcMs = 0L
          val segments = (0 until TraceSegments).map { k =>
            val on = k % 4 == 1 || k % 4 == 2
            val g0 = Tracer.gcMillis()
            if (on) tracer.start()
            val w = window(o.seconds / (TraceSegments / 2), wl.blockOps)
            if (on) {
              tracer.stop()
              gcMs += Tracer.gcMillis() - g0
            }
            on -> w
          }
          val u = Window.merge(segments.collect { case (false, w) => w })
          val t = Window.merge(segments.collect { case (true, w) => w })
          val perOp = math.max(1, t.ops).toDouble
          (u, Some(t -> Map(
            "spark.gc_ms" -> gcMs / perOp,
            "spark.spill_bytes" -> (tracer.spillBytes - spill0) / perOp,
            "trace.op_p50_ratio" -> t.p(50) / u.p(50))))
        }
      val summary = tracer.summary()
      val heapMb = Provenance.liveHeapMb()
      val bytesPerDoc = wl.bytesPerDoc()
      val checkStart = System.nanoTime()
      val mismatches = wl.check()
      val checkS = secondsSince(checkStart)
      val extras = if (o.trace) wl.tracedExtras() else Map.empty[String, Double]

      // warm-up operations are requests too: they count as attempted
      val windows = Seq(warmup, plain) ++ traced.map(_._1)
      val attempted = windows.map(_.ops).sum
      val spanViolations = summary.violations
      val failures = windows.flatMap(_.errors) ++ mismatches ++ spanViolations
      val failed = math.min(attempted,
        windows.map(_.failed).sum + mismatches.size + spanViolations.size)

      val endToEnd = ListMap(
        "setup_s" -> metric(Stats.median(setupS), "s"),
        "op_p50_ms" -> metric(plain.p(50), "ms"),
        "op_p90_ms" -> metric(plain.p(90), "ms"),
        "ops_per_s" -> metric(plain.ops / plain.seconds, "1/s"),
        "bytes_per_doc" -> metric(bytesPerDoc, "B/doc"),
        "live_heap_mb" -> metric(heapMb, "MB"))
      val perLayer = traced.map { case (_, engine) =>
        Layers.metrics(summary, extras ++ engine)
      }
      val printed = perLayer.getOrElse(endToEnd)
      val summaryLine = ListMap("correct" -> (failed == 0),
        "attempted" -> attempted, "failed" -> failed, "metrics" -> printed)

      val load1 = Provenance.loadavg()
      val stamp = System.currentTimeMillis()
      val base = s"${o.outDir}/${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-$stamp"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.outDir))
      if (o.trace)
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$base-spans.jsonl"),
          summary.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      def windowJson(w: Window) = ListMap("ops" -> w.ops, "failed" -> w.failed,
        "seconds" -> w.seconds, "op_p50_ms" -> w.p(50), "op_p90_ms" -> w.p(90),
        "per_kind" -> w.perKind, "op_samples" -> w.opMs.size,
        "read_samples" -> w.readMs.size, "docs" -> w.docs,
        "op_ms" -> w.opMs, "op_kind" -> w.kinds, "read_ms" -> w.readMs)
      val result = ListMap(
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "sf" -> sf,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failed_frac" -> failed.toDouble / math.max(1, attempted),
        "docs_per_s" -> plain.docs / plain.seconds,
        "read_p50_ms" -> (if (plain.readMs.isEmpty) None
          else Some(Stats.median(plain.readMs))),
        "end_to_end" -> endToEnd,
        "per_layer" -> perLayer,
        "untraced_window" -> windowJson(plain),
        "traced_window" -> traced.map(t => windowJson(t._1)),
        "traced_ops_checked_against_client_clock" ->
          (if (o.trace) Some(summary.checkedOps) else None),
        "setup_reps_s" -> setupS, "session_s" -> sessionS,
        "generate_s" -> genS, "entry_to_first_op_s" -> firstS,
        "check_s" -> checkS, "entry_to_result_s" -> secondsSince(entry),
        "failures" -> failures.take(50),
        "provenance" -> Provenance.stamp(spark, nproc, load0, load1, cpu0, fsync))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$base.json"),
        (json(result) + "\n").getBytes("UTF-8"))
      failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
      System.err.println(s"perfbench: result file $base.json")
      println(json(summaryLine))
      if (failed == 0) 0 else 3
    } finally spark.stop()
  }

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One line of JSON for a result; Scala maps keep their order. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  private def metric(v: Double, unit: String) = ListMap("value" -> v, "unit" -> unit)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; secondsSince(t0)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists)
      } finally s.close()
    }
  }
}

/** The per-layer metrics a traced run prints: `<span>.<counter>` as the
  * median over the span's calls, then engine-wide figures. */
object Layers {
  /** Spans of the declared workloads and the counters each reports.
    * The ingest and maintain workloads record their other spans in the
    * spans file only. */
  val spans: Seq[(String, Seq[String])] = {
    val request = Seq("self_ms", "plan_ms", "jobs", "tasks", "driver_gap_ms")
    val build = Seq("self_ms", "jobs", "tasks", "exec_cpu_ms", "output_bytes",
      "driver_gap_ms")
    val pairs = Seq("self_ms", "jobs", "tasks", "exec_cpu_ms",
      "shuffle_write_bytes", "driver_gap_ms")
    Seq(
      "denorm.docs" -> Seq("self_ms", "jobs", "driver_gap_ms"),
      "sink.bulk_write" -> Seq("self_ms", "jobs", "tasks", "exec_cpu_ms",
        "shuffle_write_bytes", "output_bytes", "driver_gap_ms"),
      "textindex.build" -> build,
      "search.bm25" -> request,
      "search.phrase" -> request,
      "search.prefix" -> request,
      "search.nested" -> Seq("self_ms", "plan_ms", "jobs", "tasks",
        "input_bytes", "shuffle_write_bytes", "driver_gap_ms"),
      "dedupindex.build" -> build,
      "dedupindex.screen_near" -> Seq("self_ms", "plan_ms", "jobs", "tasks",
        "shuffle_write_bytes", "driver_gap_ms"),
      "dedup.minhash_pairs" -> pairs,
      "dedup.dup_clusters" -> pairs,
      "dedup.containment_pairs" -> pairs,
      "similarity.cosine_pairs_blocked" -> pairs)
  }

  def unit(counter: String): String =
    if (counter.endsWith("_ms")) "ms"
    else if (counter.endsWith("_bytes")) "B"
    else "count"

  /** Every declared per-layer metric with its unit, in print order. */
  val declared: Seq[(String, String)] =
    spans.flatMap { case (s, cs) => cs.map(c => s"$s.$c" -> unit(c)) } ++
      Seq("dedup.verified_per_candidate" -> "ratio",
        "spark.gc_ms" -> "ms", "spark.spill_bytes" -> "B",
        "trace.op_p50_ratio" -> "ratio")

  /** Spans the workload never opened report 0. */
  def metrics(s: Tracer.Summary,
              extras: Map[String, Double]): ListMap[String, Any] = {
    val values: Map[String, Double] = spans.flatMap { case (span, cs) =>
      cs.map(c => s"$span.$c" -> s.median(span, c).getOrElse(0.0))
    }.toMap ++ extras
    ListMap(declared.map { case (n, u) =>
      n -> ListMap("value" -> values.getOrElse(n, 0.0), "unit" -> u) }: _*)
  }
}
