package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Where and on what a run happened, stamped into every result file so
  * that a run on a loaded or slow-disk machine can be recognised later
  * (nothing here gates the run). */
object Provenance {

  /** The 1-, 5- and 15-minute load averages, when the OS exposes them. */
  def loadavg(): Seq[Double] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.trim.split("\\s+").take(3).map(_.toDouble).toSeq
    } catch { case _: Exception => Seq.empty }

  /** Aggregate CPU jiffies (all, steal) from /proc/stat, when present. */
  def cpuTimes(): Option[(Long, Long)] =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** A fixed write probe: 32 blocks of 64 KiB, each followed by an
    * fdatasync (`FileChannel.force(false)`). Returns the median sync
    * latency in ms and the probe's overall MB/s. */
  def fsyncProbe(path: String): Map[String, Double] = {
    val p = java.nio.file.Paths.get(path)
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    val block = java.nio.ByteBuffer.allocate(64 * 1024)
    val syncMs = new Array[Double](32)
    val t0 = System.nanoTime()
    try {
      for (i <- syncMs.indices) {
        block.clear()
        ch.write(block)
        val s0 = System.nanoTime()
        ch.force(false)
        syncMs(i) = (System.nanoTime() - s0) / 1e6
      }
    } finally ch.close()
    val secs = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.deleteIfExists(p)
    Map("fdatasync_p50_ms" -> Stats.median(syncMs.toSeq),
      "write_mb_per_s" -> 32 * 64 / 1024.0 / secs)
  }

  /** Heap still in use after full collections, in MiB. Spark releases
    * unreferenced broadcasts, shuffles and cached blocks from a cleaner
    * thread once a collection has found them unreachable, so the
    * collections repeat with pauses until the figure stops falling. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var last = used()
    var next = last
    var rounds = 0
    do {
      last = next
      Thread.sleep(200)
      next = used()
      rounds += 1
    } while (next < last && rounds < 10)
    next / (1024.0 * 1024.0)
  }

  /** HEAD of the git checkout in the working directory, if there is one. */
  def gitSha(): String =
    try {
      def read(f: String) = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f)), "UTF-8").trim
      val head = read(".git/HEAD")
      if (!head.startsWith("ref: ")) head
      else {
        val ref = head.drop(5)
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(s".git/$ref")))
          read(s".git/$ref")
        else read(".git/packed-refs").split("\n")
          .find(_.endsWith(s" $ref")).map(_.split(" ")(0)).getOrElse("unknown")
      }
    } catch { case _: Exception => "none" }

  def stamp(spark: SparkSession, nproc: Int, load0: Seq[Double],
            load1: Seq[Double], cpu0: Option[(Long, Long)],
            fsync: Map[String, Double]) = {
    import scala.jdk.CollectionConverters._
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
    ListMap(
      "git_sha" -> gitSha(),
      "source_digest" -> sys.props.getOrElse("perfbench.source_digest", "unknown"),
      "nproc" -> nproc,
      "spark_version" -> spark.version,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "xmx" -> args.find(_.startsWith("-Xmx")).getOrElse("default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "loadavg_before" -> load0,
      "loadavg_after" -> load1,
      // share of CPU time the hypervisor gave to other guests during
      // the run: high values mark a contended host
      "cpu_steal_share" -> (for ((all0, st0) <- cpu0; (all1, st1) <- cpuTimes())
        yield (st1 - st0).toDouble / math.max(1L, all1 - all0)),
      "fsync_probe" -> ListMap(fsync.toSeq.sortBy(_._1): _*))
  }
}
