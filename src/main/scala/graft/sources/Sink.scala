package graft.sources

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Par

/** Hadoop `Configuration` is not `java.io.Serializable`; the task arm
  * of the snapshot/restore fan-out ships it to executors through the
  * standard Writable round-trip (`write`/`readFields` inside Java
  * serialization hooks) — the same construction Spark uses internally
  * for its own (non-public) serializable-configuration wrapper. */
private[sources] class SerializableHadoopConf(
    @transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Ingestion-side surface of the reference (SURVEY.md §2.1):
  *
  *  - S4/S5 index DDL: create-with-schema, existence check, conditional
  *    drop (`src/main.py:12-35`) → Spark catalog operations;
  *  - S6 bulk batch sink with per-document ids (`src/main.py:137-150`)
  *    → id-hash-partitioned parquet write with bounded file sizes (the
  *    3-shard/_id-routing analog: `repartition(n, id)` =
  *    `hash(_id) % n`);
  *  - S7 sink ack/error check (`src/main.py:147-148`) → row-count
  *    assertion after write;
  *  - S2 server-side cursor scan (`src/main.py:41,133`) →
  *    `toLocalIterator` (one partition in flight, the driver never
  *    materializes the full result);
  *  - A5 ingest counters (`src/main.py:128-156`) → `LongAccumulator`
  *    filled executor-side during the write.
  */
object Sink {

  /** S4: register a table over a parquet path with an explicit schema
    * (the `indices.create(settings, mappings)` analog). */
  def createTable(spark: SparkSession, name: String, path: String): Unit =
    spark.catalog.createTable(name, path, "parquet")

  /** S5: existence check + conditional drop. Returns true if dropped. */
  def dropIfExists(spark: SparkSession, name: String): Boolean =
    if (spark.catalog.tableExists(name)) {
      spark.sql(s"DROP TABLE `$name`")
      true
    } else false

  /** S6+S7+A5: bulk write with id routing, batch sizing, and an ack
    * check. `shards` mirrors the reference's 3 primary shards;
    * `batchSize` mirrors its 200-doc bulk batches
    * (`src/main.py:109,139`). Returns rows written (asserted ==
    * rows read, the bulk-response error check).
    *
    * The in-flight row count rides on `df.observe` — a plan-transparent
    * metric collection — NOT a `mapPartitions` counter, which would
    * insert a row-encode boundary and break whole-stage codegen /
    * columnar transfer for the entire write.
    *
    * The ack compares that in-flight count against the COMMITTED file
    * metadata: parquet footer record counts summed over the written
    * files — metadata-only, no second scan of the data (a readback
    * `count()` would re-read the whole output, a non-starter for a
    * 100 TB ingest). */
  def bulkWrite(spark: SparkSession, df: DataFrame, idCol: String,
                outPath: String, shards: Int = 3,
                batchSize: Int = 200000): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows_written"))
      .repartition(shards, col(idCol)) // hash(_id) % shards routing
      .write.option("maxRecordsPerFile", batchSize.toLong)
      .mode("overwrite").parquet(outPath)
    val written = obs.get("rows_written").asInstanceOf[Long]
    val committed = committedRowCount(spark, outPath)
    require(written == committed,
      s"bulk ack mismatch: wrote $written, committed footers say $committed")
    written
  }

  /** Sum of parquet footer record counts under `path` — the
    * write-committed row total, read from file METADATA only. Footers
    * are opened [[Par.Width]] at a time through [[Par.map]] on the
    * driver (metadata reads never become a Spark job): a large write
    * commits thousands of part files, and one serial remote open each
    * would make the ack itself minutes of driver latency on object
    * storage. An unreadable footer fails the ack, and the footers
    * still queued behind it are never opened. */
  def committedRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val files = p.getFileSystem(conf).listStatus(p).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    Par.map(files) { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** ES `_reindex` with `conflicts: proceed` + `op_type: create`: copy
    * `source` (already carrying any script transform — the painless
    * `ctx._source` rewrite is a caller-side projection) into an
    * EXISTING destination, skipping every id the destination already
    * holds: the version-conflict → noop path, so seeded documents are
    * never overwritten. Returns the `_reindex` response counters
    * `(total, created, noops)`.
    *
    * Scale shape: the conflict screen is a left-ANTI equi-join against
    * the dest's id column alone (column pruning reaches the dest scan —
    * ids only, never documents); both sides shuffle on the id, the same
    * key the dest's shard routing already hashes, and survivors append
    * through [[bulkWrite]]'s id-routed sharding as NEW files — the
    * additive segment commit, existing dest files untouched. The dest
    * file listing is snapshotted when the id frame is created, before
    * any append lands, so the screen never reads its own output. Both
    * counters ride `observe` on the single write action — no extra
    * pass over either side.
    *
    * SINGLE-WRITER contract, ENFORCED: the conflict screen is a
    * point-in-time listing snapshot, so two CONCURRENT reindex calls
    * into the same destination could both pass the anti-join for the
    * same id and both append — ES resolves that per-doc via
    * `op_type=create` version conflicts, a per-document atomic this
    * file-level sink does not have. A `_WRITER` claim marker
    * ([[acquireWriter]] — the artifact families' `_CLAIM` discipline)
    * makes the second concurrent writer refuse loudly instead of
    * silently double-creating; a crashed writer's claim expires after
    * the grace. Sequential reindex calls — the replay/retry path —
    * are safe, the second run noops every id the first created. */
  def reindex(spark: SparkSession, source: DataFrame, idCol: String,
              destDir: String, shards: Int = 3): (Long, Long, Long) = {
    val dest = new Path(destDir)
    val dfs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = acquireWriter(dfs, dest)
    try {
      val destIds = spark.read.parquet(destDir).select(col(idCol))
      val obsTotal = org.apache.spark.sql.Observation()
      val obsNew = org.apache.spark.sql.Observation()
      claim.verifyHeld(dfs) // last check before the mutating append
      source.observe(obsTotal, count(lit(1)).as("total"))
        .join(destIds, Seq(idCol), "left_anti")
        .observe(obsNew, count(lit(1)).as("created"))
        .repartition(shards, col(idCol))
        .write.mode("append").parquet(destDir)
      val total = obsTotal.get("total").asInstanceOf[Long]
      val created = obsNew.get("created").asInstanceOf[Long]
      (total, created, total - created)
    } finally claim.release(dfs)
  }

  /** What one [[snapshot]] or [[restore]] did: the files in the
    * snapshot, the files whose bytes moved (a snapshot reuses the blobs
    * earlier snapshots hold; a restore copies every file), and whether
    * the copies ran as Spark tasks instead of on the driver pool. */
  final case class CopyResult(files: Long, copied: Long, distributed: Boolean)

  /** ES snapshot into an incremental multi-snapshot repository: segment
    * files are immutable once committed, so a file an earlier snapshot
    * already holds is never copied again (ES snapshots of a 100 TB
    * index copy only the new segments). A one-shot snapshot is the
    * first snapshot into an empty repository.
    *
    * The source is walked RECURSIVELY, so a gen-N artifact tree (a text
    * index's postings/dict/stats subdirectories, an ANN index's tables,
    * a dedup index) snapshots as one unit, as ES snapshots cover every
    * segment file of an index. Hidden and in-flight files
    * (`_temporary`, dotfiles) are skipped at every level like Spark's
    * own committed-file readers; lifecycle markers (`_DONE`,
    * `_SUCCESS`) are data and travel with the tree. Files stream
    * through the Hadoop FS API (the repository-plugin analog), hashed
    * while the bytes stream.
    *
    * Layout: `blobs/<relpath>/<md5>` holds one CONTENT VERSION per
    * (relpath, md5) — a same-path file whose bytes changed gets a NEW
    * blob instead of overwriting the one earlier snapshots reference —
    * and `snap-<id>/MANIFEST` lists (md5, length, relpath) per file,
    * written LAST (the `_DONE` discipline: a snapshot interrupted
    * mid-copy has no manifest and [[restore]] refuses it).
    *
    * Reuse identity is (relpath, length) against the union of prior
    * manifests — a CONVENTION-guarded check: committed parquet part
    * files carry unique names and artifact tables swap under new
    * directory names. A file mutated in place at identical length
    * would be snapshotted as its OLD bytes (and restore's md5 check
    * passes, since the manifest records the old md5). Trees that mutate
    * in place pass `verifyReuse = true`: the reuse branch re-hashes the
    * source (one streaming read, no copy) and falls through to a fresh
    * blob version on mismatch. Blob existence is planned from the
    * manifest union alone — no per-blob `exists` RPC (manifests are
    * written after their blobs).
    *
    * The per-file work (reuse, or copy to a dot-temp and rename to its
    * blob version) runs through [[fanOut]] on the arm
    * [[chooseDistributedCopy]] picks; the walk and the manifest stay on
    * the driver. After a failed copy the queued ones never run, and the
    * call throws only once the started ones (on the task arm, the
    * failed job's tasks) have ended: no blob is placed after the
    * `_WRITER` claim is released. SINGLE-WRITER per repository is ENFORCED
    * ([[acquireWriter]]): a second concurrent snapshotter refuses
    * loudly; a crashed writer's claim expires after the grace. */
  def snapshot(spark: SparkSession, srcDir: String, repoDir: String,
               snapId: String, verifyReuse: Boolean = false): CopyResult = {
    require(snapId.nonEmpty && !snapId.contains("/"),
      s"bad snapshot id: '$snapId'")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val repo = new Path(repoDir)
    val rfs = repo.getFileSystem(conf)
    val claim = acquireWriter(rfs, repo)
    try {
      ensureRepoFormat(rfs, repo)
      val mPath = new Path(repo, s"snap-$snapId/MANIFEST")
      require(!rfs.exists(mPath),
        s"snapshot '$snapId' already exists in $repoDir")
      // the union of prior manifests: relpath -> (md5, length)
      val known = priorManifests(rfs, repo).flatMap(readManifest(rfs, _))
        .map { case (md5, len, rel) => rel -> ((md5, len)) }.toMap
      val files = walkCommitted(src.getFileSystem(conf), src)
        .map { case (st, rel) =>
          (st.getPath.toString, st.getLen, rel,
            known.get(rel).collect { case (m, len) if len == st.getLen => m })
        }
      val dist = useTasks(spark, files.length, files.map(_._2).sum)
      val repoStr = repo.toString
      val placed = fanOut(spark, files, dist) {
        case (c, (abs, _, rel, prior)) =>
          val from = new Path(abs)
          val sfs = from.getFileSystem(c)
          val reused = prior.filter(m => !verifyReuse ||
            md5Copy(sfs, from, java.io.OutputStream.nullOutputStream()) == m)
          reused.map((_, false))
            .getOrElse((placeBlob(c, sfs, from, repoStr, rel), true))
      }
      claim.verifyHeld(rfs) // manifest is the commit — verify first
      val manifest = files.zip(placed)
        .map { case ((_, len, rel, _), (md5, _)) => s"$md5 $len $rel" }
      val out = rfs.create(mPath, true)
      try out.write((manifest.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      CopyResult(files.length, placed.count(_._2), dist)
    } finally claim.release(rfs)
  }

  /** ES restore of snapshot `snapId` into `destDir`. Manifest paths are
    * repo-relative, so an artifact TREE restores with its subdirectory
    * structure intact (Hadoop `create` makes parent directories). Every
    * byte is re-verified against the snapshot's own manifest md5 AS it
    * streams, so bit-rot, truncation, a wrong or missing blob version,
    * or a torn snapshot (no MANIFEST) refuses loudly instead of
    * restoring silently wrong data. (On a checksummed filesystem —
    * LocalFileSystem keeps `.crc` sidecars — the FS-level check may
    * refuse first; the manifest md5 is the backstop for filesystems
    * without one, e.g. object stores. What this does NOT catch: a
    * manifest that recorded a stale md5 because an in-place mutation
    * slipped past [[snapshot]]'s convention-guarded reuse.) The copies
    * run through [[fanOut]] like [[snapshot]]'s: after a failed copy
    * nothing writes into the destination once the call has thrown,
    * though the files copied before the failure stay. */
  def restore(spark: SparkSession, repoDir: String, snapId: String,
              destDir: String): CopyResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val repo = new Path(repoDir)
    val dest = new Path(destDir)
    val rfs = repo.getFileSystem(conf)
    val mPath = new Path(repo, s"snap-$snapId/MANIFEST")
    require(rfs.exists(mPath),
      s"snapshot '$snapId' in $repoDir has no MANIFEST — torn or absent")
    ensureRepoFormat(rfs, repo, write = false) // read-only caller
    val lines = readManifest(rfs, mPath)
    dest.getFileSystem(conf).mkdirs(dest)
    val dist = useTasks(spark, lines.length, lines.map(_._2).sum)
    val (repoStr, destStr) = (repo.toString, dest.toString)
    fanOut(spark, lines, dist) { case (c, (md5, len, rel)) =>
      val from = blobPath(repoStr, rel, md5)
      val ffs = from.getFileSystem(c)
      val to = new Path(destStr, rel)
      val got = md5Copy(ffs, from, to.getFileSystem(c).create(to, true))
      require(got == md5 && ffs.getFileStatus(from).getLen == len,
        s"checksum mismatch restoring $rel from snapshot '$snapId'")
    }
    CopyResult(lines.length, lines.length, dist)
  }

  /** Copy-arm selector for [[snapshot]] and [[restore]] — pure and
    * regime-testable. `bench_snapshot.json` measured both arms on one
    * box (1024 × 64 KB, min-of-3): the 16-thread driver pool wins
    * 7.98×/7.25× vs the task arm's 4.67×/2.73× — task scheduling +
    * result collection cost ~1 s that a single NIC's bytes never
    * amortize, so ON ONE HOST THE POOL ALWAYS WINS. The task arm exists
    * for the topology the pool cannot reach: multiple executor HOSTS,
    * where the pool serializes a 100 TB tree's bytes through one JVM's
    * NIC while executors copy host-parallel (ES copies segment files
    * shard-parallel from the data nodes that own them). So: distribute
    * iff the cluster spans >1 host AND the job is big enough to
    * amortize per-task overhead (either enough files to fan out, or
    * enough bytes that NIC bandwidth — not latency — dominates). */
  private[graft] def chooseDistributedCopy(executorHosts: Int, files: Long,
                                           totalBytes: Long): Boolean =
    executorHosts > 1 &&
      (files >= DistributedCopyMinFiles ||
        totalBytes >= DistributedCopyMinBytes)

  /** Fan-out floor: below ~4 files/host-class parallelism the
    * scheduling overhead measured in `bench_snapshot.json` (~1 s)
    * exceeds any copy win. */
  val DistributedCopyMinFiles = 64L
  /** Byte floor: a quarter-GiB crosses one NIC in under a second at
    * LAN rates — smaller trees never pay back a Spark job. */
  val DistributedCopyMinBytes: Long = 256L << 20

  /** Run every [[snapshot]] and [[restore]] inside `body` on the task
    * arm, the arm [[chooseDistributedCopy]] selects on a multi-host
    * cluster, so a single-host runtime (s22, SinkSpec) still covers
    * it. */
  private[graft] def onTaskArm[T](body: => T): T =
    taskArmForced.withValue(true)(body)

  private val taskArmForced = new scala.util.DynamicVariable(false)

  private def useTasks(spark: SparkSession, files: Long,
                       bytes: Long): Boolean =
    taskArmForced.value ||
      chooseDistributedCopy(executorHostCount(spark), files, bytes)

  /** Loopback identities (name and both address families) folded out
    * of the executor host count — local-mode block managers register
    * under these. Single-sourced so the spec pins the SAME set the
    * selector consults. */
  private[graft] val LoopbackHosts =
    Set("localhost", "127.0.0.1", "::1", "0:0:0:0:0:0:0:1")

  /** Distinct EXECUTOR hosts — the driver's own block manager is
    * excluded: with the driver on host A and every executor on host
    * B (client-mode topology), counting A would read "2 hosts" and
    * pick the distributed arm in exactly the single-executor-NIC
    * regime where the pool measured faster. An executor co-located
    * on the driver host is deliberately folded into the driver's
    * host (that NIC is the pool's anyway). Local mode → empty set →
    * 1. */
  private def executorHostCount(spark: SparkSession): Int = {
    val driverHost =
      canonicalHost(spark.sparkContext.getConf.get("spark.driver.host", ""))
    val loopback = LoopbackHosts
    // string-dedup BEFORE resolving: canonicalHost can block on DNS
    // (~5 s per unresolvable name), and per-EXECUTOR resolution would
    // pay that once per executor instead of once per distinct host on
    // exactly the many-executor clusters this selector serves
    val hosts = spark.sparkContext.getExecutorMemoryStatus.keysIterator
      .map(stripPort).toSet
      .map(canonicalHost) -- loopback - driverHost
    math.max(1, hosts.size)
  }

  /** Block-manager ids are `host:port` where host may be an IPv6
    * literal (`[::1]:34567` or bare-colon forms) — `split(":")(0)`
    * mangles those to `[` / the first hextet. The port is the LAST
    * colon-delimited field, but ONLY when the remainder is a
    * plausible single host (bracketed, or colon-free): a bare
    * PORTLESS IPv6 literal ending in a digit group (`2001:db8::1`,
    * `::1`) must keep its last group — stripping it would corrupt
    * the host identity. Brackets are transport framing either way. */
  private[graft] def stripPort(id: String): String = {
    val i = id.lastIndexOf(':')
    val suffix = if (i >= 0) id.substring(i + 1) else ""
    val prefix = if (i >= 0) id.substring(0, i) else id
    val hasPort = suffix.nonEmpty && suffix.forall(_.isDigit) &&
      (prefix.endsWith("]") || !prefix.contains(':'))
    val h = if (hasPort) prefix else id
    h.stripPrefix("[").stripSuffix("]")
  }

  /** One identity per box: `spark.driver.host` is routinely an IP
    * while executor block managers register hostnames — compared as
    * strings, the driver's own box reads as a second "host" and the
    * selector picks the distributed arm in exactly the single-NIC
    * regime it exists to avoid. Resolve both sides to an address;
    * unresolvable names (no DNS) degrade to the lowercased literal,
    * which preserves the old behavior for same-representation ids. */
  private[graft] def canonicalHost(h: String): String = {
    val t = h.trim
    if (t.isEmpty) t
    else try java.net.InetAddress.getByName(t).getHostAddress
    catch { case _: java.net.UnknownHostException => t.toLowerCase }
  }

  /** Repository FORMAT guard (the round-12 advisor's finding): format 2
    * stores one content VERSION per blob at `blobs/<rel>/<md5>`; the
    * pre-round-12 format 1 stored `blobs/<rel>` as a flat FILE.
    * Snapshotting format-2 entries into a format-1 repository would
    * reuse prior-manifest rows whose blobs resolve to paths that don't
    * exist under the new layout — the new snapshot "succeeds" but can
    * never restore, and placing a changed file's blob errors because
    * `blobs/<rel>` already exists as a file. A `_FORMAT` marker pins the
    * layout; a repo without one (round-12 repos wrote format-2 blobs
    * before the marker existed) is adjudicated from the SHAPE of one
    * referenced blob — `blobs/<rel>` is a directory in format 2 — so
    * legacy repositories refuse LOUDLY at snapshot time instead of
    * writing unrestorable manifests. `write = false` for read-only
    * callers (restore): they verify but never create the marker. */
  private def ensureRepoFormat(rfs: FileSystem, repo: Path,
                               write: Boolean = true): Unit = {
    val fPath = new Path(repo, "_FORMAT")
    if (rfs.exists(fPath)) {
      val v = contentAt(rfs, fPath)
      require(v == "2",
        s"$repo declares repository format '$v'; this writer speaks " +
          "format 2 (content-versioned blobs/<rel>/<md5>) — refusing " +
          "to mix layouts")
      return
    }
    // no marker: adopt (marker-less format-2 repo) or refuse (legacy
    // format 1), decided from one referenced blob's shape — a single
    // getFileStatus RPC on first contact, never per-blob
    priorManifests(rfs, repo).headOption
      .flatMap(readManifest(rfs, _).headOption)
      .foreach { case (_, _, rel) =>
        val p = new Path(repo, s"blobs/$rel")
        require(rfs.exists(p) && rfs.getFileStatus(p).isDirectory,
          s"$repo is a LEGACY (format-1) snapshot repository — " +
            "blobs/<relpath> is a flat file, but this writer stores " +
            "content-versioned blobs/<relpath>/<md5>. Refusing: a " +
            "mixed-layout snapshot would reuse manifest entries whose " +
            "blobs don't exist under the new layout and could never " +
            "restore. Migrate each legacy blob to " +
            "blobs/<rel>/<its manifest md5>, or snapshot into a fresh " +
            "repository.")
      }
    if (write) {
      val out = rfs.create(fPath, true)
      try out.write("2\n".getBytes("UTF-8")) finally out.close()
    }
  }

  /** One blob VERSION per (relpath, content): `blobs/<rel>/<md5>`.
    * rel-scoped (not a flat content-addressed store) so every
    * manifest row maps to exactly one blob; a source path can never be
    * both a file and a directory, so rel-as-directory is
    * collision-free. */
  private def blobPath(repo: String, rel: String, md5: String): Path =
    new Path(repo, s"blobs/$rel/$md5")

  /** Copy `from` into a fresh blob version of `rel`, returning its md5.
    * Content isn't known until hashed: stream to a dot-temp INSIDE the
    * version directory (create() makes the parent, so no separate
    * mkdirs RPC) and rename within the directory — the cheapest atomic
    * publish. A failed rename means the same bytes are already
    * versioned (or a concurrent writer raced, which the _WRITER claim
    * excludes): verify and drop the temp. */
  private def placeBlob(c: Configuration, sfs: FileSystem, from: Path,
                        repo: String, rel: String): String = {
    val tmp = new Path(repo, s"blobs/$rel/.tmp-${java.util.UUID.randomUUID()}")
    val rfs = tmp.getFileSystem(c)
    val md5 = md5Copy(sfs, from, rfs.create(tmp, true))
    val target = blobPath(repo, rel, md5)
    if (!rfs.rename(tmp, target)) {
      require(rfs.exists(target), s"could not place blob for $rel")
      rfs.delete(tmp, false)
    }
    md5
  }

  /** Recursive committed-file walk of [[snapshot]]: hidden and
    * in-flight entries (`_temporary`, dotfiles) skipped at every level
    * like Spark's committed-file readers; lifecycle markers (`_DONE`,
    * `_SUCCESS`) are data and travel. Sorted by relpath for
    * deterministic manifests. */
  private def walkCommitted(sfs: FileSystem,
                            src: Path): Seq[(FileStatus, String)] = {
    def walk(dir: Path, prefix: String): Seq[(FileStatus, String)] =
      sfs.listStatus(dir).toSeq
        .filterNot { st =>
          val n = st.getPath.getName
          n.startsWith(".") || n.startsWith("_temporary") || n == "_WRITER"
        }
        .flatMap { st =>
          if (st.isDirectory) walk(st.getPath, prefix + st.getPath.getName + "/")
          else Seq((st, prefix + st.getPath.getName))
        }
    walk(src, "").sortBy(_._2)
  }

  /** Run the per-file work `f` over `items` through [[Par]], results
    * in input order: on Par's driver pool, or as ONE Spark job whose
    * `collect` runs inside Par (tagged, cancelled with its caller,
    * drained on failure), one task per item slice, executors opening
    * files through a broadcast Hadoop configuration and only `f`'s
    * small results coming back. The RDD is deliberate: this is
    * per-file imperative IO, not relational work. */
  private def fanOut[A: ClassTag, B: ClassTag](spark: SparkSession,
      items: Seq[A], distributed: Boolean)(f: (Configuration, A) => B): Seq[B] =
    if (items.isEmpty) Seq.empty
    else if (distributed) {
      val sc = spark.sparkContext
      val bc = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
      val rdd = sc.parallelize(items, math.min(items.length, sc.defaultParallelism * 2))
        .map(a => f(bc.value.value, a))
      Par.map(Seq(rdd))(_.collect().toSeq).head
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      Par.map(items)(f(conf, _))
    }

  /** SINGLE-WRITER enforcement for a mutating directory (snapshot
    * repository, [[reindex]] destination) — the artifact families'
    * `_CLAIM` discipline ([[graft.operators.ArtifactGen.claimNextGen]])
    * applied to a shared dir: atomically create a `_WRITER` marker
    * (create with overwrite=false is the cross-process atomic); a
    * second writer finding a FRESH marker refuses loudly instead of
    * interleaving writes; a crashed writer's stale marker is reclaimed
    * after `graceMs` — freshness takes max(written timestamp, file
    * mtime), the ArtifactGen clock-skew rule (any one clock running
    * ahead keeps the claim looking held, the safe direction).
    *
    * Two races the round-12 advisor found are closed here:
    * (1) stale-claim reclamation goes through RENAME to a unique
    * tombstone name, never delete — rename is the atomic on both HDFS
    * and local, so of two waiters observing the same stale marker
    * exactly ONE wins the rename (the loser's rename returns false and
    * it re-contends against the winner's fresh marker), where the old
    * `fs.delete` could remove the FIRST waiter's freshly created
    * marker and let both proceed as writers; (2) `create(overwrite =
    * false)` is not atomic on RawLocalFileSystem, so ownership is
    * RE-VERIFIED by reading back a writer-unique token after the
    * create — a raced writer whose token is not in the marker lost
    * and refuses.
    *
    * A third race (round-13 review): between a waiter's staleness
    * READ and its reclaim RENAME, another waiter can complete the
    * whole reclaim-and-reclaim cycle, so the rename grabs a FRESH
    * marker — rename is atomic but renames whatever is at the path.
    * Closed in depth: (a) after winning the rename the waiter
    * re-reads the TOMBSTONE and, unless its content is byte-equal to
    * the stale line it judged, renames it straight back (it stole a
    * live claim) and re-contends; (b) because (a)'s rename-back can
    * itself lose to a third claimant in the gap, every mutating path
    * calls [[WriterClaim.verifyHeld]] immediately before its COMMIT
    * (the manifest write / destructive delete / sink append) — a
    * writer whose token is no longer in the marker aborts before
    * committing, and the torn-write discipline (manifest LAST,
    * content-versioned blobs) makes the abort clean. */
  private[graft] final case class WriterClaim(
      marker: Path, token: String) {
    /** Refuse to commit unless OUR token is still in the marker —
      * the displaced-owner backstop for the reclaim races above. */
    def verifyHeld(fs: FileSystem): Unit =
      if (!contentAt(fs, marker).endsWith(token))
        throw new IllegalStateException(
          s"writer claim for ${marker.getParent} was lost before commit " +
            "(marker no longer holds this writer's token) — another " +
            "writer reclaimed it; aborting without committing")
    def release(fs: FileSystem): Unit = {
      // delete only OUR claim: releasing after a displacement must
      // not remove the new owner's marker
      if (contentAt(fs, marker).endsWith(token)) fs.delete(marker, false)
      ()
    }
  }

  /** First line of a claim/tombstone file, "" when unreadable. */
  private def contentAt(fs: FileSystem,
                        p: Path): String =
    try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().next().trim
      finally in.close()
    } catch { case _: Exception => "" }

  private[graft] def acquireWriter(fs: FileSystem,
                                   dir: Path,
                                   graceMs: Long = 15 * 60 * 1000L)
      : WriterClaim = {
    fs.mkdirs(dir)
    val marker = new Path(dir, "_WRITER")
    val token = java.util.UUID.randomUUID().toString
    var attempt = 0
    while (attempt < 3) {
      try {
        val out = fs.create(marker, false)
        try out.write(s"${System.currentTimeMillis()} $token\n"
          .getBytes("UTF-8"))
        finally out.close()
        // create(overwrite=false) is not atomic on RawLocalFileSystem:
        // re-verify ownership by reading back the writer-unique token
        if (contentAt(fs, marker).endsWith(token))
          return WriterClaim(marker, token)
        throw new IllegalStateException(
          s"lost the writer race for $dir — another writer's token is " +
            "in the claim marker; single-writer enforced")
      } catch {
        case _: java.io.IOException if fs.exists(marker) =>
          val obs = contentAt(fs, marker) // the line we JUDGE stale
          val st = fs.getFileStatus(marker)
          val written =
            try obs.split(" ").head.toLong
            catch { case _: Exception => 0L }
          val fresh = math.max(written, st.getModificationTime)
          if (System.currentTimeMillis() - fresh < graceMs)
            throw new IllegalStateException(
              s"another writer holds $dir (claim age " +
                s"${System.currentTimeMillis() - fresh} ms < grace $graceMs" +
                " ms) — single-writer enforced; retry after it finishes" +
                " or its claim expires")
          // crashed writer: reclaim by ATOMIC RENAME to a unique
          // tombstone — exactly one of N waiters wins; losers loop and
          // contend against the winner's fresh marker
          val tomb = new Path(dir,
            s".writer-stale-${java.util.UUID.randomUUID()}")
          if (fs.rename(marker, tomb)) {
            // the marker may have been REPLACED since `obs` was read
            // (a faster waiter completed reclaim + re-claim): unless
            // the tombstone holds exactly the stale line judged
            // above, a LIVE claim was stolen — put it back and
            // re-contend. (If the rename-back loses to a third
            // claimant, the displaced owner's pre-commit verifyHeld
            // refuses — defense in depth, not a silent repair.)
            if (contentAt(fs, tomb) == obs) fs.delete(tomb, false)
            else if (!fs.rename(tomb, marker)) fs.delete(tomb, false)
          }
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"could not claim writer marker in $dir after 3 attempts")
  }

  /** Stream `from` into `out` (closed after), returning the md5 of the
    * bytes read — one read per file, hashed while the bytes stream;
    * `OutputStream.nullOutputStream()` only hashes. */
  private def md5Copy(sfs: FileSystem, from: Path,
                      out: => java.io.OutputStream): String = {
    val dig = java.security.MessageDigest.getInstance("MD5")
    val in = new java.security.DigestInputStream(sfs.open(from), dig)
    try {
      val o = out
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) o.write(buf, 0, n)
          n = in.read(buf)
        }
      } finally o.close()
    } finally in.close()
    dig.digest().map("%02x".format(_)).mkString
  }

  private def priorManifests(rfs: FileSystem, repo: Path): Seq[Path] =
    if (!rfs.exists(repo)) Seq.empty
    else rfs.listStatus(repo).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap-"))
      .map(st => new Path(st.getPath, "MANIFEST"))
      .filter(rfs.exists(_))

  private def readManifest(rfs: FileSystem,
                           mPath: Path): Seq[(String, Long, String)] = {
    val in = rfs.open(mPath)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val Array(md5, len, rel) = line.split(" ", 3)
        (md5, len.toLong, rel)
      }.toList
    finally in.close()
  }

  /** Date-partitioned write: directory-partition the output on a
    * derived key so time-bounded queries read only matching partitions
    * (plan shows `PartitionFilters`, verified in PartitionSpec). The
    * 100 TB layout: partition by coarse time, bucket by id within. */
  def partitionedWrite(df: DataFrame, partCol: String, outPath: String): Unit =
    df.write.partitionBy(partCol).mode("overwrite").parquet(outPath)

  /** Small-file compaction — the maintenance pass every long-running
    * ingest needs: streaming sinks and per-batch writes leave thousands
    * of KB-sized files whose per-file open/footer cost eventually
    * dominates scans. Rewrite the directory into ⌈rows/target⌉
    * near-equal files: one round-robin shuffle (repartition(n) without
    * keys — no skew possible by construction), written to a tmp
    * directory beside the table, then the table is deleted and the tmp
    * directory renamed into its place. The replace is NOT atomic: a
    * failure between the two leaves the rows only in the tmp
    * directory, and the error names it. Returns (filesBefore,
    * filesAfter).
    * At 100 TB this runs per partition-directory, not per table, so
    * the shuffle is bounded by a partition's size. */
  def compact(spark: SparkSession, path: String, targetRows: Long): (Int, Int) = {
    val before = spark.read.parquet(path)
    val nFiles = before.inputFiles.length
    val rows = before.count()
    val want = math.max(1, math.ceil(rows.toDouble / targetRows).toInt)
    val tmp = path.stripSuffix("/") + ".compact-tmp"
    before.repartition(want).write.mode("overwrite").parquet(tmp)
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.delete(dst, true) || !fs.rename(new Path(tmp), dst))
      throw new java.io.IOException(s"compaction could not replace $path " +
        s"(delete or rename failed); the compacted rows are in $tmp")
    (nFiles, spark.read.parquet(path).inputFiles.length)
  }

  /** S2: streamed fetch — pull results through a server-side-cursor
    * analog; only one partition is resident at the driver at a time. */
  def streamedFetch(df: DataFrame)(f: org.apache.spark.sql.Row => Unit): Long = {
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) { f(it.next()); n += 1 }
    n
  }

  /** S3: keyset-paginated chunk — the reference's pagination contract
    * (`WHERE id > last ORDER BY id LIMIT n`, `src/main.py:98-100`). */
  def keysetChunk(df: DataFrame, idCol: String, lastId: Long,
                  limit: Int): DataFrame =
    df.filter(col(idCol) > lastId).orderBy(col(idCol)).limit(limit)

  // ---- S14: alias swap — zero-downtime reindex ----------------------
  //
  // The ES `_aliases` atomic-swap lifecycle (reindex to a fresh
  // versioned index, flip the read alias in one atomic action, keep
  // the old version for rollback) re-expressed as versioned parquet
  // directories plus a one-file pointer: readers resolve the alias
  // through the pointer, the swap is a write-to-tmp + ATOMIC_MOVE of
  // the pointer file (a one-inode rename — the only step that needs
  // atomicity, and the filesystem gives it), and no data files are
  // ever rewritten in place. A reader that resolved the alias
  // mid-swap sees wholly v1 or wholly v2, never a mix — the same
  // guarantee the ES alias API documents.

  /** ES ILM ROLLOVER: the write alias names the newest index
    * generation; every ingested batch appends to the current write
    * index, and once that index reaches `maxDocs` the alias rolls to
    * a fresh generation — subsequent batches land there (ES checks
    * rollover conditions after the write, exactly this loop). Old
    * generations become immutable read indices (query them all
    * through a union / wildcard read), which is how ES bounds both
    * index size and the blast radius of retention deletes: dropping
    * expired data is `DROP` of a whole generation, never a
    * delete-by-query against a monolith. Batches append as parquet
    * files — O(batch) per ingest, nothing rewritten.
    *
    * Returns one row per generation: (index_name, n_docs,
    * is_write_index) — including a trailing EMPTY write index when
    * the last batch itself triggered the roll. Requires ≥ 1 batch:
    * with nothing ever written there is no index to alias, and a
    * pointer to a nonexistent v1 is exactly the dangling-alias state
    * this method exists to prevent. */
  def rollover(spark: SparkSession, baseDir: String,
               batches: Seq[DataFrame], maxDocs: Long): DataFrame = {
    require(batches.nonEmpty, "rollover needs at least one batch")
    var cur = 1
    val counts = scala.collection.mutable.LinkedHashMap(1 -> 0L)
    var aliasLive = false
    batches.foreach { b =>
      // the batch count rides the SAME pass that writes it (observe's
      // accumulator fires on the written rows): one computation per
      // batch, and the tally can never diverge from what landed on
      // disk even for a nondeterministic source — the round-8 advisor
      // finding on the count()-then-write double-compute
      val obs = org.apache.spark.sql.Observation()
      b.observe(obs, count(lit(1)).as("n"))
        .write.mode("append").parquet(s"$baseDir/v$cur")
      val n = obs.get("n").asInstanceOf[Long]
      // the alias NEVER points at a directory that doesn't exist yet:
      // it goes live only after the first write lands (the s14
      // write-then-flip discipline) ...
      if (!aliasLive) { aliasSwap(baseDir, cur); aliasLive = true }
      counts(cur) = counts(cur) + n
      if (counts(cur) >= maxDocs) {
        cur += 1
        counts(cur) = 0L
        // ... and a roll CREATES the new write index before flipping,
        // exactly as ES's rollover API does — an empty schema-carrying
        // segment, so a reader through the alias between the roll and
        // the next batch sees an empty index, never a dangling path
        b.limit(0).write.mode("append").parquet(s"$baseDir/v$cur")
        aliasSwap(baseDir, cur)
      }
    }
    import spark.implicits._
    counts.toSeq.map { case (v, n) => (s"v$v", n, v == cur) }
      .toDF("index_name", "n_docs", "is_write_index")
  }

  /** Write `df` as version `v` of alias `baseDir` (does NOT flip). */
  def aliasWriteVersion(df: DataFrame, baseDir: String, v: Int): Unit =
    df.write.mode("overwrite").parquet(s"$baseDir/v$v")

  /** The alias-pointer family (swap/read/gc) is a LOCAL-path design:
    * the pointer's atomicity comes from `java.nio` ATOMIC_MOVE, which
    * a scheme-qualified URI silently breaks (`Paths.get("file:/x")`
    * is a cwd-RELATIVE path — the pointer would land under
    * `./file:/x/_alias` while Hadoop-FS readers probe the real
    * location). Reject the mismatch loudly instead of diverging.
    * Only an actual URI-scheme PREFIX (`scheme:` at the path start,
    * per RFC 3986) is rejected — a colon later in the path (e.g. an
    * ISO-timestamped run directory `/runs/2026-08-14T10:30/idx`) is
    * a legal local path segment, not a scheme. A RELATIVE first
    * segment containing a colon is indistinguishable from a scheme;
    * disambiguate with a `./` prefix or an absolute path. */
  private def requireLocalAliasPath(baseDir: String): Unit =
    require(!baseDir.matches("^[A-Za-z][A-Za-z0-9+.-]*:.*"),
      s"alias pointers are java.nio-local by design; got the " +
        s"scheme-qualified '$baseDir' — pass a plain local path " +
        "(an object-store deployment swaps aliases via its own " +
        "atomic-pointer primitive)")

  /** Atomically point the alias at version `v`. The staging file is
    * unique per call (not a fixed `.tmp` name) so two concurrent
    * swappers cannot overwrite each other's staged pointer — each
    * ATOMIC_MOVE installs exactly the version its caller wrote, and
    * last-mover wins, which is the ES `_aliases` guarantee. */
  def aliasSwap(baseDir: String, v: Int): Unit = {
    requireLocalAliasPath(baseDir)
    val dir = java.nio.file.Paths.get(baseDir)
    java.nio.file.Files.createDirectories(dir)
    val tmp = java.nio.file.Files.createTempFile(dir, "_alias", ".tmp")
    java.nio.file.Files.write(tmp, s"v$v".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve("_alias"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve the alias: the version the pointer names right now. */
  def aliasVersion(baseDir: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(baseDir, "_alias")), "UTF-8")

  /** Read through the alias. */
  def aliasRead(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/${aliasVersion(baseDir)}")

  /** Keep-last-K sweep over an alias/rollover family's `v*` dirs —
    * the retention step of the ES ILM lifecycle (`delete` phase):
    * generations strictly older than the alias target are dropped
    * whole (never a delete-by-query against a monolith), retaining
    * the live version, `keepLast - 1` of its newest predecessors as
    * the rollback window, and every version NEWER than live (a
    * reindex in flight toward a future swap is never swept). With no
    * readable `_alias` nothing is deleted. Listing, probing and
    * deleting go through the Hadoop `FileSystem` derived from
    * `baseDir` — the same-FS discipline the advisor flagged for the
    * deletes-dir probes (the alias pointer's CONTENT is still read by
    * the nio-based [[aliasVersion]], the pointer family's documented
    * local-atomic-rename design). Returns the deleted version
    * names. */
  def gcVersions(spark: SparkSession, baseDir: String,
                 keepLast: Int = 2): Seq[String] = {
    require(keepLast >= 1, "keepLast must retain at least the live version")
    // the filesystem DERIVED FROM THE PATH, not fs.defaultFS — with a
    // default of hdfs:// and a file:/ baseDir (or vice versa), the
    // default-FS resolution would list/delete same-named directories
    // on the wrong filesystem (the round-9 review finding); the alias
    // pointer is probed through the same fs
    requireLocalAliasPath(baseDir)
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(base, "_alias")))
      return Seq.empty
    val liveOpt = aliasVersion(baseDir).trim.stripPrefix("v").toIntOption
    liveOpt match {
      case None => Seq.empty
      case Some(live) =>
        if (!fs.exists(base)) return Seq.empty
        val versions = fs.listStatus(base).toSeq
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .collect { case s if s.startsWith("v") =>
            s.stripPrefix("v").toIntOption
          }
          .flatten
        versions.filter(_ < live).sorted(Ordering[Int].reverse)
          .drop(keepLast - 1)
          .map { v =>
            fs.delete(new Path(base, s"v$v"), true)
            s"v$v"
          }
    }
  }
}
