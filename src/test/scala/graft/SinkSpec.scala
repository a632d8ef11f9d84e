package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.sources.Sink

/** Ingestion surface: DDL, bulk write with id routing + ack, streamed
  * fetch, keyset pagination (reference `src/main.py` lifecycle). */
class SinkSpec extends SparkSpec {

  private def filesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(filesUnder)
    else Seq(f)

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)

  /** A restore refused a corrupt blob: the manifest md5 check, or the
    * FS-level `.crc` check of a checksummed filesystem, fired — on the
    * task arm inside the failed job's cause chain. */
  private def refusedCorrupt(ex: Throwable): Boolean =
    chain(ex).exists(m => m != null &&
      (m.contains("checksum mismatch") || m.contains("Checksum")))

  test("bulk write routes by id hash into the configured shard count") {
    val tmp = Files.createTempDirectory("graft-sink").toString
    val orders = Tables.orders(spark, sf)
    val n = Sink.bulkWrite(spark, orders, "o_orderkey", tmp, shards = 3)
    assert(n == orders.count())
    val files = new java.io.File(tmp).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 3)
    // id-disjointness across shard files = hash routing worked
    val back = spark.read.parquet(tmp)
    assert(back.select("o_orderkey").distinct().count() == n)
  }

  test("create / exists / drop table DDL") {
    val tmp = Files.createTempDirectory("graft-ddl").toString
    Tables.region(spark, sf).write.mode("overwrite").parquet(tmp)
    Sink.dropIfExists(spark, "graft_region") // clean slate
    Sink.createTable(spark, "graft_region", tmp)
    assert(spark.catalog.tableExists("graft_region"))
    assert(spark.table("graft_region").count() == 5)
    assert(Sink.dropIfExists(spark, "graft_region"))
    assert(!Sink.dropIfExists(spark, "graft_region"))
  }

  test("streamed fetch sees every row exactly once") {
    var seen = 0L
    val n = Sink.streamedFetch(Tables.customer(spark, sf)) { _ => seen += 1 }
    assert(n == 150 && seen == 150)
  }

  test("keyset pagination chunks partition the id space") {
    val orders = Tables.orders(spark, sf)
    var last = -1L
    var total = 0L
    var rounds = 0
    while (rounds < 100) {
      val chunk = Sink.keysetChunk(orders, "o_orderkey", last, 400).collect()
      if (chunk.isEmpty) rounds = 100
      else {
        val ids = chunk.map(_.getLong(0))
        assert(ids.forall(_ > last))
        assert(ids.sorted.sameElements(ids))
        last = ids.max
        total += ids.length
        rounds += 1
      }
    }
    assert(total == orders.count())
  }

  test("snapshot/restore: checksummed round-trip; corrupt and torn repos refuse") {
    val src = Files.createTempDirectory("graft-snap-src").toString
    val repo = Files.createTempDirectory("graft-snap-repo").toString
    val dest = Files.createTempDirectory("graft-snap-dest").toString
    Sink.bulkWrite(spark, Tables.region(spark, sf), "r_regionkey", src)
    val n = Sink.snapshot(spark, src, repo, "1").files
    assert(n > 0)
    assert(Sink.restore(spark, repo, "1", dest).files == n)
    // the restored index answers identically
    assert(spark.read.parquet(dest).collect().map(_.toSeq).toSet ==
      spark.read.parquet(src).collect().map(_.toSeq).toSet)
    // one flipped byte in the repository → restore refuses loudly
    val victim = filesUnder(new java.io.File(s"$repo/blobs"))
      .filter(f => f.getPath.contains(".parquet") &&
        !f.getName.startsWith(".")).head
    val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    java.nio.file.Files.write(victim.toPath, bytes)
    val dest2 = Files.createTempDirectory("graft-snap-dest2").toString
    // on a checksummed FS (LocalFileSystem keeps .crc sidecars) the
    // FS-level verification may fire before the manifest md5 — either
    // way the restore refuses loudly
    val ex = intercept[Exception] { Sink.restore(spark, repo, "1", dest2) }
    assert(ex.isInstanceOf[IllegalArgumentException] ||
      ex.isInstanceOf[org.apache.hadoop.fs.ChecksumException],
      s"unexpected refusal type: ${ex.getClass}")
    // a torn repository (no MANIFEST) refuses
    val repo2 = Files.createTempDirectory("graft-snap-repo2").toString
    intercept[IllegalArgumentException] {
      Sink.restore(spark, repo2, "1", dest2)
    }
  }

  test("a failed copy skips the queued copies; it is rethrown once the started ones finished") {
    // 41 copies on a 16-wide pool: fail.bin (first in manifest order)
    // and the 15 held copies started beside it, 25 queued behind them.
    // fail.bin fails once the 15 are inside the filesystem, and they
    // fail too once it has, so every pool thread has recorded a failure
    // before it could take a queued copy. None of the queued copies may
    // open a file, and no copy may open one after the call threw: it
    // would write into the repository after the _WRITER claim's
    // release, or into the destination after restore threw.
    spark.sparkContext.hadoopConfiguration
      .set("fs.gated.impl", classOf[GatedFs].getName)
    val held = (0 until 40).map(i => f"held-$i%02d.bin")
    val started = held.take(15).toSet
    val src = Files.createTempDirectory("graft-await-src")
    ("fail.bin" +: held).foreach(n =>
      Files.write(src.resolve(n), n.getBytes("UTF-8")))
    val repo = Files.createTempDirectory("graft-await-repo")
    Sink.snapshot(spark, src.toString, repo.toString, "1")
    val inside = new java.util.concurrent.atomic.AtomicInteger
    val opensAfter = new java.util.concurrent.atomic.AtomicInteger
    val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var thrown = false
    def skipsQueued(call: => Any): Unit = {
      val entered = new CountDownLatch(started.size)
      val failed = new CountDownLatch(1)
      thrown = false
      opened.clear()
      GatedFs.onOpen = p => {
        if (thrown) opensAfter.incrementAndGet()
        if (p.toString.contains("fail.bin")) {
          entered.await()
          failed.countDown()
          throw new java.io.IOException("injected copy failure")
        } else held.find(p.toString.contains).foreach { n =>
          opened.add(n)
          inside.incrementAndGet()
          try { entered.countDown(); failed.await() }
          finally { inside.decrementAndGet(); () }
          throw new java.io.IOException(s"$n failed after fail.bin")
        }
      }
      val ex = intercept[java.io.IOException](call)
      thrown = true
      assert(ex.getMessage == "injected copy failure")
      assert(inside.get == 0,
        s"${inside.get} started copies were still running when the call threw")
      val queuedOpened = held.filter(n => opened.contains(n) && !started(n))
      assert(queuedOpened.isEmpty,
        s"queued copies ran after the failure: $queuedOpened")
      assert(opensAfter.get == 0, "a copy opened a file after the call threw")
      assert(ex.getSuppressed.length == started.size)
    }
    try {
      val repo2 = Files.createTempDirectory("graft-await-repo2")
      skipsQueued(Sink.snapshot(spark, s"gated:$src", repo2.toString, "1"))
      val dest = Files.createTempDirectory("graft-await-dest")
      skipsQueued(Sink.restore(spark, s"gated:$repo", "1", dest.toString))
    } finally GatedFs.onOpen = _ => ()
  }

  test("a failed task-arm copy is rethrown only after every other task ended") {
    // the same hazard on the task arm: the copies run as one Spark job.
    // The first file in manifest order fails once a held copy is inside
    // the filesystem; held copies block on a latch that only the
    // finally below releases, so the call can throw with none of them
    // inside only by interrupting them and awaiting their tasks.
    spark.sparkContext.hadoopConfiguration
      .set("fs.gated.impl", classOf[GatedFs].getName)
    val held = (0 until 40).map(i => f"held-$i%02d.bin")
    val src = Files.createTempDirectory("graft-taskarm-src")
    ("fail.bin" +: held).foreach(n =>
      Files.write(src.resolve(n), n.getBytes("UTF-8")))
    val repo = Files.createTempDirectory("graft-taskarm-repo")
    Sink.snapshot(spark, src.toString, repo.toString, "1")
    val release = new CountDownLatch(1)
    val inside = new java.util.concurrent.atomic.AtomicInteger
    val opensAfter = new java.util.concurrent.atomic.AtomicInteger
    @volatile var thrown = false
    def throwsWithNoneInside(call: => Any): Unit = {
      val entered = new CountDownLatch(1)
      thrown = false
      GatedFs.onOpen = p => {
        if (thrown) opensAfter.incrementAndGet()
        if (p.toString.contains("fail.bin")) {
          entered.await()
          throw new java.io.IOException("injected copy failure")
        } else if (p.toString.contains("held-")) {
          inside.incrementAndGet()
          try { entered.countDown(); release.await() }
          finally { inside.decrementAndGet(); () }
        }
      }
      val ex = intercept[Exception](Sink.onTaskArm(call))
      thrown = true
      assert(chain(ex).exists(m => m != null && m.contains("injected copy failure")))
      assert(inside.get == 0,
        s"${inside.get} held copies were still inside the filesystem when the call threw")
      assert(opensAfter.get == 0, "a copy opened a file after the call threw")
    }
    try {
      val repo2 = Files.createTempDirectory("graft-taskarm-repo2")
      throwsWithNoneInside(
        Sink.snapshot(spark, s"gated:$src", repo2.toString, "1"))
      val dest = Files.createTempDirectory("graft-taskarm-dest")
      throwsWithNoneInside(
        Sink.restore(spark, s"gated:$repo", "1", dest.toString))
    } finally {
      release.countDown()
      GatedFs.onOpen = _ => ()
    }
  }

  test("snapshot/restore walks artifact TREES: subdirs round-trip, markers travel, hidden skipped, torn refused") {
    val src = Files.createTempDirectory("graft-tree-src")
    // a gen-like artifact tree: two parquet tables in subdirectories
    // plus the lifecycle marker — the shape TextIndex/AnnIndex/
    // DedupIndex generations actually have
    Tables.region(spark, sf).write.parquet(src.resolve("postings").toString)
    Tables.nation(spark, sf).write.parquet(src.resolve("dict").toString)
    Files.write(src.resolve("_DONE"), "ok\n".getBytes("UTF-8"))
    Files.write(src.resolve(".hidden"), "skip".getBytes("UTF-8"))
    val repo = Files.createTempDirectory("graft-tree-repo").toString
    val dest = Files.createTempDirectory("graft-tree-dest").toString
    val n = Sink.snapshot(spark, src.toString, repo, "1").files
    assert(n > 2, s"tree snapshot should carry files from both subdirs, got $n")
    assert(Sink.restore(spark, repo, "1", dest).files == n)
    // subdirectory tables answer identically from the restore
    assert(spark.read.parquet(s"$dest/postings").collect().map(_.toSeq).toSet ==
      spark.read.parquet(src.resolve("postings").toString)
        .collect().map(_.toSeq).toSet)
    assert(spark.read.parquet(s"$dest/dict").count() ==
      Tables.nation(spark, sf).count())
    // lifecycle markers travel (the restored gen must resolve as
    // COMPLETE); hidden files do not
    assert(new java.io.File(s"$dest/_DONE").exists())
    assert(!new java.io.File(s"$dest/.hidden").exists())
    assert(!new java.io.File(s"$repo/blobs/.hidden").exists())
    // a torn tree repository (manifest deleted mid-snapshot) refuses
    Files.delete(java.nio.file.Paths.get(repo, "snap-1", "MANIFEST"))
    intercept[IllegalArgumentException] {
      Sink.restore(spark, repo, "1",
        Files.createTempDirectory("gtd2").toString)
    }
  }

  test("incremental snapshots: second snapshot copies only the delta; both restore") {
    for (tasks <- Seq(false, true)) {
      def onArm[T](body: => T): T = if (tasks) Sink.onTaskArm(body) else body
      val src = Files.createTempDirectory("graft-inc-src").toString
      val repo = Files.createTempDirectory("graft-inc-repo").toString
      Tables.region(spark, sf).write.parquet(s"$src/a")
      val first = onArm(Sink.snapshot(spark, src, repo, "1"))
      val t1 = first.files
      assert(t1 > 0 && first.copied == t1, "first snapshot copies everything")
      assert(first.distributed == tasks)
      // append a NEW table dir (immutable files: the old ones untouched)
      Tables.nation(spark, sf).write.parquet(s"$src/b")
      val second = onArm(Sink.snapshot(spark, src, repo, "2"))
      val (t2, c2) = (second.files, second.copied)
      assert(t2 > t1 && c2 == t2 - t1,
        s"second snapshot must copy only the new files: copied $c2 of $t2 (prior $t1)")
      // duplicate snapshot ids refuse
      intercept[IllegalArgumentException] {
        onArm(Sink.snapshot(spark, src, repo, "2"))
      }
      // both snapshots restore independently and answer correctly
      val d1 = Files.createTempDirectory("graft-inc-d1").toString
      val d2 = Files.createTempDirectory("graft-inc-d2").toString
      assert(onArm(Sink.restore(spark, repo, "1", d1)).files == t1)
      assert(onArm(Sink.restore(spark, repo, "2", d2)).files == t2)
      assert(spark.read.parquet(s"$d1/a").count() == 5)
      assert(spark.read.parquet(s"$d2/a").count() == 5)
      assert(spark.read.parquet(s"$d2/b").count() == 25)
      assert(!new java.io.File(s"$d1/b").exists(),
        "snapshot 1 must not restore files from snapshot 2")
      // the reuse-safety backstop: a corrupt SHARED blob refuses at
      // restore (every byte re-verified against the snapshot's own
      // manifest md5 — blob reuse can never serve wrong content silently)
      val victim = filesUnder(new java.io.File(s"$repo/blobs/a"))
        .filter(f => f.getPath.contains(".parquet") &&
          !f.getName.startsWith(".")).head
      val bytes = java.nio.file.Files.readAllBytes(victim.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
      java.nio.file.Files.write(victim.toPath, bytes)
      val d4 = Files.createTempDirectory("graft-inc-d4").toString
      val ex = intercept[Exception] {
        onArm(Sink.restore(spark, repo, "1", d4))
      }
      assert(refusedCorrupt(ex), s"corrupt blob must refuse, got: ${chain(ex)}")
    }
  }

  test("changed same-path file gets a NEW blob version; earlier snapshots stay restorable") {
    // the round-11 advisor's medium: the old bare-relpath blob keying
    // let a same-path file with different length OVERWRITE the shared
    // blob, silently destroying every prior snapshot referencing it
    val src = Files.createTempDirectory("graft-ver-src")
    val repo = Files.createTempDirectory("graft-ver-repo").toString
    Files.write(src.resolve("data.bin"), "generation-one".getBytes("UTF-8"))
    val r1 = Sink.snapshot(spark, src.toString, repo, "1")
    assert(r1.files == 1 && r1.copied == 1)
    // mutate the file IN PLACE with a different length — against the
    // committed-file convention, which is exactly when blob keying
    // must protect snapshot 1
    Files.write(src.resolve("data.bin"),
      "generation-two-longer-content".getBytes("UTF-8"))
    val r2 = Sink.snapshot(spark, src.toString, repo, "2")
    assert(r2.files == 1 && r2.copied == 1, "changed length must re-copy")
    val d1 = Files.createTempDirectory("graft-ver-d1")
    val d2 = Files.createTempDirectory("graft-ver-d2")
    assert(Sink.restore(spark, repo, "1", d1.toString).files == 1)
    assert(Sink.restore(spark, repo, "2", d2.toString).files == 1)
    assert(new String(Files.readAllBytes(d1.resolve("data.bin")), "UTF-8")
      == "generation-one", "snapshot 1 must restore its own bytes")
    assert(new String(Files.readAllBytes(d2.resolve("data.bin")), "UTF-8")
      == "generation-two-longer-content")
  }

  test("verifyReuse re-hashes same-(path,length) mutations; default reuse is convention-guarded") {
    val src = Files.createTempDirectory("graft-vr-src")
    val repo1 = Files.createTempDirectory("graft-vr-repo1").toString
    val repo2 = Files.createTempDirectory("graft-vr-repo2").toString
    Files.write(src.resolve("data.bin"), "AAAA".getBytes("UTF-8"))
    Sink.snapshot(spark, src.toString, repo1, "1")
    Sink.snapshot(spark, src.toString, repo2, "1")
    // mutate content at IDENTICAL length — invisible to the
    // (relpath, length) convention check
    Files.write(src.resolve("data.bin"), "BBBB".getBytes("UTF-8"))
    // default: reuse trusts the convention — snapshot 2 records the
    // OLD md5 (documented; restore serves snapshot-1 bytes)
    val c2a = Sink.snapshot(spark, src.toString, repo1, "2").copied
    assert(c2a == 0, "convention-guarded reuse must not copy")
    // verifyReuse: the reuse branch re-hashes the source and falls
    // through to a fresh blob version on mismatch
    val c2b = Sink.snapshot(spark, src.toString, repo2, "2",
      verifyReuse = true).copied
    assert(c2b == 1, "verifyReuse must detect the same-length mutation")
    val d = Files.createTempDirectory("graft-vr-d")
    Sink.restore(spark, repo2, "2", d.toString)
    assert(new String(Files.readAllBytes(d.resolve("data.bin")), "UTF-8")
      == "BBBB")
    val d1 = Files.createTempDirectory("graft-vr-d1")
    Sink.restore(spark, repo2, "1", d1.toString)
    assert(new String(Files.readAllBytes(d1.resolve("data.bin")), "UTF-8")
      == "AAAA", "both content versions coexist in the repo")
  }

  test("distributed snapshot/restore: cluster-parallel copies interoperate with the pool path") {
    val src = Files.createTempDirectory("graft-dist-src")
    Tables.region(spark, sf).write.parquet(src.resolve("postings").toString)
    Files.write(src.resolve("_DONE"), "ok\n".getBytes("UTF-8"))
    Files.write(src.resolve(".hidden"), "skip".getBytes("UTF-8"))
    val repoD = Files.createTempDirectory("graft-dist-repo").toString
    val repoP = Files.createTempDirectory("graft-dist-repo2").toString
    val snapD = Sink.onTaskArm(Sink.snapshot(spark, src.toString, repoD, "1"))
    val snapP = Sink.snapshot(spark, src.toString, repoP, "1")
    assert(snapD.distributed && !snapP.distributed)
    val n = snapD.files
    assert(n == snapP.files,
      "both arms must snapshot the same committed set")
    // manifests agree byte-for-byte: same files, same hashes, same order
    def manifest(repo: String) =
      new String(Files.readAllBytes(
        java.nio.file.Paths.get(repo, "snap-1", "MANIFEST")), "UTF-8")
    assert(manifest(repoD) == manifest(repoP))
    assert(!new java.io.File(s"$repoD/blobs/.hidden").exists())
    // cross-restore: pool-path restore from the distributed repo and
    // distributed restore from the pool repo both verify and agree
    val d1 = Files.createTempDirectory("graft-dist-d1").toString
    val d2 = Files.createTempDirectory("graft-dist-d2").toString
    assert(Sink.restore(spark, repoD, "1", d1).files == n)
    assert(Sink.onTaskArm(Sink.restore(spark, repoP, "1", d2)).files == n)
    assert(spark.read.parquet(s"$d1/postings").collect().map(_.toSeq).toSet ==
      spark.read.parquet(s"$d2/postings").collect().map(_.toSeq).toSet)
    assert(new java.io.File(s"$d2/_DONE").exists())
    // executor-side verification refuses a corrupt blob loudly
    val victim = filesUnder(new java.io.File(s"$repoD/blobs/postings"))
      .filter(f => f.getPath.contains(".parquet") &&
        !f.getName.startsWith(".")).head
    val bytes = Files.readAllBytes(victim.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.deleteIfExists(
      victim.toPath.resolveSibling("." + victim.getName + ".crc"))
    Files.write(victim.toPath, bytes)
    val ex = intercept[Exception] {
      Sink.onTaskArm(Sink.restore(spark, repoD, "1",
        Files.createTempDirectory("graft-dist-d3").toString))
    }
    assert(chain(ex).exists(m => m != null &&
      (m.contains("checksum mismatch") || m.contains("Checksum"))),
      s"corrupt blob must refuse with a checksum error, got: ${chain(ex)}")
  }

  test("host identity parsing: IPv6 ports stripped, driver IP vs hostname unify") {
    // split(":")(0) mangled IPv6 block-manager ids and a driver
    // registered by IP read as a second "host" next to executors
    // registered by name — picking the distributed arm in exactly the
    // single-NIC regime the selector avoids (round-14 advisor)
    assert(Sink.stripPort("host-a:43121") == "host-a")
    assert(Sink.stripPort("10.0.0.7:7337") == "10.0.0.7")
    assert(Sink.stripPort("[::1]:43121") == "::1")
    assert(Sink.stripPort("[2001:db8::1]:7337") == "2001:db8::1")
    assert(Sink.stripPort("host-no-port") == "host-no-port")
    // PORTLESS bare IPv6 must keep its final digit group — a naive
    // "last field is digits ⇒ port" rule corrupts these identities
    assert(Sink.stripPort("::1") == "::1")
    assert(Sink.stripPort("2001:db8::1") == "2001:db8::1")
    // loopback canonicalizes INTO the selector's loopback identity
    // set regardless of whether this JVM resolves localhost to
    // 127.0.0.1 or ::1 (an equality pin between the two would fail
    // on IPv6-preferring stacks even though the selector is correct)
    assert(Sink.LoopbackHosts.contains(Sink.canonicalHost("localhost")))
    assert(Sink.LoopbackHosts.contains(Sink.canonicalHost("127.0.0.1")))
    // unresolvable names degrade to the lowercased literal, so
    // same-representation ids keep comparing equal
    assert(Sink.canonicalHost("No-Such-Host-Graft-Test.invalid") ==
      "no-such-host-graft-test.invalid")
    assert(Sink.canonicalHost("") == "")
  }

  test("auto arm selection: pool on one host, distributed only past one NIC and above the floors") {
    // the pure selector at both regimes (bench_snapshot.json crossover:
    // pool 7.98×/7.25× vs distributed 4.67×/2.73× on ONE box)
    val bigFiles = Sink.DistributedCopyMinFiles
    val bigBytes = Sink.DistributedCopyMinBytes
    assert(!Sink.chooseDistributedCopy(1, bigFiles * 100, bigBytes * 100),
      "one host must always use the pool, however large the tree")
    assert(!Sink.chooseDistributedCopy(8, bigFiles - 1, bigBytes - 1),
      "multi-host below both floors stays on the pool")
    assert(Sink.chooseDistributedCopy(2, bigFiles, 0L),
      "multi-host at the file floor distributes")
    assert(Sink.chooseDistributedCopy(2, 1L, bigBytes),
      "multi-host at the byte floor distributes")
    // snapshot/restore on this local[n] (single-host) runtime: both
    // pick the pool, and the round-trip verifies like the task arm
    val src = Files.createTempDirectory("graft-auto-src")
    Tables.region(spark, sf).write.parquet(src.resolve("postings").toString)
    Files.write(src.resolve("_DONE"), "ok\n".getBytes("UTF-8"))
    val repo = Files.createTempDirectory("graft-auto-repo").toString
    val dest = Files.createTempDirectory("graft-auto-dest").toString
    val snap = Sink.snapshot(spark, src.toString, repo, "1")
    val rest = Sink.restore(spark, repo, "1", dest)
    assert(snap.files == rest.files && snap.files > 0)
    assert(!snap.distributed && !rest.distributed,
      "single-host runtime must select the pool arm")
    assert(spark.read.parquet(s"$dest/postings").count() ==
      Tables.region(spark, sf).count())
  }

  test("repo format guard: legacy flat-blob repos refuse; marker-less format-2 repos are adopted") {
    val src = Files.createTempDirectory("graft-fmt-src")
    Files.write(src.resolve("data.bin"), "fresh".getBytes("UTF-8"))
    // a LEGACY (format-1) repository: blobs/<rel> is a flat FILE
    val legacy = Files.createTempDirectory("graft-fmt-legacy")
    Files.createDirectories(legacy.resolve("snap-1"))
    Files.createDirectories(legacy.resolve("blobs"))
    Files.write(legacy.resolve("blobs/old.bin"), "v1".getBytes("UTF-8"))
    Files.write(legacy.resolve("snap-1/MANIFEST"),
      "0123456789abcdef0123456789abcdef 2 old.bin\n".getBytes("UTF-8"))
    val ex = intercept[IllegalArgumentException] {
      Sink.snapshot(spark, src.toString, legacy.toString, "2")
    }
    assert(ex.getMessage.contains("LEGACY"),
      s"legacy layout must refuse loudly, got: ${ex.getMessage}")
    assert(!Files.exists(legacy.resolve("snap-2/MANIFEST")),
      "no manifest may be written into a legacy repo")
    // a marker-less FORMAT-2 repo (round-12 vintage) is adopted: the
    // blob shape adjudicates, the marker is written, snapshots proceed
    val repo = Files.createTempDirectory("graft-fmt-adopt")
    Sink.snapshot(spark, src.toString, repo.toString, "1")
    assert(Files.exists(repo.resolve("_FORMAT")),
      "first snapshot must pin the repo format")
    Files.delete(repo.resolve("_FORMAT")) // simulate a pre-marker repo
    Files.write(src.resolve("more.bin"), "delta".getBytes("UTF-8"))
    val r2 = Sink.snapshot(spark, src.toString, repo.toString, "2")
    assert(r2.files == 2 && r2.copied == 1, "adopted repo must keep reusing blobs")
    assert(Files.exists(repo.resolve("_FORMAT")), "adoption re-pins")
    // an unknown declared format refuses (snapshot AND restore);
    // out-of-band nio writes must drop the LocalFileSystem crc sidecar
    Files.deleteIfExists(repo.resolve("._FORMAT.crc"))
    Files.write(repo.resolve("_FORMAT"), "99\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      Sink.snapshot(spark, src.toString, repo.toString, "3")
    }
    intercept[IllegalArgumentException] {
      Sink.restore(spark, repo.toString, "1",
        Files.createTempDirectory("graft-fmt-d").toString)
    }
    // ...and restoring a healthy repo still works with the marker back
    Files.write(repo.resolve("_FORMAT"), "2\n".getBytes("UTF-8"))
    val d = Files.createTempDirectory("graft-fmt-d2")
    assert(Sink.restore(spark, repo.toString, "2", d.toString).files == 2)
    assert(new String(Files.readAllBytes(d.resolve("data.bin")), "UTF-8")
      == "fresh")
  }

  test("single-writer: a fresh _WRITER claim refuses a second snapshotter; a stale claim is reclaimed") {
    val src = Files.createTempDirectory("graft-sw-src")
    Files.write(src.resolve("f"), "x".getBytes("UTF-8"))
    val repo = Files.createTempDirectory("graft-sw-repo")
    // a concurrent writer holds the claim (fresh timestamp + mtime)
    Files.write(repo.resolve("_WRITER"),
      s"${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      Sink.snapshot(spark, src.toString, repo.toString, "1")
    }
    assert(ex.getMessage.contains("single-writer"))
    // a CRASHED writer: timestamp and mtime both older than the grace
    Files.write(repo.resolve("_WRITER"), "12345\n".getBytes("UTF-8"))
    repo.resolve("_WRITER").toFile.setLastModified(12345L)
    val r = Sink.snapshot(spark, src.toString, repo.toString, "1")
    assert(r.files == 1 && r.copied == 1, "stale claim must be reclaimed")
    assert(!Files.exists(repo.resolve("_WRITER")),
      "claim must be released after the snapshot")
    // reindex enforces the same discipline on its destination
    import spark.implicits._
    val dest = Files.createTempDirectory("graft-sw-dest").toString
    Sink.bulkWrite(spark, Seq((1L, "a")).toDF("id", "s"), "id", dest)
    Files.write(java.nio.file.Paths.get(dest, "_WRITER"),
      s"${System.currentTimeMillis()}\n".getBytes("UTF-8"))
    val ex2 = intercept[IllegalStateException] {
      Sink.reindex(spark, Seq((2L, "b")).toDF("id", "s"), "id", dest)
    }
    assert(ex2.getMessage.contains("single-writer"))
    Files.delete(java.nio.file.Paths.get(dest, "_WRITER"))
    val (total, created, noops) =
      Sink.reindex(spark, Seq((1L, "a2"), (2L, "b")).toDF("id", "s"), "id", dest)
    assert((total, created, noops) == ((2L, 1L, 1L)))
  }

  test("writer claim: displaced token refuses at commit; release never deletes another writer's marker; stolen-fresh reclaim restores it") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val dir = new org.apache.hadoop.fs.Path(
      Files.createTempDirectory("graft-claim").toString)
    val marker = new org.apache.hadoop.fs.Path(dir, "_WRITER")
    val claim = Sink.acquireWriter(fs, dir)
    claim.verifyHeld(fs) // held — must pass
    // another writer's token lands in the marker (simulated
    // displacement through the reclaim race): commit must refuse,
    // and release must leave the usurper's marker alone
    val usurper = s"${System.currentTimeMillis()} other-token\n"
    val out = fs.create(marker, true)
    try out.write(usurper.getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalStateException] { claim.verifyHeld(fs) }
    assert(ex.getMessage.contains("lost before commit"))
    claim.release(fs)
    assert(fs.exists(marker),
      "release after displacement must not delete the new owner's claim")
    fs.delete(marker, false)
    // stolen-FRESH-marker repair: a waiter that renamed a claim whose
    // content no longer matches its staleness observation must rename
    // it back instead of deleting it. Simulated at the API surface: a
    // STALE marker whose content changes to a fresh claim just before
    // reclaim is indistinguishable from this at rename time, and the
    // net effect asserted is the live claim surviving contention.
    val live = Sink.acquireWriter(fs, dir) // the live owner
    val ex2 = intercept[IllegalStateException] {
      Sink.acquireWriter(fs, dir) // fresh claim → must refuse, not steal
    }
    assert(ex2.getMessage.contains("single-writer"))
    live.verifyHeld(fs) // the live claim survived the contender
    live.release(fs)
    assert(!fs.exists(marker))
  }

  test("reindex op_type=create: conflicts noop, appends are additive, rerun is all-noop") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-reindex").toString
    // seed dest with two ids at ORIGINAL values
    Sink.bulkWrite(spark,
      Seq((1L, "a", 10L), (3L, "c", 30L)).toDF("id", "s", "v"),
      "id", tmp)
    // source carries the script-transformed values (+100)
    val src = Seq((1L, "a", 110L), (2L, "b", 120L),
      (3L, "c", 130L), (4L, "d", 140L)).toDF("id", "s", "v")
    val (total, created, noops) = Sink.reindex(spark, src, "id", tmp)
    assert((total, created, noops) == ((4L, 2L, 2L)))
    val back = spark.read.parquet(tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // create never overwrites: seeded ids keep their original values,
    // absent ids arrive transformed
    assert(back == Map(1L -> 10L, 2L -> 120L, 3L -> 30L, 4L -> 140L))
    // idempotence: a second identical reindex is a full noop
    val (t2, c2, n2) = Sink.reindex(spark, src, "id", tmp)
    assert((t2, c2, n2) == ((4L, 0L, 4L)))
    assert(spark.read.parquet(tmp).count() == 4)
  }

  test("compaction rewrites a small-file mess into near-equal files") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft-compact-test"
    val src = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    // simulate a streaming sink's droppings: 64 tiny files
    src.repartition(64).write.mode("overwrite").parquet(dir)
    val checksum = spark.read.parquet(dir)
      .agg(sum("o_orderkey")).head().getLong(0)
    val rows = src.count()
    val (before, after) = sources.Sink.compact(spark, dir, targetRows = rows / 4)
    assert(before == 64)
    assert(after == 4, s"expected 4 compacted files, got $after")
    // data survives byte-for-byte (same keys, same totals)
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    assert(back.agg(sum("o_orderkey")).head().getLong(0) == checksum)
    // no leftover tmp directory
    assert(!new java.io.File(dir + ".compact-tmp").exists())
  }

  test("compaction whose rename fails names the tmp directory holding the rows") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.gated.impl", classOf[GatedFs].getName)
    val dir = Files.createTempDirectory("graft-compact-rename").resolve("t").toString
    spark.range(100).repartition(8).write.parquet(dir)
    GatedFs.onRename = (from, _) => !from.getName.endsWith(".compact-tmp")
    try {
      val ex = intercept[java.io.IOException] {
        Sink.compact(spark, s"gated:$dir", targetRows = 50)
      }
      assert(ex.getMessage.contains(s"gated:$dir.compact-tmp"), ex.getMessage)
      assert(!new java.io.File(dir).exists())
      assert(spark.read.parquet(dir + ".compact-tmp").count() == 100)
    } finally GatedFs.onRename = (_, _) => true
  }

  test("rollover: thresholds split generations; a final-batch roll leaves an empty write index") {
    import spark.implicits._
    def batch(ids: Range) = ids.map(_.toLong).toDF("id")
    // 3+3 under a threshold of 5: batch2 tips v1 to 6 ≥ 5 → roll;
    // batch3 (4 rows) lands in v2, under threshold → v2 stays writable
    val base1 = Scratch.dir("rollspec1")
    val out1 = Sink.rollover(spark, base1,
        Seq(batch(1 to 3), batch(4 to 6), batch(7 to 10)), maxDocs = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toList
    assert(out1 == List(("v1", 6L, false), ("v2", 4L, true)))
    assert(Sink.aliasVersion(base1) == "v2")
    // generations hold exactly their rows on disk
    assert(spark.read.parquet(s"$base1/v1").count() == 6)
    assert(spark.read.parquet(s"$base1/v2").count() == 4)
    // the LAST batch triggers the roll → a fresh EMPTY write index
    val base2 = Scratch.dir("rollspec2")
    val out2 = Sink.rollover(spark, base2,
        Seq(batch(1 to 5)), maxDocs = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toList
    assert(out2 == List(("v1", 5L, false), ("v2", 0L, true)))
    assert(Sink.aliasVersion(base2) == "v2")
    // the alias is READABLE immediately after the roll: the fresh
    // write index exists as an empty schema-carrying segment — a
    // dangling pointer here would crash every reader between a roll
    // and the next batch's arrival
    assert(Sink.aliasRead(spark, base2).count() == 0)
    assert(Sink.aliasRead(spark, base2).columns.toSeq == Seq("id"))
  }

  test("gcVersions: sweeps old generations, keeps live + rollback + in-flight; alias never dangles") {
    import spark.implicits._
    def batch(ids: Range) = ids.map(_.toLong).toDF("id")
    val base = Scratch.dir("rollgc")
    // four 5-row batches at maxDocs=5: every batch tips its write
    // index → v1..v4 full, v5 the trailing empty write index (live)
    Sink.rollover(spark, base,
      Seq(batch(1 to 5), batch(6 to 10), batch(11 to 15), batch(16 to 20)),
      maxDocs = 5)
    assert(Sink.aliasVersion(base) == "v5")
    // a reindex in flight toward a FUTURE swap (written, not flipped)
    Sink.aliasWriteVersion(batch(100 to 101), base, 7)

    val swept = Sink.gcVersions(spark, base, keepLast = 2)
    assert(swept == Seq("v3", "v2", "v1"), swept)
    def exists(v: Int) = new java.io.File(s"$base/v$v").exists()
    assert(!exists(1) && !exists(2) && !exists(3), "old gens swept")
    assert(exists(4), "rollback predecessor retained")
    assert(exists(5), "live version retained")
    assert(exists(7), "in-flight future reindex retained")
    // the alias still resolves and reads
    assert(Sink.aliasVersion(base) == "v5")
    assert(Sink.aliasRead(spark, base).count() == 0)
    // idempotent
    assert(Sink.gcVersions(spark, base, keepLast = 2).isEmpty)

    // no alias on disk → nothing is ever deleted
    val base2 = Scratch.dir("rollgc2")
    Sink.aliasWriteVersion(batch(1 to 3), base2, 1)
    assert(Sink.gcVersions(spark, base2).isEmpty)
    assert(new java.io.File(s"$base2/v1").exists())
  }

  test("alias path guard: rejects URI schemes, accepts colons in later segments") {
    // a scheme-qualified URI silently breaks java.nio ATOMIC_MOVE
    // (Paths.get("file:/x") is cwd-relative) — rejected loudly
    intercept[IllegalArgumentException](Sink.aliasSwap("file:/tmp/idx", 1))
    intercept[IllegalArgumentException](Sink.aliasSwap("hdfs://nn/idx", 1))
    // a colon INSIDE a later path segment is a legal local path (the
    // round-9 advisor finding: ISO-timestamped run dirs) — the swap
    // itself is pure java.nio and must accept it (whether a given
    // Hadoop table format tolerates colon segments is the table
    // writer's business, not the pointer's)
    val base = Scratch.dir("aliascolon") + "/run-2026-08-14T10:30"
    Sink.aliasSwap(base, 1)
    assert(Sink.aliasVersion(base) == "v1")
    // absolute paths are never mistaken for schemes
    Sink.aliasSwap(Scratch.dir("aliasplain"), 2)
  }
}

/** Local files under the `gated:` scheme with a hook on every open, so a
  * spec can fail one copy of the snapshot/restore fan-out and hold the
  * others on a latch, and a hook on every rename, which fails the
  * rename when it returns false. */
class GatedFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("gated:///")
  override def getScheme: String = "gated"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GatedFs.onOpen(f)
    super.open(f, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean =
    GatedFs.onRename(src, dst) && super.rename(src, dst)
}

object GatedFs {
  @volatile var onOpen: Path => Unit = _ => ()
  @volatile var onRename: (Path, Path) => Boolean = (_, _) => true
}
