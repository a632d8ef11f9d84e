package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import graft.sources.Sink

/** SinkSpec's "a failed copy is rethrown only after every other copy
  * finished", written against the parent's API (snapshotIncremental /
  * restoreSnapshot). */
class AwaitParentSpec extends SparkSpec {
  private def filesUnder(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(filesUnder)
    else Seq(f)

  test("a failed copy is rethrown only after every other copy finished") {
    // the first file in manifest order fails; 40 more copies (more than
    // the pool's width, so some are still queued) are held until it has
    // failed. Returning or throwing before they finish would leave them
    // writing into the repository after the _WRITER claim's release, or
    // into the destination after restore threw.
    spark.sparkContext.hadoopConfiguration
      .set("fs.gated.impl", classOf[GatedFs].getName)
    val held = (0 until 40).map(i => f"held-$i%02d.bin")
    val src = Files.createTempDirectory("graft-await-src")
    ("fail.bin" +: held).foreach(n =>
      Files.write(src.resolve(n), n.getBytes("UTF-8")))
    val repo = Files.createTempDirectory("graft-await-repo")
    Sink.snapshotIncremental(spark, src.toString, repo.toString, "1")
    def gate(failed: CountDownLatch): Unit =
      GatedFs.onOpen = p =>
        if (p.toString.contains("fail.bin")) {
          failed.countDown()
          throw new java.io.IOException("injected copy failure")
        } else if (p.toString.contains("held-")) failed.await()
    try {
      gate(new CountDownLatch(1))
      val repo2 = Files.createTempDirectory("graft-await-repo2")
      val ex = intercept[java.io.IOException] {
        Sink.snapshotIncremental(spark, s"gated:$src", repo2.toString, "1")
      }
      assert(ex.getMessage == "injected copy failure")
      held.foreach(n => assert(
        filesUnder(repo2.resolve(s"blobs/$n").toFile)
          .count(!_.getName.startsWith(".")) == 1,
        s"snapshot threw before the copy of $n was placed"))
      gate(new CountDownLatch(1))
      val dest = Files.createTempDirectory("graft-await-dest")
      val ex2 = intercept[java.io.IOException] {
        Sink.restoreSnapshot(spark, s"gated:$repo", "1", dest.toString)
      }
      assert(ex2.getMessage == "injected copy failure")
      held.foreach(n => assert(
        new String(Files.readAllBytes(dest.resolve(n)), "UTF-8") == n,
        s"restore threw before the copy of $n was complete"))
    } finally GatedFs.onOpen = _ => ()
  }

}

/** Local files under the `gated:` scheme with a hook on every open, so a
  * spec can fail one copy of the snapshot/restore fan-out and hold the
  * others on a latch. */
class GatedFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("gated:///")
  override def getScheme: String = "gated"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    GatedFs.onOpen(f)
    super.open(f, bufferSize)
  }
}

object GatedFs {
  @volatile var onOpen: Path => Unit = _ => ()
}
