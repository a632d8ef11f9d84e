package graft

import java.nio.file.Files
import java.util.concurrent.CountDownLatch

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

import graft.sources.Sink

/** SinkSpec's "a failed copy is rethrown only after every other copy
  * finished", written against the parent's API (snapshotIncremental /
  * restoreSnapshot). */
class AwaitParentRestoreSpec extends SparkSpec {
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

