package graft

import graft.sources.Sink

/** In-JVM timing of the footer row count: the parent's invokeAll pool
  * (inlined) against Sink.committedRowCount, alternated, over the three
  * shard files of an sf0.001 orders bulk write. */
class RowCountProbe extends SparkSpec {
  def parentCount(path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return 0L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.length))
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(files.toSeq.map { f =>
        new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        }
      }.asJava).asScala.map(_.get()).sum
    } finally pool.shutdown()
  }

  test("row count timing") {
    val out = java.nio.file.Files.createTempDirectory("rcprobe").toString
    Sink.bulkWrite(spark, Tables.orders(spark, sf), "o_orderkey", out, shards = 3)
    val n = 300
    for (round <- 1 to 3) {
      var tp = 0L; var tc = 0L; var a = 0L; var b = 0L
      for (i <- 0 until n) {
        val t0 = System.nanoTime(); a += parentCount(out); val t1 = System.nanoTime()
        b += Sink.committedRowCount(spark, out); val t2 = System.nanoTime()
        tp += t1 - t0; tc += t2 - t1
      }
      assert(a == b)
      println(f"[probe] round $round: parent ${tp / n / 1e6}%.3f ms/call, change ${tc / n / 1e6}%.3f ms/call")
    }
  }
}
