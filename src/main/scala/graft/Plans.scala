package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: write each named query's formatted physical plan to
  * `<outDir>/<name>.txt`, every registered query when none is named
  * (`sbt "runMain graft.Plans <sfDir> <outDir> [query ...]"`). The text
  * is [[normalized]], so the dumps of two checkouts compare with
  * `diff -r`: equal dumps mean equal plans. */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        val text =
          try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Throwable => s"failed: ${e.getClass.getName}\n" }
        Files.writeString(Paths.get(outDir, s"$name.txt"), normalized(text))
        System.err.println(s"[plans] $name")
        Bench.isolate(spark)
      }
    spark.stop()
  }

  /** `plan` without what differs between two runs of the same plan:
    * expression, exchange and RDD ids, object identity hashes, lambda
    * class names, source line numbers of RDD call sites, and every path
    * under the temp directory (scratch directories, artifact
    * generations). */
  private def normalized(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+", "\\$Lambda")
      .replaceAll("@\\p{XDigit}+\\b", "@")
      .replaceAll("\\.scala:\\d+", ".scala")
      .replaceAll("(file:)?" + Pattern.quote(sys.props("java.io.tmpdir")) +
        "[^\\s,\\]\\)]*", "<tmp>")
}
