package graft

import scala.jdk.CollectionConverters._

/** Throwaway probe, run once per side in a scratch copy (not part of
  * the suite): the Spark jobs of z3's bucketed layout at sf0.001, the
  * way Bench meets it — a cold pre-build of the layout, the z3 query
  * itself, then the layout resolved again from a new session with its
  * own (empty) catalog, as in a later session of a long-lived JVM.
  * Each job is listed with its stage names. */
class Z3JobsProbe extends SparkSpec {
  test("z3 jobs: pre-build, query, fresh-session resolve") {
    // cold start on both sides: no persisted layout from earlier runs
    val layout = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_z3_layout")
    if (java.nio.file.Files.exists(layout)) {
      val walk = java.nio.file.Files.walk(layout)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    // the reader paths warm, as Bench warms them before its builds
    Tables.orders(spark, sf).count(); Tables.lineitem(spark, sf).count()
    val out = new StringBuilder
    def record(name: String)(body: => Unit): Unit = {
      val jobs = jobsOf(body)
      out ++= s"$name: ${jobs.size} jobs\n"
      jobs.zipWithIndex.foreach { case (j, i) =>
        out ++= s"  job ${i + 1}: ${j.mkString(" | ")}\n" }
    }
    record("pre-build (Bench indexing phase)") {
      SparkEntry.bucketedTablesFor(spark, sf); ()
    }
    record("z3_bucketed_join query + collect") {
      SparkEntry.queries("z3_bucketed_join")(spark, sf).collect(); ()
    }
    spark.sparkContext
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val fresh = org.apache.spark.sql.SparkSession.builder().getOrCreate()
    org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    record("fresh session: z3_bucketed_join query + collect") {
      SparkEntry.queries("z3_bucketed_join")(fresh, sf).collect(); ()
    }
    println("Z3_PROBE_BEGIN\n" + out + "Z3_PROBE_END")
  }
}
