package graft.etl

import org.apache.spark.sql.SparkSession

/** Executable ETL driver — the etl.py equivalent (SURVEY.md §3.1):
  *
  *   runMain graft.etl.EtlMain <eventsJsonPath> <songsJsonPath> <warehouseDir>
  *
  * Loads staging, builds the five star tables in reference order, prints
  * per-table row counts (the Fiddle F44-F50 probes).
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println(
        "usage: graft.etl.EtlMain <eventsJsonPath> <songsJsonPath> <warehouseDir>")
      sys.exit(2)
    }
    val Array(eventsPath, songsPath, warehouseDir) = args
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession.builder("graft-etl", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = Pipeline.run(spark, eventsPath, songsPath, warehouseDir)
    result.counts.toSeq.sortBy(_._1).foreach { case (t, n) =>
      println(f"[etl] $t%-22s $n%d rows")
    }
    // the Fiddle-notebook probes over the landed warehouse (SURVEY §3.4)
    val pages = Analytics.eventsByPage(spark, warehouseDir)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    println(s"[etl] events by page: ${pages.mkString(", ")}")
    println(s"[etl] title matches: ${
      Analytics.titleMatchRate(spark, warehouseDir).collect().head.getLong(0)}")
    println(s"[etl] unmatched plays: ${
      Analytics.unmatchedPlays(spark, warehouseDir).count()}")
    spark.stop()
  }
}
