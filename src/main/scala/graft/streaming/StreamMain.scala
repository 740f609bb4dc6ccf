package graft.streaming

import org.apache.spark.sql.SparkSession

/** Executable streaming driver:
  *
  *   runMain graft.streaming.StreamMain <eventsParquetDir> [windows|sessions]
  *
  * Opens the directory as an unbounded source, runs either the watermarked
  * windowed aggregation (default) or event-time session windows to a memory
  * sink, drains all available micro-batches, prints the result table.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 1 || args.length > 2 ||
        !Set("windows", "sessions").contains(args.lift(1).getOrElse("windows"))) {
      System.err.println(
        "usage: graft.streaming.StreamMain <eventsParquetDir> [windows|sessions]")
      sys.exit(2)
    }
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession.builder("graft-stream", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val events = EventsStream.readEvents(spark, args(0))
    val (frame, mode) = args.lift(1).getOrElse("windows") match {
      case "sessions" =>
        (EventsStream.sessionWindows(events).toDF(), "append")
      case _ => (EventsStream.windowedCounts(events), "complete")
    }
    val q = frame.writeStream.format("memory").queryName("win")
      .outputMode(mode).start()
    q.processAllAvailable()
    val rows = spark.table("win")
    println(s"[stream] ${rows.count()} result rows:")
    rows.show(20, truncate = false)
    q.stop()
    spark.stop()
  }
}
