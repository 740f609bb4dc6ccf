package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.state.GraftStateStores
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.operators.{Catalog, Golden}

/** What a Catalog stream's drain leaves behind and hands back. A stopped
  * stream's state-store providers leave the JVM with it: Spark keeps them
  * loaded after `stop()` until store maintenance finds the run inactive,
  * so a long-lived JVM running short streams back to back accumulated
  * them. The drain reads its table in place, stages nothing, and returns
  * the memory sink's own rows. */
class StateStoreUnloadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))

  private def stream(name: String, dir: String = sfDir) =
    Catalog.byName(name).run(spark, dir)

  private def stagingDirs(): Set[String] = {
    val ls = java.nio.file.Files.list(tmp)
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-stream-q")).toSet
    finally ls.close()
  }

  test("Spark keeps a stopped run's providers loaded; unload releases exactly them") {
    val dir = java.nio.file.Files.createTempDirectory("state-unload").toString
    spark.range(0, 50, 1, 2).selectExpr("id % 7 AS k").write.parquet(s"$dir/src")
    val q = spark.readStream.schema("k LONG").parquet(s"$dir/src")
      .dropDuplicates("k").writeStream.format("memory")
      .queryName("state_unload_spec").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.catalog.dropTempView("state_unload_spec")
    val n = GraftStateStores.loaded(q.runId).size
    assert(n > 0, "a stopped run's providers are still loaded")
    assert(GraftStateStores.unload(q.runId) == n)
    assert(GraftStateStores.loaded(q.runId).isEmpty)
  }

  test("running one Catalog stream twice leaves no provider of either run loaded") {
    val runs = new ConcurrentLinkedQueue[UUID]()
    // onQueryStarted is delivered synchronously inside start()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = runs.add(e.runId)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try (1 to 2).foreach { _ =>
      Catalog.byName("q_s_stream_distinct").run(spark, "/root/testdata/sf0.001").count()
      GraftSession.dropCachedBlocks(spark)
    } finally spark.streams.removeListener(listener)
    assert(runs.size == 2)
    runs.asScala.foreach(r => assert(GraftStateStores.loaded(r).isEmpty, s"run $r"))
  }

  test("the drained frame plans the sink's rows, not a checkpoint of them") {
    val plan = stream("q_s_stream_distinct").queryExecution.executedPlan.treeString
    GraftSession.dropCachedBlocks(spark)
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("localCheckpoint"), plan)
  }

  test("a stream run stages no input under java.io.tmpdir") {
    val before = stagingDirs()
    val seen = new ConcurrentLinkedQueue[String]()
    // onQueryStarted is delivered synchronously inside start(), while
    // the run's input is open
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        seen.addAll((stagingDirs() -- before).asJava)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try stream("q_s_stream_window").count()
    finally spark.streams.removeListener(listener)
    assert(seen.isEmpty, s"staged: ${seen.asScala.mkString(", ")}")
    assert(stagingDirs() -- before == Set.empty)
  }

  test("events as a directory of part files streams as the single file does") {
    val parts = java.nio.file.Files.createTempDirectory("stream-parts")
    try {
      // the gensf layout: Spark-written part files, ts kept as nanos longs
      spark.read.parquet(s"$sfDir/events.parquet").repartition(3)
        .write.parquet(s"$parts/events.parquet")
      val fp = Seq(sfDir, parts.toString).map(d =>
        Golden.fingerprint(stream("q_s_stream_window", d)).head())
      assert(fp.head.getLong(0) > 0)
      assert(fp.head == fp(1))
    } finally java.nio.file.Files.walk(parts)
      .sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
  }
}
