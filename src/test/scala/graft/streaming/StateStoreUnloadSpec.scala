package graft.streaming

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.state.GraftStateStores
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.operators.Catalog

/** A stopped stream's state-store providers leave the JVM with it: Spark
  * keeps them loaded after `stop()` until store maintenance finds the run
  * inactive, so a long-lived JVM running short streams back to back
  * accumulated them. */
class StateStoreUnloadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

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
}
