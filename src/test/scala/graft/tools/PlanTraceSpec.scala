package graft.tools

import org.apache.spark.ListenerCount
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Catalog

/** [[PlanTrace.capture]] on the shared session: it returns the plan of
  * every SQL execution its body ran, in order, and nothing else. */
class PlanTraceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def traceTags: Set[String] =
    spark.sparkContext.getJobTags().filter(_.startsWith("graft-plan-trace"))

  test("a CartesianProduct behind an eager localCheckpoint is captured") {
    val (df, plans) = PlanTrace.capture(spark) {
      val a = spark.range(0, 20, 1, 2).toDF("a")
      val b = spark.range(0, 5, 1, 2).toDF("b")
      a.hint("SHUFFLE_REPLICATE_NL").crossJoin(b).localCheckpoint(true)
        .selectExpr("a + b AS s")
    }
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    assert(plans.size == 1 && plans.head.contains("CartesianProduct"), plans)
  }

  test("two captures back to back get disjoint plan lists, in execution order") {
    val (_, first) = PlanTrace.capture(spark) {
      spark.range(3).toDF("trace_first").collect()
      spark.range(4).toDF("trace_second").collect()
    }
    val (_, second) = PlanTrace.capture(spark) {
      spark.range(5).toDF("trace_third").collect()
    }
    assert(first.size == 2 && second.size == 1)
    assert(first(0).contains("trace_first") && !first(0).contains("trace_second"))
    assert(first(1).contains("trace_second"))
    assert(second.head.contains("trace_third"))
    assert(!first.exists(_.contains("trace_third")))
  }

  test("a body that throws still removes the tag and the listener") {
    val sc = spark.sparkContext
    val listeners = ListenerCount(sc)
    val e = intercept[IllegalStateException] {
      PlanTrace.capture(spark) {
        spark.range(3).collect()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(traceTags.isEmpty)
    assert(ListenerCount(sc) == listeners)
  }

  test("a stream's capture has one plan per micro-batch") {
    val (batches, plans) = PlanTrace.capture(spark) {
      val q = graft.streaming.EventsStream
        .readEvents(spark, s"$sfDir/{events.parquet}").select("event_id")
        .writeStream.format("memory").queryName("plan_trace_stream").start()
      try { q.processAllAvailable(); q.lastProgress.batchId + 1 }
      finally { q.stop(); spark.catalog.dropTempView("plan_trace_stream") }
    }
    assert(batches >= 1)
    assert(plans.count(_.contains("WriteToDataSourceV2")) == batches, plans)
  }

  test("a query with no eager work yields no captured plans") {
    val (df, plans) = PlanTrace.capture(spark)(
      Catalog.byName("q_p1_scan_project").run(spark, sfDir))
    assert(plans.isEmpty)
    assert(df.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(traceTags.isEmpty)
  }

  test("PlanDumpMain: two dumps of one query are byte-identical") {
    val q = Catalog.byName("q_x_quantile_sketch_anchor")
    val first = PlanDumpMain.dump(spark, q, sfDir)
    graft.GraftSession.dropCachedBlocks(spark)
    val second = PlanDumpMain.dump(spark, q, sfDir)
    graft.GraftSession.dropCachedBlocks(spark)
    assert(first.contains("== Executed while building (1 of "))
    assert(first == second)
  }

  test("PlanDumpMain dumps the final adaptive plan") {
    val txt = PlanDumpMain.dump(spark, Catalog.byName("q_x_asof_join"), sfDir)
    assert(txt.contains("isFinalPlan=true") && !txt.contains("isFinalPlan=false"), txt)
  }
}
