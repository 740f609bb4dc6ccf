package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Run.query]] on the shared session: jobs are attributed to the query
  * that submitted them, build and action are timed apart, and a failure
  * leaves the record without timing. RDD jobs keep the counts exact (no
  * adaptive-execution stage jobs). */
class RunSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A query whose build runs `eager` RDD jobs before returning a frame
    * that one more job consumes. */
  private def run(name: String, eager: Int): RunRecord =
    Run.query(spark, name, {
      (1 to eager).foreach(_ => spark.sparkContext.parallelize(1 to 100, 4).count())
      spark.range(0, 100, 1, 4).toDF()
    }, _.foreach(_ => ()))

  test("build with an eager action: build_s > 0 and the exact job count") {
    val r = run("run_spec_eager", eager = 1)
    assert(r.ok && r.error.isEmpty)
    assert(r.buildS.exists(_ > 0) && r.execS.exists(_ > 0))
    assert(r.jobs == 2)
    assert(r.taskS > 0)
    assert(r.wallS == Some(r.buildS.get + r.execS.get))
  }

  test("a query that allocates reports a positive allocBytes") {
    // JVM-wide, so only a lower bound holds: 100k rows collected to the
    // driver allocate at least the array of 100k longs.
    val r = Run.query(spark, "run_spec_alloc", spark.range(0, 100000, 1, 4).toDF(),
      df => assert(df.collect().length == 100000))
    assert(r.ok, r.error)
    assert(r.allocBytes >= 100000L * 8, s"allocBytes ${r.allocBytes}")
  }

  test("two queries back to back get disjoint, exact job counts") {
    val a = run("run_spec_a", eager = 1)
    val b = run("run_spec_b", eager = 3)
    assert((a.jobs, b.jobs) == ((2, 4)))
  }

  test("a run that drains a stream carries its micro-batch phases") {
    val r = Run.query(spark, "run_spec_stream",
      graft.operators.Catalog.byName("q_s_stream_distinct").run(spark, "/root/testdata/sf0.001"),
      Run.noop)
    graft.GraftSession.dropCachedBlocks(spark)
    assert(r.ok, r.error)
    val p = r.stream.getOrElse(fail("no stream phases"))
    // the data batch, then the watermark-advance batch that reads nothing
    assert(p.batches >= 2 && p.emptyBatches >= 1 && p.emptyBatches < p.batches)
    assert(p.durationMs.keySet == StreamPhases.Keys.toSet)
    assert(p.durationMs("addBatch") > 0 && p.durationMs.values.forall(_ >= 0))
    assert(run("run_spec_no_stream", eager = 0).stream.isEmpty)
  }

  test("a query that throws is failed and carries no timing") {
    val r = Run.query(spark, "run_spec_fail",
      throw new IllegalStateException("boom"), _ => ())
    assert(r.status == "failed" && !r.ok)
    assert(r.error.exists(_.contains("boom")))
    assert(r.buildS.isEmpty && r.execS.isEmpty && r.wallS.isEmpty)
    val late = Run.query(spark, "run_spec_fail_late", spark.range(3).toDF(),
      _ => throw new RuntimeException("late"))
    assert(late.status == "failed" && late.wallS.isEmpty)
  }
}
