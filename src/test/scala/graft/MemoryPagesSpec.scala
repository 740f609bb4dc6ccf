package graft

import org.apache.spark.MemoryPages
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Run

/** Tungsten pages are sized for kilobyte partitions (GraftSession.builder):
  * an aggregate or a sort over a thousand rows takes one small page, not
  * the 64 MiB Spark derives from an 8 GB heap on 4 cores. The page size
  * binds when the SparkContext is created, which for every session of
  * the test JVM is the one `TestSpark` builds. */
class MemoryPagesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val MiB = 1L << 20

  private def peakTaskMem(name: String, df: => org.apache.spark.sql.DataFrame): Long = {
    val r = Run.query(spark, name, df, Run.noop)
    assert(r.ok, r.error)
    assert(r.peakTaskMemBytes > 0, s"$name reported no task memory")
    r.peakTaskMemBytes
  }

  test("the running context allocates GraftSession.PageSize pages") {
    spark
    assert(MemoryPages.pageSizeBytes == GraftSession.PageSize)
  }

  test("a 10-group aggregate over 1,000 rows peaks at a few MiB of task memory") {
    val peak = peakTaskMem("memory_pages_agg",
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("g"))
        .agg(sum(col("id")).as("s")))
    assert(peak <= 4 * MiB, s"peak task memory $peak bytes")
  }

  test("a 1,000-row sort peaks at a few MiB of task memory") {
    val peak = peakTaskMem("memory_pages_sort",
      spark.range(0, 1000, 1, 4).select(((col("id") * 7919) % 1000).as("v"))
        .orderBy(col("v")))
    assert(peak <= 4 * MiB, s"peak task memory $peak bytes")
  }
}
