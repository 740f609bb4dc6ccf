package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Catalog
import graft.tools.{Run, RunRecord}

/** Generated code compiles once per JVM (GraftSession.builder): a second
  * run of the same plan is served from the codegen cache, for batch and
  * streaming queries alike, and the cache holds more than Spark's default
  * 100 entries.
  *
  * The cap binds when `CodeGenerator` is first used, from the conf of the
  * session active then. Every session of the test JVM runs on the context
  * `TestSpark` creates through `GraftSession.builder`, and a session
  * built on an existing context inherits its conf, so whichever session
  * is first (ExtensionsSpec builds its own, after `TestSpark.spark`)
  * carries the same cap; the last case fails if it does not. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def compilesOf(name: String): Long = {
    val q = Catalog.byName(name)
    val r = Run.query(spark, name, q.run(spark, sfDir), Run.noop)
    GraftSession.dropCachedBlocks(spark)
    assert(r.ok, r.error)
    r.compiles
  }

  test("a batch Catalog query run twice compiles nothing the second time") {
    compilesOf("q_tpch_q9_profit")
    assert(compilesOf("q_tpch_q9_profit") == 0)
  }

  test("a streaming Catalog query run twice compiles nothing the second time") {
    // Each writeStream.start() runs in a cloned session; with artifact
    // isolation on, each clone had its own class loader (part of the
    // cache key), so every run recompiled all of its classes.
    compilesOf("q_s_stream_distinct")
    assert(compilesOf("q_s_stream_distinct") == 0)
  }

  test("a typed-state stream run twice compiles nothing the second time") {
    // Its state class holds lists; a state encoder built afresh per run
    // numbered their lambda variables anew, and recompiled.
    compilesOf("q_s_stream_join_capped")
    assert(compilesOf("q_s_stream_join_capped") == 0)
  }

  test("the cache holds more than Spark's default 100 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    def projection(i: Int): RunRecord = Run.query(spark, s"codegen_cache_$i",
      spark.range(0, 10, 1, 1).selectExpr(s"id * $i + ${i + 7} AS v"), Run.noop)
    val first = (1 to 150).map(projection)
    assert(first.forall(_.ok))
    assert(first.map(_.compiles).sum >= 150, "each projection compiles its own class")
    assert(projection(1).compiles == 0)
  }
}
