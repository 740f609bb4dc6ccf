package graft.ext

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.tools.PlanTrace

/** The near-dup builds read their bucket memberships once, through one
  * capped bucket aggregate, so they neither persist nor count them: the
  * only SQL execution a build runs is the edge fetch in
  * `connectedComponents`. A membership barrier put back fails here. */
class DedupBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs: DataFrame =
    (1 to 40).map { i =>
      val text = if (i % 4 == 0) "the quick brown fox jumps over the lazy dog"
                 else s"unique text body number $i with words ${i * 7}"
      (i.toLong, text)
    }.toDF("doc_id", "text")

  private val builds: Seq[(String, () => DataFrame)] = Seq(
    "Dedup.minhash" -> (() => Dedup.minhash(docs, "doc_id", "text")),
    "Dedup.simhashDedup" -> (() => Dedup.simhashDedup(docs, "doc_id", "text")))

  builds.foreach { case (name, build) =>
    test(s"$name runs one SQL execution while built: the edge fetch") {
      val (df, executed) = PlanTrace.capture(spark)(build())
      assert(executed.size == 1 && executed.head.contains("CollectLimit"),
        s"$name ran ${executed.size} SQL execution(s) while building:\n" +
          executed.mkString("\n"))
      // the planted duplicates (every fourth doc) form one cluster
      val clusters = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((4L to 40L by 4L).map(clusters).toSet == Set(4L))
    }
  }
}
