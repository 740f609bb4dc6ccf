package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Interior-plan capture for the optimization evidence trail.
  *
  * Several operators eagerly materialize mid-construction (localCheckpoint,
  * driver probes, writes), so the frame a query RETURNS is often a
  * degenerate `Scan ExistingRDD` and `explain` on it says nothing about
  * the work. [[capture]] records the plans that did run instead: while the
  * body runs, the calling thread carries a job tag, and every SQL execution
  * started under that tag (each `localCheckpoint`, `count`, `head`,
  * `collect` and write goes through one) posts its formatted physical plan
  * on the listener bus, where one listener keeps it. Only root
  * executions count: an execution nested in another repeats its root's
  * plan (each streaming micro-batch starts one inside its own).
  *
  * The tag is a thread-local property, so a thread started inside the
  * body inherits it: the micro-batch plans of a streaming query started
  * there are captured too, while those of a stream started before the
  * capture run on a thread without the tag and are not. Work that runs no
  * SQL execution (RDD actions such as `df.rdd.count()`) is never captured.
  */
object PlanTrace {
  private val ids = new AtomicLong

  /** Run `f` and return its result with the physical plan of every SQL
    * execution started under its tag, in execution order. The tag and the
    * listener are removed whether or not `f` throws. */
  def capture[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"graft-plan-trace-${ids.incrementAndGet()}"
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) &&
            s.rootExecutionId.forall(_ == s.executionId) =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val r = f
      if (!GraftBus.drain(sc, Run.DrainTimeoutMs)) System.err.println(
        s"[plan-trace] listener bus still busy after ${Run.DrainTimeoutMs / 1000} s; " +
          "captured plans may be missing")
      (r, plans.asScala.toSeq)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
