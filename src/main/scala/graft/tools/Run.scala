package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What one query run cost, split into the two layers a caller can time
  * from the driver: `buildS` is the eager work inside the query's
  * construction (localCheckpoint, probe collects, streaming drains) and
  * `execS` the action over the frame it returned. A failed run carries no
  * timing at all: a failure's seconds are not a measurement of the query.
  * The counters sum over every task of every job the run submitted,
  * except `compiles` and `compileS`: the classes the engine's code
  * generator compiled during the run and the seconds it spent compiling
  * them. Those are JVM-wide deltas, not attributed per job, so they
  * include what any other thread compiled meanwhile. */
final case class RunRecord(
    name: String,
    status: String,
    error: Option[String],
    buildS: Option[Double],
    execS: Option[Double],
    jobs: Int,
    taskS: Double,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillMemBytes: Long,
    spillDiskBytes: Long,
    peakTaskMemBytes: Long,
    compiles: Long,
    compileS: Double) {
  def ok: Boolean = status == "ok"
  def wallS: Option[Double] = for (b <- buildS; e <- execS) yield b + e
}

/** The one query runner behind Bench and ScaleSmokeMain.
  *
  * Jobs are attributed at SUBMIT time: the run sets the `graft.query`
  * local property before `build` starts, Spark copies local properties
  * into every job it submits (and into the threads a query spawns), and
  * the listener reads the name back from the job's properties. Attribution
  * is therefore exact however far the asynchronous listener bus lags; the
  * counters are read after a bounded wait for the bus to empty.
  *
  * Runs of the same name must not overlap; runs of different names may.
  */
object Run {
  val QueryKey = "graft.query"
  private[tools] val DrainTimeoutMs = 60000L

  /** Execute the full plan and discard the rows: the `noop` DataSource-V2
    * sink computes every projected column, where `count()` would let
    * Catalyst prune expression work down to a metadata scan. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private final class Acc {
    val jobs = new AtomicInteger
    val taskNanos, shuffleRead, shuffleWrite = new AtomicLong
    val spillMem, spillDisk, peakTaskMem = new AtomicLong
  }

  private object Metrics extends SparkListener {
    val byQuery = new ConcurrentHashMap[String, Acc]()
    val byStage = new ConcurrentHashMap[Int, Acc]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      Option(j.properties).flatMap(p => Option(p.getProperty(QueryKey)))
        .flatMap(q => Option(byQuery.get(q))).foreach { acc =>
          acc.jobs.incrementAndGet()
          j.stageIds.foreach(byStage.put(_, acc))
        }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val acc = byStage.get(t.stageId)
      val m = t.taskMetrics
      if (acc != null && m != null) {
        acc.taskNanos.addAndGet(m.executorRunTime * 1000000L)
        acc.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        acc.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        acc.spillMem.addAndGet(m.memoryBytesSpilled)
        acc.spillDisk.addAndGet(m.diskBytesSpilled)
        acc.peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  /** Classes the code generator has compiled in this JVM, and the
    * nanoseconds it spent on them. Cache hits count in neither. */
  private def compileCounters: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private var listeningOn: SparkContext = _

  private def listen(sc: SparkContext): Unit = synchronized {
    if (listeningOn ne sc) { sc.addSparkListener(Metrics); listeningOn = sc }
  }

  /** Run one query: time `build`, then `action` over the frame it
    * returns, and collect the jobs both submitted. Never throws for a
    * failure of `build` or `action`; the record's status says failed. */
  def query(spark: SparkSession, name: String, build: => DataFrame,
            action: DataFrame => Unit): RunRecord = {
    val sc = spark.sparkContext
    listen(sc)
    val acc = new Acc
    require(Metrics.byQuery.putIfAbsent(name, acc) == null,
      s"a run named $name is already in progress")
    val (compiles0, compileNs0) = compileCounters
    val prev = sc.getLocalProperty(QueryKey)
    sc.setLocalProperty(QueryKey, name)
    val (timing, error) =
      try {
        val t0 = System.nanoTime()
        val df = build
        val t1 = System.nanoTime()
        action(df)
        (Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)), None)
      } catch { case e: Throwable => (None, Some(e.toString)) }
      finally sc.setLocalProperty(QueryKey, prev)
    if (!GraftBus.drain(sc, DrainTimeoutMs)) System.err.println(
      s"[run] listener bus still busy after ${DrainTimeoutMs / 1000} s; " +
        s"counters of $name may be short")
    val (compiles1, compileNs1) = compileCounters
    Metrics.byQuery.remove(name)
    Metrics.byStage.values.removeIf(_ eq acc)
    RunRecord(name, if (error.isEmpty) "ok" else "failed", error,
      timing.map(_._1), timing.map(_._2), acc.jobs.get,
      acc.taskNanos.get / 1e9, acc.shuffleRead.get, acc.shuffleWrite.get,
      acc.spillMem.get, acc.spillDisk.get, acc.peakTaskMem.get,
      compiles1 - compiles0, (compileNs1 - compileNs0) / 1e9)
  }
}
