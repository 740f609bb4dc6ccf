package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import java.lang.management.ManagementFactory

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What one query run cost, split into the two layers a caller can time
  * from the driver: `buildS` is the eager work inside the query's
  * construction (localCheckpoint, probe collects, streaming drains) and
  * `execS` the action over the frame it returned. A failed run carries no
  * timing at all: a failure's seconds are not a measurement of the query.
  * The counters sum over every task of every job the run submitted,
  * except `compiles`, `compileS` and `allocBytes`: the classes the
  * engine's code generator compiled during the run, the seconds it spent
  * compiling them, and the heap bytes the JVM's threads allocated
  * meanwhile (`getTotalThreadAllocatedBytes`). Those are JVM-wide deltas, not
  * attributed per job, so they include what any other thread compiled or
  * allocated meanwhile. `stream` sums the micro-batches of the streams
  * the run drained, if it drained any. */
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
    compileS: Double,
    allocBytes: Long,
    stream: Option[StreamPhases]) {
  def ok: Boolean = status == "ok"
  def wallS: Option[Double] = for (b <- buildS; e <- execS) yield b + e
}

/** Where a run's streams spent their micro-batches, from the queries' own
  * progress reports: how many batches ran, how many of them read no input
  * rows (the watermark-advance batch), and the summed milliseconds of the
  * phases in [[StreamPhases.Keys]]. */
final case class StreamPhases(batches: Int, emptyBatches: Int, durationMs: Map[String, Long]) {
  def +(o: StreamPhases): StreamPhases = StreamPhases(batches + o.batches,
    emptyBatches + o.emptyBatches,
    StreamPhases.Keys.map(k => k -> (durationMs(k) + o.durationMs(k))).toMap)
}

object StreamPhases {
  val Keys = Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning")

  /** Only triggers that ran a batch count (they time `addBatch`); an idle
    * trigger's report has no batch to attribute. */
  def of(progress: Seq[StreamingQueryProgress]): StreamPhases = {
    val ran = progress.filter(_.durationMs.containsKey("addBatch"))
    StreamPhases(ran.size, ran.count(_.numInputRows == 0), Keys.map(k =>
      k -> ran.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum).toMap)
  }
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
    val stream = new AtomicReference[Option[StreamPhases]](None)
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

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes the JVM's threads have allocated so far, ended threads
    * included. */
  private def allocated: Long = threads.getTotalThreadAllocatedBytes

  /** Add a drained stream's progress reports to the run named by the
    * calling thread's `graft.query` local property; outside a run, they
    * are dropped. */
  def recordStream(sc: SparkContext, progress: Seq[StreamingQueryProgress]): Unit =
    Option(sc.getLocalProperty(QueryKey)).flatMap(q => Option(Metrics.byQuery.get(q)))
      .foreach { acc =>
        val phases = StreamPhases.of(progress)
        acc.stream.getAndUpdate(prev => Some(prev.fold(phases)(_ + phases)))
      }

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
    val alloc0 = allocated
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
    val alloc1 = allocated
    Metrics.byQuery.remove(name)
    Metrics.byStage.values.removeIf(_ eq acc)
    RunRecord(name, if (error.isEmpty) "ok" else "failed", error,
      timing.map(_._1), timing.map(_._2), acc.jobs.get,
      acc.taskNanos.get / 1e9, acc.shuffleRead.get, acc.shuffleWrite.get,
      acc.spillMem.get, acc.spillDisk.get, acc.peakTaskMem.get,
      compiles1 - compiles0, (compileNs1 - compileNs0) / 1e9, alloc1 - alloc0,
      acc.stream.get)
  }
}
