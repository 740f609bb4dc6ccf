package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Times are epoch milliseconds; `op` is the
  * id every span of one op shares ("p3.q_tpch_q9_profit"), empty above
  * the op level. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      op: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** The per-layer tracer, registered from outside the engine: a
  * SparkListener (jobs, stages, tasks, SQL executions), a
  * QueryExecutionListener (Catalyst phases) and a StreamingQueryListener
  * (micro-batches). Jobs are attributed exactly: the harness sets the
  * `perfbench.op` / `perfbench.phase` local properties before each call,
  * and Spark captures them in `SparkListenerJobStart.properties` at
  * submit time. The harness attaches it only for traced passes, so an
  * idle pass runs with no tracer code on the bus. */
final class Tracer extends SparkListener {
  import Tracer._

  private val lock = new Object
  private var nextId = 1
  val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, Job]()
  private val stageOwner = mutable.Map[Int, Job]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val execs = mutable.Map[Long, SqlExec]()
  private val counters = mutable.Map[String, Counters]()
  private val plans = mutable.ArrayBuffer[(String, Double, Double)]()
  private val batches = mutable.ArrayBuffer[(Double, Double, Long, Long)]()
  private var opEnv: Map[String, (Int, Int)] = Map.empty // op -> (build, exec) span ids

  def newId(): Int = lock.synchronized { nextId += 1; nextId }

  def addSpan(s: Span): Unit = lock.synchronized { spans += s }

  /** Register the op's build and exec span ids so its jobs nest under them. */
  def registerOp(op: String, buildSpan: Int, execSpan: Int): Unit =
    lock.synchronized { opEnv += op -> (buildSpan, execSpan) }

  def counts(op: String): Counters =
    lock.synchronized(counters.getOrElseUpdate(op, new Counters))

  def openJobs(op: String): Int = lock.synchronized {
    jobs.values.count(j => j.op == op && j.end.isEmpty)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    if (op.nonEmpty) lock.synchronized {
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("exec")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val job = Job(e.jobId, op, phase, e.time, e.stageInfos.map(_.stageId), exec)
      jobs(e.jobId) = job
      e.stageInfos.foreach(s => stageOwner.getOrElseUpdate(s.stageId, job))
      val c = counters.getOrElseUpdate(op, new Counters)
      if (phase == "build") c.buildJobs += 1 else c.execJobs += 1
      c.stages += e.stageInfos.size
      exec.foreach(id => execs.get(id).foreach(_.jobs += 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = Some(e.time)
      val c = counters.getOrElseUpdate(j.op, new Counters)
      c.stagesSkipped += j.stageIds.count(s => !stageSubmit.contains(s))
      val parent = opEnv.get(j.op)
        .map { case (b, x) => if (j.phase == "build") b else x }.getOrElse(0)
      val jid = newIdLocked()
      spans += Span(jid, parent, "job", s"job ${j.id}", j.op, j.start.toDouble, e.time.toDouble)
      j.spanId = jid
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val info = e.stageInfo
      stageOwner.get(info.stageId).foreach { j =>
        val start = info.submissionTime.orElse(stageSubmit.get(info.stageId))
          .getOrElse(j.start).toDouble
        val end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble
        j.stageSpans += Span(newIdLocked(), 0, "stage",
          s"stage ${info.stageId}.${info.attemptNumber()}", j.op, start, end)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageOwner.get(e.stageId).foreach { j =>
      val c = counters.getOrElseUpdate(j.op, new Counters)
      val info = e.taskInfo
      c.tasks += 1
      if (info.failed || info.killed) c.failedTasks += 1
      stageSubmit.get(e.stageId).foreach { sub =>
        c.slotWaitMs += math.max(0L, info.launchTime - sub)
      }
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputRows += m.outputMetrics.recordsWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => lock.synchronized {
      execs(s.executionId) = SqlExec(s.executionId, s.time,
        Option(s.physicalPlanDescription).getOrElse(""))
    }
    case s: SparkListenerSQLExecutionEnd => lock.synchronized {
      execs.get(s.executionId).foreach(_.end = Some(s.time))
    }
    case _ =>
  }

  /** Catalyst phases of every executed plan, attributed to ops by time. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      qe.tracker.phases.foreach { case (phase, p) =>
        plans += ((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      lock.synchronized { batches += ((start, start + dur, p.numInputRows, state)) }
    }
  }

  private def newIdLocked(): Int = { nextId += 1; nextId }

  /** Register all three listeners with the session, after draining the
    * bus so that no event of earlier, untraced work reaches them. */
  def attach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Remove all three listeners, after draining the bus so that every
    * event of the traced work has been delivered. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Close an op: nest its stages, plan phases and micro-batches under it
    * and fold the SQL executions it ran into the ETL table accounting.
    * Call after the bus is drained. */
  def closeOp(op: String, opSpan: Span): Unit = lock.synchronized {
    jobs.values.filter(_.op == op).foreach { j =>
      j.stageSpans.foreach(s => spans += s.copy(parent = j.spanId))
      j.stageSpans.clear()
    }
    val c = counters.getOrElseUpdate(op, new Counters)
    plans.filter { case (_, s, e) => s >= opSpan.start && e <= opSpan.end }
      .foreach { case (phase, s, e) =>
        spans += Span(newIdLocked(), opSpan.id, "plan", phase, op, s, e)
        c.planMs(phase) = c.planMs.getOrElse(phase, 0.0) + (e - s)
      }
    plans.filterInPlace { case (_, _, e) => e > opSpan.end }
    batches.filter { case (s, _, _, _) => s >= opSpan.start && s <= opSpan.end }
      .foreach { case (s, e, rows, state) =>
        spans += Span(newIdLocked(), opSpan.id, "batch", "micro-batch", op, s, e)
        c.batches += 1
        if (rows == 0) c.emptyBatches += 1
        c.batchMs += e - s
        c.stateRows = math.max(c.stateRows, state)
      }
    batches.filterInPlace { case (s, _, _, _) => s > opSpan.end }
    val opExecs = jobs.values.filter(_.op == op).flatMap(_.exec).toSet
    opExecs.flatMap(execs.get).foreach { x =>
      // The write command is the plan's root, so in the formatted plan its
      // target path comes after the paths of the tables it reads.
      WriteTarget.findAllMatchIn(x.plan).toSeq.lastOption match {
        case Some(m) if x.plan.contains("InsertIntoHadoopFsRelationCommand") =>
          val t = m.group(1)
          c.etlMs(t) = c.etlMs.getOrElse(t, 0.0) +
            (x.end.getOrElse(x.start) - x.start)
        case Some(_) => c.readbackJobs += x.jobs
        case None =>
      }
    }
    opExecs.foreach(execs.remove)
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** A warehouse table named in a write or read-back plan. */
  val WriteTarget = "/warehouse/([a-z_]+)".r

  final case class Job(id: Int, op: String, phase: String, start: Long,
                       stageIds: Seq[Int], exec: Option[Long]) {
    var end: Option[Long] = None
    var spanId: Int = 0
    val stageSpans = mutable.ArrayBuffer[Span]()
  }

  final case class SqlExec(id: Long, start: Long, plan: String) {
    var end: Option[Long] = None
    var jobs: Int = 0
  }

  /** Counts recorded at the layer boundaries of one op. */
  final class Counters {
    var buildJobs, execJobs, stages, stagesSkipped, tasks, failedTasks = 0L
    var taskMs, cpuNs, gcMs, slotWaitMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var inputRows, inputBytes, outputRows, outputBytes = 0L
    var batches, emptyBatches, stateRows, readbackJobs = 0L
    var batchMs = 0.0
    val planMs = mutable.Map[String, Double]()
    val etlMs = mutable.Map[String, Double]()
  }

  /** Self time of each span: its duration less the union of its
    * children's intervals clipped to it. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }
}
