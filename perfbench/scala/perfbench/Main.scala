package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.etl.Pipeline
import graft.operators.Catalog

/** The benchmark's JVM side. One closed loop with one client: after set-up
  * (session start, warehouse landing where the workload needs it, an
  * untimed verify pass and fixed warm-up passes) it runs passes of every op
  * in a fixed order until `seconds` have elapsed, and writes the raw
  * samples as one JSON record; perfbench/run.py turns them into metrics.
  *
  * Usage: perfbench.Main key=value ... with keys workload, ops (comma
  * list), sf, events, songs, warehouse, expected, out, seconds, warm,
  * trace (0|1), cpus; or `perfbench.Main oracle OUT op,op,...` to dump the
  * Catalog's DuckDB oracle SQL for those ops. */
object Main {

  val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Writes the run record and the spans. NaN stays a bare token, which
    * Python's json module reads as a float. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def nowMs: Double = System.nanoTime() / 1e6 - nanoEpochOffset
  private val nanoEpochOffset = System.nanoTime() / 1e6 - System.currentTimeMillis()

  /** Steal seconds since boot from the first line of /proc/stat (USER_HZ
    * ticks); NaN where the file is missing. */
  def stealS: Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else Double.NaN
    } finally src.close()
  } catch { case NonFatal(_) => Double.NaN }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracle")) {
      val sql = args(2).split(",").toSeq.flatMap(n =>
        Catalog.byName.get(n).flatMap(_.oracle).map(n -> _))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)),
        json.writeValueAsString(sql.toMap))
      return
    }
    val cfg = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val record = new Harness(cfg).run()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfg("out")),
      json.writeValueAsString(record))
  }
}

final class Harness(cfg: Map[String, String]) {
  import Main._

  private val workload = cfg("workload")
  private val opNames = cfg("ops").split(",").toSeq.filter(_.nonEmpty)
  private val seconds = cfg("seconds").toDouble
  private val warmPasses = cfg("warm").toInt
  private val traced = cfg("trace") == "1"
  private val cpus = cfg("cpus")
  private val expected = cfg("expected")
  private val warehouse = cfg("warehouse")

  private val record = mutable.LinkedHashMap[String, Any]()
  private var workloadSpan = 0
  private val failures = mutable.ArrayBuffer[String]()
  private var compareS = 0.0

  /** Run a comparison against the expected values, timed apart so that it
    * is not counted as set-up. */
  private def compare(check: => Seq[String]): Seq[String] = {
    val t = System.nanoTime()
    try check finally compareS += (System.nanoTime() - t) / 1e9
  }

  def run(): mutable.LinkedHashMap[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"perfbench-$workload", cpus)
      .config("spark.local.dir", cfg("tmp"))
      .config("spark.sql.warehouse.dir", s"${cfg("tmp")}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer) else None
    try {
      record("host") = hostInfo(spark)
      record("session_start_s") = sessionS
      measure(spark, tracer, jvmStart)
    } finally spark.stop()
    record("failures") = failures.toSeq
    record
  }

  private def hostInfo(spark: SparkSession): Map[String, Any] = Map(
    "cpus" -> Runtime.getRuntime.availableProcessors,
    "spark_cores" -> spark.sparkContext.defaultParallelism,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "host" -> java.net.InetAddress.getLocalHost.getHostName,
    "jdk" -> System.getProperty("java.version"),
    "jvm" -> System.getProperty("java.vm.name"),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")

  private def measure(spark: SparkSession, tracer: Option[Tracer],
                      jvmStart: Double): Unit = {
    val ops = opNames.map(n => Ops.resolve(n, cfg("sf"), cfg("events"),
      cfg("songs"), warehouse))

    // Set-up: land the warehouse the probes read (star_analytics).
    if (cfg.get("land").contains("1")) {
      val t = System.nanoTime()
      Pipeline.run(spark, cfg("events"), cfg("songs"), warehouse)
      record("landing_s") = (System.nanoTime() - t) / 1e9
      failures ++= compare(Etl.verify(spark, warehouse, expected)).map("landing " + _)
    }

    // Untimed verify pass: every op once, checked against the expected
    // values; its fingerprint token is what every timed pass must repeat.
    val tv = System.nanoTime()
    val reference = mutable.LinkedHashMap[String, String]()
    val verify = ops.map { op =>
      val status = try {
        val out = op.build(spark)
        val token = out.execute()
        val bad = compare(out.verify(spark, expected, token))
        if (bad.isEmpty) { reference(op.name) = token; "ok" }
        else { failures ++= bad; "mismatch" }
      } catch {
        case NonFatal(e) =>
          failures += s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          "error"
      } finally GraftSession.dropCachedBlocks(spark)
      op.name -> status
    }
    record("verify") = verify.toMap
    record("verify_s") = (System.nanoTime() - tv) / 1e9
    val live = ops.filter(o => reference.contains(o.name))

    // Fixed warm-up passes (untimed, results still checked).
    val tw = System.nanoTime()
    (1 to warmPasses).foreach(_ => pass(spark, live, reference, None, 0))
    record("warm_s") = (System.nanoTime() - tw) / 1e9
    System.gc()

    // Timed section. setup_s leaves out the harness's own comparisons
    // against the expected values.
    val first = System.currentTimeMillis().toDouble
    record("compare_s") = compareS
    record("setup_s") = (first - jvmStart) / 1e3 - compareS
    val load0 = os.getSystemLoadAverage
    val (steal0, jit0) = (stealS, jitS)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val heapMb = mutable.ArrayBuffer[Double]()
    tracer.foreach(t => workloadSpan = t.newId())
    val start = System.nanoTime()
    var i = 0
    var attached = false
    while ((System.nanoTime() - start) / 1e9 < seconds || passes.size < 2) {
      i += 1
      // With tracing on, half the passes run with the tracer detached, in
      // the order traced, idle, idle, traced (which cancels a linear
      // warm-up trend), so the record carries the tracing overhead of this
      // JVM: fully traced against untraced passes.
      val tr = if (i % 4 <= 1) tracer else None
      tracer.foreach { t =>
        if (tr.isDefined && !attached) t.attach(spark)
        if (tr.isEmpty && attached) t.detach(spark)
        attached = tr.isDefined
      }
      passes += pass(spark, live, reference, tr, i) + ("traced" -> tr.isDefined)
      System.gc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    if (attached) tracer.foreach(_.detach(spark))
    record("timed_s") = (System.nanoTime() - start) / 1e9
    record("jit_s") = jitS - jit0
    record("steal_s") = stealS - steal0
    record("load_avg") = Seq(load0, os.getSystemLoadAverage)
    record("passes") = passes.toSeq
    record("heap_after_gc_mb") = heapMb.toSeq
    if (workload == "sparkify_etl" || cfg.get("land").contains("1"))
      record("stored_bytes") = Etl.bytesIn(warehouse)
    tracer.foreach { t =>
      t.addSpan(Span(workloadSpan, 0, "workload", workload, "", first, nowMs))
      record("spans") = t.spans.size
      writeSpans(t, cfg("trace_out"))
    }
  }

  /** One pass: every live op once, in order. Returns the pass's raw
    * samples; an op that throws or whose output differs from its verified
    * fingerprint is recorded as failed and gets no timing. */
  private def pass(spark: SparkSession, ops: Seq[Op],
                   reference: collection.Map[String, String],
                   tracer: Option[Tracer], index: Int): Map[String, Any] = {
    val sc = spark.sparkContext
    val (c0, g0, j0) = (cpuS, gcS, jitS)
    val passStart = nowMs
    val passId = tracer.map(_.newId()).getOrElse(0)
    val samples = ops.map { op =>
      val key = s"p$index.${op.name}"
      val ids = tracer.map(t => (t.newId(), t.newId(), t.newId()))
      ids.foreach { case (_, b, x) => tracer.get.registerOp(key, b, x) }
      if (tracer.isDefined) sc.setLocalProperty(Tracer.OpKey, key)
      val opStart = nowMs
      val t0 = System.nanoTime()
      var t1 = t0
      var buildEnd = opStart
      val sample = try {
        sc.setLocalProperty(Tracer.PhaseKey, "build")
        val out = op.build(spark)
        t1 = System.nanoTime()
        buildEnd = nowMs
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        val token = out.execute()
        val t2 = System.nanoTime()
        val files = out.filesWritten
        if (token == reference(op.name))
          Map("op" -> op.name, "ok" -> true, "build_s" -> (t1 - t0) / 1e9,
            "exec_s" -> (t2 - t1) / 1e9, "s" -> (t2 - t0) / 1e9,
            "files_written" -> files)
        else {
          failures += s"${op.name} pass $index: output $token != verified ${reference(op.name)}"
          Map("op" -> op.name, "ok" -> false)
        }
      } catch {
        case NonFatal(e) =>
          failures += s"${op.name} pass $index: ${e.getClass.getSimpleName}: ${e.getMessage}"
          Map("op" -> op.name, "ok" -> false)
      } finally {
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
        GraftSession.dropCachedBlocks(spark)
      }
      val opEnd = nowMs
      tracer.foreach { t =>
        val (opId, b, x) = ids.get
        val opSpan = Span(opId, passId, "op", op.name, key, opStart, opEnd)
        t.addSpan(opSpan)
        t.addSpan(Span(b, opId, "build", "build", key, opStart, buildEnd))
        t.addSpan(Span(x, opId, "exec", "exec", key, buildEnd, opEnd))
        org.apache.spark.PerfbenchBus.drain(sc)
        val open = t.openJobs(key)
        if (open != 0) failures += s"${op.name} pass $index: $open jobs never ended"
        t.closeOp(key, opSpan)
      }
      sample ++ tracer.map(t => Map("layers" -> layers(t.counts(key)))).getOrElse(Map.empty)
    }
    val passEnd = nowMs
    tracer.foreach(t => t.addSpan(Span(passId, workloadSpan, "pass", s"pass $index", "", passStart, passEnd)))
    Map("index" -> index, "wall_s" -> (passEnd - passStart) / 1e3,
      "cpu_s" -> (cpuS - c0), "gc_s" -> (gcS - g0), "jit_s" -> (jitS - j0),
      "ops" -> samples)
  }

  private def layers(c: Tracer.Counters): Map[String, Any] = Map(
    "build_jobs" -> c.buildJobs, "exec_jobs" -> c.execJobs,
    "stages" -> c.stages, "stages_skipped" -> c.stagesSkipped,
    "tasks" -> c.tasks, "failed_tasks" -> c.failedTasks,
    "task_s" -> c.taskMs / 1e3, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
    "slot_wait_s" -> c.slotWaitMs / 1e3,
    "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
    "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
    "spill_mb" -> c.spill / 1048576.0,
    "input_rows" -> c.inputRows, "input_mb" -> c.inputBytes / 1048576.0,
    "output_rows" -> c.outputRows, "output_mb" -> c.outputBytes / 1048576.0,
    "plan_s" -> c.planMs.map { case (k, v) => k -> v / 1e3 }.toMap,
    "etl_s" -> c.etlMs.map { case (k, v) => k -> v / 1e3 }.toMap,
    "readback_jobs" -> c.readbackJobs,
    "batches" -> c.batches, "empty_batches" -> c.emptyBatches,
    "batch_s" -> c.batchMs / 1e3, "state_rows" -> c.stateRows)

  /** Spans kept in memory, written once at exit, with each span's self
    * time (duration less its children). */
  private def writeSpans(t: Tracer, path: String): Unit = {
    val spans = t.spans.toSeq
    val self = Tracer.selfTimes(spans)
    val rows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "op" -> s.op, "start_ms" -> s.start,
      "end_ms" -> s.end, "self_ms" -> self(s.id)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.writeValueAsString(rows))
  }
}
