package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.tools.{Run, RunRecord}

/** Benchmark main — driver contract: run the query surface on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Every query runs through [[graft.tools.Run]] into the `noop` sink,
  * which executes the full plan and discards the rows. A query that fails
  * in any pass gets no timing: it leaves the `queries` map and the total
  * and is listed under `failed`.
  *
  * Local iteration: `SPARK_GRAFT_ONLY=q_a,q_b SPARK_GRAFT_REPS=n` times
  * just those queries, min of n, without touching the banked files.
  */
object Bench {
  private def write(file: String, line: String): Unit =
    try {
      val w = new java.io.PrintWriter(file, "UTF-8")
      try w.println(line) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $file write failed: ${e.getMessage}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = only.fold(operators.Catalog.all)(
      names => operators.Catalog.all.filter(q => names(q.name)))
    // Validate before any work: reps < 1 would leave every query
    // untimed — fail loudly, and before the (minutes-long) warm pass.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val spark = GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM/codegen paths on the smallest SF so per-query timings
    // measure the plan, not first-use classloading.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      queries.foreach { q =>
        try Run.noop(q.run(spark, warmDir))
        catch { case _: Throwable => () }
        GraftSession.dropCachedBlocks(spark)
      }
    }

    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // load_avg_start exists to expose CO-TENANT load, but the 1-minute
    // average at this point is dominated by our own sbt+JVM+warmup spin-up.
    // SPARK_GRAFT_SETTLE_SECS idles the process before sampling so our
    // startup decays out of the window (1-min load decays e^-1 per minute).
    sys.env.get("SPARK_GRAFT_SETTLE_SECS").map(_.toLong).filter(_ > 0)
      .foreach { s =>
        System.err.println(s"[bench] settling ${s}s before timed passes")
        Thread.sleep(s * 1000)
      }
    val loadStart = loadAvg

    // MIN over `reps` timed runs per query, with reps INTERLEAVED at suite
    // level: the whole query list runs end-to-end `reps` times, and each
    // query's estimate is its min across passes. Co-tenant load on a
    // shared host arrives in multi-minute bursts and is strictly additive,
    // so the min is the robust estimator of intrinsic plan cost — and
    // spacing the reps a full suite apart means a burst inflates one pass,
    // not all reps of one query.
    val records = mutable.LinkedHashMap[String, mutable.ArrayBuffer[RunRecord]]()
    queries.foreach(q => records(q.name) = mutable.ArrayBuffer[RunRecord]())
    for (pass <- 1 to reps) {
      queries.foreach { q =>
        val r = Run.query(spark, q.name, q.run(spark, sfDir), Run.noop)
        r.error.foreach(e => System.err.println(s"[bench] ${q.name} failed: $e"))
        GraftSession.dropCachedBlocks(spark)
        records(q.name) += r
      }
      System.err.println(f"[bench] pass $pass/$reps done")
    }
    val loadEnd = loadAvg

    val (okRuns, failedRuns) = records.toSeq.partition(_._2.forall(_.ok))
    val walls = okRuns.map { case (k, rs) => k -> rs.flatMap(_.wallS).toSeq }
    val total = walls.map(_._2.min).sum

    // Self-describing default: driver-initiated refreshes don't set
    // SPARK_GRAFT_RUN_LABEL, and an empty label makes the bench_out.json
    // working-tree drift unreadable — stamp run time + HEAD instead.
    // `git rev-parse` is best-effort (bench may run outside a checkout).
    def defaultLabel: String = {
      val ts = java.time.format.DateTimeFormatter.ISO_INSTANT.format(
        java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS))
      val head =
        try {
          val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
          if (p.waitFor() == 0 && out.nonEmpty) s"@$out" else ""
        } catch { case _: Exception => "" }
      s"auto $ts$head"
    }
    val label = sys.env.get("SPARK_GRAFT_RUN_LABEL").filter(_.nonEmpty)
      .getOrElse(defaultLabel)
    val host = java.net.InetAddress.getLocalHost.getHostName
    val cpusJson: Any = cpus.toIntOption.getOrElse(cpus)
    def d3(x: Double) = Json.fixed(x, 3)
    // The HEADLINE line the driver parses stays short (a long line risks
    // tail truncation and a "parsed": null round). Per-pass seconds, CVs
    // and the per-query run records go to the SIDE file bench_raw.json.
    val json = Json.write(ListMap(
      "metric" -> "total", "value" -> d3(total), "unit" -> "sec",
      "queries" -> ListMap.from(walls.map { case (k, ps) => k -> d3(ps.min) }),
      "failed" -> failedRuns.map(_._1), "sf" -> sfDir, "reps" -> reps,
      "cpus" -> cpusJson, "host" -> host, "label" -> label,
      "load_avg_start" -> Json.fixed(loadStart, 2),
      "load_avg_end" -> Json.fixed(loadEnd, 2)))

    def perQuery(f: Seq[RunRecord] => Any) =
      ListMap.from(records.map { case (k, rs) => k -> f(rs.toSeq) })
    val cv = ListMap.from(walls.map { case (k, ps) =>
      val mean = ps.sum / ps.size
      val c = if (mean > 0 && ps.size > 1)
        math.sqrt(ps.map(p => (p - mean) * (p - mean)).sum / ps.size) / mean
      else 0.0
      k -> Json.fixed(c, 2)
    })
    // task_sec sums ALL reps' task time; task_sec/(reps × min wall) ≫ 1
    // ⇒ the query parallelizes. jobs is per pass (identical across passes
    // for a deterministic plan).
    val raw = Json.write(ListMap(
      "label" -> label, "reps" -> reps, "cpus" -> cpusJson, "host" -> host,
      "passes" -> ListMap.from(walls.map { case (k, ps) => k -> ps.map(d3) }),
      "cv" -> cv,
      "build_s" -> perQuery(_.flatMap(_.buildS).map(d3)),
      "jobs" -> perQuery(_.last.jobs),
      "task_sec" -> perQuery(rs => Json.fixed(rs.map(_.taskS).sum, 2)),
      // Per pass, JVM-wide (see RunRecord): 0 once a query's generated
      // classes are all in the codegen cache.
      "compiles" -> perQuery(_.map(_.compiles)),
      "compile_s" -> perQuery(_.map(r => d3(r.compileS))),
      "failed" -> ListMap.from(failedRuns.map { case (k, rs) =>
        k -> rs.flatMap(_.error).head })))
    // The JSON goes to a file in the repo root AND is the final stdout
    // line of the run. Filtered (SPARK_GRAFT_ONLY) runs skip the files so
    // a focused re-measure can't clobber the canonical full-suite record.
    if (only.isEmpty) {
      write("bench_out.json", json)
      write("bench_raw.json", raw)
    }
    spark.stop()
    println(json)
  }
}
