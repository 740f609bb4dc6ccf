package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

import graft.operators.{Catalog, Q}

/** Plan inspection and the optimization-round evidence trail:
  *
  *   runMain graft.tools.PlanDumpMain list
  *   runMain graft.tools.PlanDumpMain <outDir|-> <suffix> <q1> [q2 ...]
  *
  * `list` prints every registered query. Otherwise each named catalog
  * query is built under [[PlanTrace.capture]] and its dump is written to
  * `<outDir>/<name>_<suffix>.txt` (e.g. plans/r13/q_x_assoc_rules_before.txt),
  * or to stdout when outDir is `-`. A dump is the final adaptive plan
  * (`isFinalPlan=true`: the frame is run first) of the frame the query
  * returns, followed by the plan of every SQL execution that ran while it
  * was built (checkpoints, probes): for an operator that checkpoints, the
  * final plan alone is a bare `Scan ExistingRDD`.
  *
  * All queries run in ONE session with Bench's conf, against
  * SPARK_GRAFT_SF_DIR (default sf0.1), so the dumped plan is the benched
  * plan; plans are size-dependent, so dump at the scale you mean.
  */
object PlanDumpMain {
  /** Values that differ between two runs of the same build, with the
    * fixed token each becomes: expression ids (`id#1196L` → `id#NL`),
    * lambda variable names (`lambda x_11` → `lambda x_N`), plan ids, RDD
    * ids of checkpointed frames, identity hashes of objects printed in a
    * plan (`MinHashMerge$@1e8f20bf` → `MinHashMerge$@H`), the JVM's
    * names for lambda classes (`$Lambda$5677/0x00007f9f1555e660` →
    * `$Lambda$N`), UUIDs (state store and watermark ids of streaming
    * queries) and memory-sink names (`graft_stream_12` → `graft_stream_N`,
    * numbered per JVM). */
  private val runSpecific = Seq(
    "#\\d+".r -> "#N",
    "\\b(lambda [a-z]+)_\\d+".r -> "$1_N",
    "plan_id=\\d+".r -> "plan_id=N",
    "RDD\\[\\d+\\]".r -> "RDD[N]",
    "(?<=[\\w$])@[0-9a-f]{5,8}\\b".r -> "@H",
    "\\$Lambda\\$\\d+/0x[0-9a-f]+".r -> "\\$Lambda\\$N",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r -> "UUID",
    "\\bgraft_stream_\\d+".r -> "graft_stream_N")

  private def normalize(plan: String): String =
    runSpecific.foldLeft(plan) { case (p, (re, token)) => re.replaceAllIn(p, token) }

  /** The normalized dump of one query on `sfDir`. */
  def dump(spark: SparkSession, q: Q, sfDir: String): String = {
    val (df, executed) = PlanTrace.capture(spark)(q.run(spark, sfDir))
    val built = executed.zipWithIndex.map { case (p, i) =>
      s"\n== Executed while building (${i + 1} of ${executed.size}) ==\n$p"
    }
    // run the frame's own QueryExecution (count() would plan a new one)
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plandump"))(qe.toRdd.foreach(_ => ()))
    normalize(qe.explainString(FormattedMode) + built.mkString)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "list" :: Nil =>
      Catalog.all.foreach(q => println(s"${q.name}  — ${q.doc}"))
    case out :: suffix :: names if names.nonEmpty =>
      val qs = names.map(n => Catalog.byName.getOrElse(n, {
        System.err.println(s"unknown query '$n' — try: runMain graft.tools.PlanDumpMain list")
        sys.exit(2)
      }))
      val outDir = Option.when(out != "-")(java.nio.file.Paths.get(out))
      outDir.foreach(java.nio.file.Files.createDirectories(_))
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val spark = graft.GraftSession
        .builder("graft-plandump", graft.GraftSession.defaultCpus).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      for (q <- qs) {
        val txt = dump(spark, q, sfDir)
        graft.GraftSession.dropCachedBlocks(spark)
        outDir match {
          case Some(d) =>
            java.nio.file.Files.writeString(d.resolve(s"${q.name}_$suffix.txt"), txt)
            System.err.println(s"[plandump] wrote ${q.name}_$suffix.txt")
          case None => println(s"===== ${q.name} =====\n$txt")
        }
      }
      spark.stop()
    case _ =>
      System.err.println("usage: runMain graft.tools.PlanDumpMain list\n" +
        "       runMain graft.tools.PlanDumpMain <outDir|-> <suffix> <q1> [q2 ...]")
      sys.exit(2)
  }
}
