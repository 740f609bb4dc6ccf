package graft.tools

/** Plan capture for the optimization-round evidence trail:
  *
  *   runMain graft.tools.PlanDumpMain <outDir> <suffix> <q1> [q2 ...]
  *
  * Writes explain("formatted") of each named catalog query to
  * `<outDir>/<name>_<suffix>.txt` (e.g. plans/r13/q_x_assoc_rules_before.txt)
  * in ONE JVM/session, against SPARK_GRAFT_SF_DIR (default sf0.1) — the
  * same session conf as Bench, so the captured plan is the benched plan.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.tools.PlanDumpMain <outDir> <suffix> <q1> [q2 ...]")
      sys.exit(2)
    }
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    java.nio.file.Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession.builder("graft-plandump", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val q = graft.operators.Catalog.byName.getOrElse(name, {
        System.err.println(s"unknown query '$name'"); sys.exit(2)
        throw new IllegalStateException
      })
      // queryExecution.explainString renders without executing; queries
      // whose CONSTRUCTION runs driver probes (anchors) still execute
      // those, which is inherent to their shape. PlanTrace.capture
      // additionally collects the interior frames such operators register
      // right before materializing them, so checkpoint-degenerate final
      // plans still carry verifiable evidence of the executed shape.
      val (df, interior) = PlanTrace.capture(q.run(spark, sfDir))
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode) + interior
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$suffix.txt"), txt)
      graft.GraftSession.dropCachedBlocks(spark)
      System.err.println(s"[plandump] wrote ${name}_$suffix.txt")
    }
    spark.stop()
  }
}
