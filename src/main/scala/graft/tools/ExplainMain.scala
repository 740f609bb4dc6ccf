package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan inspection:
  *
  *   runMain graft.tools.ExplainMain <queryName> [sfDir]
  *
  * Prints explain("formatted") for one catalog query — the iterate-on-the-
  * plan loop (pushdown present? dims broadcast? codegen spans wide?).
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.ExplainMain <queryName|list> [sfDir]")
      sys.exit(2)
    }
    if (args(0) == "list") {
      graft.operators.Catalog.all.foreach(q => println(s"${q.name}  — ${q.doc}"))
      return
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession.builder("graft-explain", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = graft.operators.Catalog.byName.getOrElse(args(0), {
      System.err.println(s"unknown query '${args(0)}' — try: runMain graft.tools.ExplainMain list")
      sys.exit(2); throw new IllegalStateException
    })
    q.run(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
