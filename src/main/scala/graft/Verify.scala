package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.builder("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local iteration aid (mirrors Bench): SPARK_GRAFT_ONLY=q_a,q_b
    // restricts the dump; unset (the driver's invocation) runs everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // keep checkpointed blocks from piling up across the 100-query sweep
      GraftSession.dropCachedBlocks(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.write(SparkEntry.oracleSql))
    spark.stop()
  }
}
