package graft.tools

import graft.ext.Curation
import graft.sources.Sources

/** Executable curation-pipeline demo:
  *
  *   runMain graft.tools.CurationMain [sfDir] [minQualityBp] [decontaminate]
  *
  * Runs dedup → [benchmark decontamination] → quality gate → PII
  * redaction → chunking → split over the documents table and prints the
  * per-stage report plus split balance. Passing `decontaminate` as the
  * third argument enables the overlap-removal stage against the 1-in-50
  * doc sample standing in for an eval set.
  */
object CurationMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val minQ = args.lift(1).map(_.toLong).getOrElse(4000L)
    val decon = args.lift(2).contains("decontaminate")
    val cpus = graft.GraftSession.defaultCpus
    val spark = graft.GraftSession.builder("graft-curation", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Sources.table(spark, sfDir, "documents")
    val r = Curation.run(docs, minQualityBp = minQ,
      decontaminateAgainst =
        if (decon) Some(docs.filter("doc_id % 50 = 0")) else None)
    println(f"[curation] input docs        ${r.report.input}%d")
    println(f"[curation] after exact dedup ${r.report.afterExactDedup}%d")
    println(f"[curation] after near dedup  ${r.report.afterNearDedup}%d")
    r.report.afterDecontamination.foreach(n =>
      println(f"[curation] after decontam    $n%d"))
    println(f"[curation] after quality     ${r.report.afterQuality}%d")
    println(f"[curation] output chunks     ${r.report.chunks}%d")
    r.chunks.groupBy("split").count().orderBy("split").collect()
      .foreach(row => println(
        f"[curation]   split=${row.getString(0)}%-6s ${row.getLong(1)}%d chunks"))
    // final layout: per-(split, shard) 512-token training sequences
    val packed = Curation.layout(r.chunks)
    packed.groupBy("split").agg(
        org.apache.spark.sql.functions.countDistinct("shard", "seq").as("n_seqs"),
        org.apache.spark.sql.functions.sum("n_tok").as("n_tokens"))
      .orderBy("split").collect()
      .foreach(row => println(
        f"[curation]   layout ${row.getString(0)}%-6s ${row.getLong(1)}%d seqs, ${row.getLong(2)}%d tokens"))
    spark.stop()
  }
}
