package graft.tools

import graft.GraftSession
import graft.operators.{Catalog, Golden}

/** Prints the canonical [[graft.operators.Golden]] fingerprints of the
  * rows-only queries for one testdata dir, as ready-to-paste Scala map
  * entries for [[graft.operators.GoldenSnapshots]]. Run once per
  * committed scale factor after any INTENDED output-affecting change to
  * the codecs or the k-means init:
  *
  * {{{ sbt "runMain graft.tools.GoldenDumpMain /root/testdata/sf0.01" }}}
  */
object GoldenDumpMain {
  def main(args: Array[String]): Unit = {
    val Array(dir) = args
    val spark = GraftSession.builder("graft-golden-dump",
      GraftSession.defaultCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Snapshots are keyed by the testdata dir's BASENAME (Golden.violations
    // looks entries up that way — row counts collide across sf0.001/sf0.01),
    // so print exactly the Map[String, (Long, String)] entry to paste.
    val key = new java.io.File(dir).getName
    val queries = Seq(
      "q_x_image_phash", "q_x_multimodal_features", "q_x_kmeans_sizes",
      "q_x_cdc_dedup")
    queries.foreach { q =>
      val fp = Golden.fingerprint(Catalog.byName(q).run(spark, dir)).head()
      println(s"""[golden] $q: "$key" -> (${fp.getLong(0)}L, "${fp.getString(1)}")""")
    }
    spark.stop()
  }
}
