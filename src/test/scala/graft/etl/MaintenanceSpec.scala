package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Sources

class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("compact: many small files collapse, data identical, report sane") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val df = (0L until 5000L).map(i => (i, s"row_$i")).toDF("id", "payload")
    df.repartition(64).write.parquet(dir) // simulate a small-file mess
    val before = spark.read.parquet(dir)
      .orderBy("id").collect().map(_.toSeq)

    val report = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(report.filesBefore == 64)
    assert(report.filesAfter == 1)
    assert(report.bytes > 0)
    val after = spark.read.parquet(dir).orderBy("id").collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
    // idempotent: compacting a compacted table is a no-op shape-wise
    assert(Maintenance.compact(spark, dir, 1L << 30).filesAfter == 1)
  }

  test("compact: Hive-partitioned table keeps its dt= layout and data") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-compact-part").toString + "/t"
    val df = (0L until 2000L)
      .map(i => (i, s"2024-01-0${i % 3 + 1}", s"row_$i")).toDF("id", "dt", "v")
    df.repartition(16).write.partitionBy("dt").parquet(dir)
    val before = spark.read.parquet(dir)
      .orderBy("id").collect().map(_.toSeq)

    val report = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(report.filesAfter == 3, "one file per dt partition")
    assert(report.filesBefore > report.filesAfter)

    // layout preserved: dt= subdirectories still present → pruning works
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(subdirs.count(_.startsWith("dt=")) == 3, s"got $subdirs")

    val after = spark.read.parquet(dir).orderBy("id").collect().map(_.toSeq)
    assert(after.toSeq == before.toSeq)
  }

  test("mergeUpsert: updates win per key, versions ordered, base preserved") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("id", "v", "payload").write.parquet(dir)
    // update id=2, insert id=4 (two versions — the later must win)
    val updates = Seq((2L, 2L, "b2"), (4L, 1L, "d-old"), (4L, 2L, "d"))
      .toDF("id", "v", "payload")
    val report = Maintenance.mergeUpsert(spark, dir, updates, "id", "v")
    assert(report.baseRows == 3 && report.updateRows == 3 && report.resultRows == 4)
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == Map(
      1L -> ((1L, "a")), 2L -> ((2L, "b2")),
      3L -> ((1L, "c")), 4L -> ((2L, "d"))))
  }

  test("mergeUpsert: stale update cannot clobber newer base; equal version → update wins") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-upsert-ver").toString + "/t"
    Seq((1L, 5L, "base-new"), (2L, 5L, "base-tie"))
      .toDF("id", "v", "payload").write.parquet(dir)
    val updates = Seq((1L, 3L, "stale"), (2L, 5L, "upd-tie"))
      .toDF("id", "v", "payload")
    Maintenance.mergeUpsert(spark, dir, updates, "id", "v")
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out == Map(
      1L -> ((5L, "base-new")), // version order beats side order
      2L -> ((5L, "upd-tie")))) // side tag only breaks version ties
  }

  test("compact: leftover staging dirs are invisible to readers and reruns") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-compact-crash").toString + "/t"
    val df = (0L until 300L)
      .map(i => (i, s"2024-01-0${i % 2 + 1}", s"row_$i")).toDF("id", "dt", "v")
    df.repartition(4).write.partitionBy("dt").parquet(dir)
    // simulate a crash mid-swap: a staged copy of dt=2024-01-01 left
    // behind, under the exact name compact would have used
    val (tmpStage, _) = Maintenance.stagingPaths(
      new org.apache.hadoop.fs.Path(dir + "/dt=2024-01-01"), "compact")
    spark.read.parquet(dir + "/dt=2024-01-01").write.parquet(tmpStage.toString)
    // partition discovery must NOT pick the leftover up as data
    assert(spark.read.parquet(dir).count() == 300)
    // and a rerun must not compact it as a partition either
    val report = Maintenance.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(report.filesAfter == 2, "one file per real dt partition")
    assert(spark.read.parquet(dir).count() == 300)
  }

  test("readMergedParquet: schema evolution across file generations") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-merge").toString + "/t"
    Seq((1L, "a")).toDF("id", "v1")
      .write.parquet(dir + "/gen=1")
    Seq((2L, "b", 9L)).toDF("id", "v1", "v2_added_later")
      .write.parquet(dir + "/gen=2")
    val df = Sources.readMergedParquet(spark, dir)
    assert(df.columns.toSet == Set("id", "v1", "v2_added_later", "gen"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v2_added_later")))
    assert(rows(1).getLong(rows(1).fieldIndex("v2_added_later")) == 9L)
  }

  test("writePartitionedIncremental: dynamic overwrite touches only incoming partitions") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-incr").toString + "/t"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"))
      .toDF("id", "dt", "v")
    val day2 = Seq((3L, "2024-01-02", "c")).toDF("id", "dt", "v")
    Sources.writePartitionedIncremental(day1.union(day2), dir, Seq("dt"))
    assert(spark.read.parquet(dir).count() == 3)

    // late-data rewrite of day2 only; day1 must survive untouched
    val day2fix = Seq((3L, "2024-01-02", "c2"), (4L, "2024-01-02", "d"))
      .toDF("id", "dt", "v")
    Sources.writePartitionedIncremental(day2fix, dir, Seq("dt"))
    val out = spark.read.parquet(dir)
    assert(out.count() == 4)
    assert(out.filter(col("dt") === "2024-01-01").count() == 2) // intact
    assert(out.filter(col("dt") === "2024-01-02" && col("v") === "c").count() == 0)
    assert(out.filter(col("v") === "c2").count() == 1)
  }

  test("deleteByKey: keyed erasure removes exactly the listed keys, swap-safe") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-delete").toString + "/t"
    (0L until 100L).map(i => (i, s"user_$i", i * 1.5))
      .toDF("user_id", "name", "score")
      .write.parquet(dir)
    val erase = Seq(3L, 7L, 42L, 999L).toDF("user_id") // 999 absent
    val rep = Maintenance.deleteByKey(spark, dir, erase, "user_id")
    assert(rep == Maintenance.DeleteReport(100L, 3L, 97L))
    val left = spark.read.parquet(dir)
    assert(left.count() == 97)
    assert(left.filter(col("user_id").isin(3L, 7L, 42L)).isEmpty)
    // untouched rows fully intact
    assert(left.filter(col("user_id") === 5L)
      .collect().head.getString(1) == "user_5")
    // no staging leftovers visible to discovery
    val parent = new org.apache.hadoop.fs.Path(dir).getParent
    val fs = parent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(parent).map(_.getPath.getName)
      .forall(n => n == "t"))
  }

  test("snapshotDiff: added/removed/changed/unchanged with null-safe content") {
    val spark0 = spark
    import spark0.implicits._
    val old = Seq(
      (1L, Some("a"), Some(10)),             // unchanged
      (2L, Some("b"), Some(20)),             // changed (2nd content col)
      (3L, Option.empty[String], Some(30)),  // NULL -> NULL : unchanged
      (4L, Some("d"), Some(40)),             // removed
      (5L, Option.empty[String], Some(50))   // NULL -> value : changed
    ).toDF("id", "txt", "n")
    val neu = Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("b"), Some(21)),
      (3L, Option.empty[String], Some(30)),
      (5L, Some("e"), Some(50)),
      (6L, Some("f"), Some(60))              // added
    ).toDF("id", "txt", "n")
    val got = Maintenance.snapshotDiff(old, neu, "id", Seq("txt", "n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "unchanged",
      4L -> "removed", 5L -> "changed", 6L -> "added"))
  }

  test("deleteByKey / mergeUpsert: counts observed by the rewrite hold on empty inputs") {
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft-empty-maint").toString + "/t"
    Seq.empty[(Long, Long, String)].toDF("id", "v", "payload").write.parquet(dir)
    assert(Maintenance.deleteByKey(spark, dir, Seq(1L).toDF("id"), "id") ==
      Maintenance.DeleteReport(0L, 0L, 0L))
    val none = Seq.empty[(Long, Long, String)].toDF("id", "v", "payload")
    assert(Maintenance.mergeUpsert(spark, dir, none, "id", "v") ==
      Maintenance.UpsertReport(0L, 0L, 0L))
    val ups = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "c")).toDF("id", "v", "payload")
    assert(Maintenance.mergeUpsert(spark, dir, ups, "id", "v") ==
      Maintenance.UpsertReport(0L, 3L, 2L))
    assert(Maintenance.deleteByKey(spark, dir, none.select("id"), "id") ==
      Maintenance.DeleteReport(2L, 0L, 2L))
    assert(spark.read.parquet(dir).count() == 2)
  }
}
