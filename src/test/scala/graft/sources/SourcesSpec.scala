package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.etl.Ddl
import graft.schemas.Schemas

/** S-series behavior: jsonpaths-contract JSON reads, empty-string→NULL user
  * ids, positional insert alignment, DDL lifecycle. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S1: events JSON lands in DDL column order with userId '' → NULL") {
    val df = Sources.readEventsJson(spark,
      TestSpark.resource("/sparkify/log_data.json"))
    assert(df.columns.toSeq == Schemas.stgSongEvents.fieldNames.toSeq)
    assert(df.schema("userId").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(df.filter("userId IS NULL").count() == 1) // the Logged Out row
    assert(df.count() == 7)
  }

  test("S2: songs JSON name-matched load") {
    val df = Sources.readSongsJson(spark,
      TestSpark.resource("/sparkify/song_data.json"))
    assert(df.count() == 4)
    assert(df.schema("artist_latitude").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("S3: positional alignment renames and casts by position") {
    val src = Seq((1, "a", "2.5")).toDF("x", "y", "z")
    val target = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("q", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("r", org.apache.spark.sql.types.DoubleType)))
    val out = Sources.alignPositional(src, target)
    assert(out.columns.toSeq == Seq("p", "q", "r"))
    assert(out.schema("r").dataType == org.apache.spark.sql.types.DoubleType)
    assert(out.collect().head.getDouble(2) == 2.5)
  }

  test("S3: positional alignment rejects arity mismatch") {
    val src = Seq((1, "a")).toDF("x", "y")
    intercept[IllegalArgumentException] {
      Sources.alignPositional(src, Schemas.dimSongs)
    }
  }

  test("S4/S5/S6: DDL create/drop lifecycle is idempotent") {
    Ddl.recreateAll(spark)
    val listed = Ddl.listTables(spark)
    Schemas.starTables.foreach { case (name, _) =>
      assert(listed.contains(name), s"$name missing after create")
    }
    Ddl.recreateAll(spark) // drop-then-create again must not throw
    Ddl.dropAll(spark)
    val after = Ddl.listTables(spark)
    Schemas.starTables.foreach { case (name, _) =>
      assert(!after.contains(name), s"$name still present after drop")
    }
  }

  test("S7: object listing with prefix filter (boto3 probe analogue)") {
    val all = Sources.listObjects(spark, "/root/testdata/sf0.001")
    assert(all.size == 10 && all.contains("lineitem.parquet"))
    val docs = Sources.listObjects(spark, "/root/testdata/sf0.001", "doc")
    assert(docs == Seq("documents.parquet"))
    assert(Sources.listObjects(spark, "/tmp/definitely-not-here").isEmpty)
  }

  test("CSV round-trip preserves schema and values; malformed → NULL") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val src = Sources.table(spark, "/root/testdata/sf0.001", "nation")
    Sources.writeCsv(src, s"$dir/nation")
    val back = Sources.readCsv(spark, s"$dir/nation", Schemas.nation)
    assert(back.schema == Schemas.nation)
    assert(back.count() == 25)
    assert(back.exceptAll(src).isEmpty)
    // malformed int field coerces to NULL (COPY-style), not a crash
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.csv"),
      "n_nationkey,n_name,n_regionkey\nnotanint,X,2\n")
    val bad = Sources.readCsv(spark, s"$dir/bad.csv", Schemas.nation)
    assert(bad.count() == 1 && bad.collect().head.isNullAt(0))
  }

  test("events JSON: corrupt lines survive as null rows, good lines parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badjson")
    java.nio.file.Files.writeString(dir.resolve("events.json"),
      """{"artist":"A","auth":"Logged In","page":"NextSong","ts":1541105830796,"userId":"44","sessionId":1,"song":"S","length":1.0,"firstName":"f","lastName":"l","gender":"F","level":"paid","location":"x","method":"PUT","status":200,"itemInSession":0,"registration":1.0,"userAgent":"ua"}
        |this line is not json at all {{{
        |{"artist":"B","auth":"Logged In","page":"NextSong","ts":1541106000000,"userId":"","sessionId":2,"song":"T","length":2.0,"firstName":"g","lastName":"m","gender":"M","level":"free","location":"y","method":"PUT","status":200,"itemInSession":1,"registration":2.0,"userAgent":"ub"}
        |""".stripMargin.linesIterator.map(_.trim).mkString("\n"))
    val df = Sources.readEventsJson(spark, dir.toString)
    val rows = df.collect()
    // PERMISSIVE: the corrupt line becomes an all-null row, never a crash
    assert(rows.length == 3)
    assert(rows.count(r => r.isNullAt(r.fieldIndex("page"))) == 1)
    // good rows parse; '' userId coerces to NULL (COPY-style)
    val good = rows.filter(r => !r.isNullAt(r.fieldIndex("page")))
    assert(good.map(_.getAs[String]("artist")).toSet == Set("A", "B"))
    assert(good.count(r => r.isNullAt(r.fieldIndex("userId"))) == 1)
  }

  test("ORC round-trip preserves schema and values") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val src = Sources.table(spark, "/root/testdata/sf0.001", "supplier")
    Sources.writeOrc(src, s"$dir/supplier")
    val back = Sources.readOrc(spark, s"$dir/supplier")
    assert(back.count() == 10)
    assert(back.exceptAll(src).isEmpty)
  }

  private val sf = "/root/testdata/sf0.001"
  private def testdataTables: Seq[String] =
    Sources.listObjects(spark, sf).filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))

  /** Same schema as Spark's inference, and the same rows. */
  private def assertReadsAsInferred(path: String, rows: Boolean): Unit = {
    val ours = Sources.parquet(spark, path)
    val inferred = spark.read.parquet(path)
    assert(ours.schema == inferred.schema, path)
    if (rows) assert(ours.exceptAll(inferred).isEmpty && inferred.exceptAll(ours).isEmpty, path)
  }

  test("parquet: footer schema equals the inferred schema on every testdata table") {
    assert(testdataTables.size == 10)
    testdataTables.foreach(t => assertReadsAsInferred(s"$sf/$t.parquet", rows = false))
  }

  test("parquet: part files, Hive partition dirs and a one-name glob read as inferred") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    val rows = spark.range(0, 200).select(col("id"), (col("id") % 7).cast("int").as("k"),
      concat(lit("2020-01-0"), (col("id") % 3 + 1).cast("string")).as("dt"))
    rows.repartition(3).write.parquet(s"$dir/parts")
    rows.write.partitionBy("dt", "k").parquet(s"$dir/hive")
    assertReadsAsInferred(s"$dir/parts", rows = true)
    assertReadsAsInferred(s"$dir/hive", rows = true)
    assert(Sources.parquet(spark, s"$dir/hive").columns.toSeq == Seq("id", "dt", "k"))
    assertReadsAsInferred(s"$dir/{parts}", rows = true)
    assertReadsAsInferred(s"$sf/{events.parquet}", rows = true)
  }

  test("opening a testdata table runs no Spark job") {
    testdataTables.foreach { t =>
      val r = graft.tools.Run.query(spark, s"sources_open_$t",
        Sources.table(spark, sf, t), df => assert(df.schema.nonEmpty))
      assert(r.ok, r.error)
      assert(r.jobs == 0, s"opening $t ran ${r.jobs} job(s)")
    }
  }

  test("a TIMESTAMP(NANOS) footer reads as a long, or raises the session hint") {
    val dir = SourcesSpec.nanosEvents(spark)
    assertReadsAsInferred(s"$dir/events.parquet", rows = true)
    assert(Sources.table(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val plain = spark.newSession()
    plain.conf.set(graft.GraftSession.NanosConf, "false")
    val e = intercept[IllegalStateException](Sources.table(plain, dir, "events"))
    assert(e.getMessage.contains("TIMESTAMP(NANOS)") &&
      e.getMessage.contains(graft.GraftSession.NanosConf), e.getMessage)
  }

  test("events testdata reads with µs-truncated nanos timestamps") {
    val df = Sources.table(spark, "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.count() == 1000)
  }
}

object SourcesSpec {
  /** A one-file events table whose `ts` is parquet TIMESTAMP(NANOS). */
  def nanosEvents(spark: org.apache.spark.sql.SparkSession): String = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1541105830796123456L))
    finally w.close()
    dir
  }
}
