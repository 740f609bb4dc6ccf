package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Sources

/** Streaming correctness via the memory sink: a parquet-backed micro-batch
  * stream must produce the same windowed aggregates as the batch plan over
  * identical data, and stateful session stats must accumulate across
  * micro-batches. */
class EventsStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def stageDir(): String = {
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toAbsolutePath.toString
  }

  test("readEvents on a directory with no parquet yet fails fast") {
    val dir = Files.createTempDirectory("graft-stream-empty").toString
    val e = intercept[IllegalStateException](EventsStream.readEvents(spark, dir))
    assert(e.getMessage.contains("no parquet yet"), e.getMessage)
  }

  test("readEvents over a TIMESTAMP(NANOS) footer needs the session's nanos conf") {
    val dir = graft.sources.SourcesSpec.nanosEvents(spark)
    val plain = spark.newSession()
    plain.conf.set(graft.GraftSession.NanosConf, "false")
    val e = intercept[IllegalStateException](EventsStream.readEvents(plain, dir))
    assert(e.getMessage.contains("TIMESTAMP(NANOS)"), e.getMessage)
  }

  test("windowed agg over the stream matches the batch computation") {
    val dir = stageDir()
    val streamed = EventsStream.windowedCounts(
      EventsStream.readEvents(spark, dir))
    val q = streamed.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value"))
        .collect().map(_.toSeq).toSet
      val batch = Sources.table(spark, "/root/testdata/sf0.001", "events")
        .groupBy(date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .collect().map(_.toSeq).toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup: cross-micro-batch duplicates suppressed; audit emits them") {
    val dir = Files.createTempDirectory("graft-stream-dedup")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val src = EventsStream.readEvents(spark, dir.toAbsolutePath.toString)

    val deduped = EventsStream.dedupStream(src, Seq("event_id"),
      watermark = "365 days")
    val qd = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val audit = EventsStream.duplicateAudit(src, "event_id")
    val qa = audit.toDF().writeStream.format("memory").queryName("audit_out")
      .outputMode("append").start()
    try {
      qd.processAllAvailable(); qa.processAllAvailable()
      val n = Sources.table(spark, "/root/testdata/sf0.001", "events").count()
      assert(spark.table("dedup_out").count() == n)
      assert(spark.table("audit_out").count() == 0)
      // second micro-batch: the SAME file again → all rows are duplicates
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve("batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
      qd.processAllAvailable(); qa.processAllAvailable()
      assert(spark.table("dedup_out").count() == n) // no new survivors
      val hits = spark.table("audit_out")
      assert(hits.count() == n) // every replayed row audited
      assert(hits.filter("n_seen <> 2").count() == 0)
    } finally { qd.stop(); qa.stop() }
  }

  test("stream-stream interval join matches batch self-join, runs symmetric hash join") {
    val dir = stageDir()
    val joined = EventsStream.clickToPurchaseJoin(
      EventsStream.readEvents(spark, dir),
      windowHours = 24, watermark = "365 days")
    val q = joined.writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val e = Sources.table(spark, "/root/testdata/sf0.001", "events")
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val batch = c.join(p, col("user_id") === col("pu") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS"))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == batch)
      assert(got.nonEmpty)
      // it must be the REAL stream-stream operator (bounded buffered state),
      // not a batch collapse
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) { q.explain() }
      val lastPlan = bos.toString
      assert(lastPlan.contains("StreamingSymmetricHashJoin"),
        s"expected StreamingSymmetricHashJoin in:\n$lastPlan")
    } finally q.stop()
  }

  test("stream-static enrichment matches batch join, plans a broadcast join") {
    val dir = stageDir()
    val dim = Sources.table(spark, "/root/testdata/sf0.001", "customer")
    val out = EventsStream.enrichStatic(
      EventsStream.readEvents(spark, dir), dim,
      "user_id", "c_custkey", Seq("c_mktsegment"))
      .select(col("event_id"), col("c_mktsegment"))
    val q = out.writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = Sources.table(spark, "/root/testdata/sf0.001", "events")
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_mktsegment"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == batch && got.nonEmpty)
      // the stream side must NOT shuffle: dim broadcasts into each batch
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos)) { q.explain() }
      val plan = bos.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected BroadcastHashJoin in:\n$plan")
    } finally q.stop()
  }

  test("event-time session windows match batch sessionization") {
    import org.apache.spark.sql.expressions.Window
    val dir = stageDir()
    val q = EventsStream.sessionWindows(
        EventsStream.readEvents(spark, dir), gapMinutes = 30)
      .toDF().writeStream
      .format("memory").queryName("sess_win").outputMode("append").start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sess_win")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // batch reference: per-user session count (gap > 30 min). The stream
      // emits every session except open tails — and the event-time timeout
      // ALSO closes a tail whose end+gap fell behind the global watermark
      // (max event time − 1 min), i.e. users idle at stream end.
      val ev = Sources.table(spark, "/root/testdata/sf0.001", "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val globalMaxMs = ev.agg(max(col("ts"))).collect()
        .head.getTimestamp(0).getTime
      val watermarkMs = globalMaxMs - 60000L
      val batchSessions = ev
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .withColumn("ns",
          when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("ns")).as("n_sessions"),
          max(unix_millis(col("ts"))).as("last_ms"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

      batchSessions.foreach { case (uid, (n, lastMs)) =>
        val tailClosedByTimeout = lastMs + 30 * 60000L < watermarkMs
        val expected = if (tailClosedByTimeout) n else n - 1
        assert(closed.getOrElse(uid, 0L) == expected,
          s"user $uid: streamed ${closed.getOrElse(uid, 0L)} closed vs expected $expected")
      }
      // session integrity: every closed session spans ≥1 event, start ≤ end
      val rows = spark.table("sess_win").collect()
      assert(rows.forall(r => r.getAs[Int]("n_events") >= 1))
      assert(rows.forall(r => !r.getAs[java.sql.Timestamp]("start")
        .after(r.getAs[java.sql.Timestamp]("end"))))
    } finally q.stop()
  }

  test("checkpointed file sink recovers exactly-once across a restart") {
    val dir = stageDir()
    val outDir = Files.createTempDirectory("graft-stream-sink").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    def start() = EventsStream.readEvents(spark, dir)
      .select("event_id", "user_id", "event_type")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // batch 1 lands, then the query STOPS (a crash/deploy stand-in)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val n = Sources.table(spark, "/root/testdata/sf0.001", "events").count()
    assert(spark.read.parquet(outDir).count() == n)

    // new data arrives while down; restart from the SAME checkpoint:
    // batch 1 must not replay (exactly-once), batch 2 must land
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(dir, "batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2 * n, "restart must append batch 2 exactly once")
    // every event_id appears exactly twice (once per staged batch), never more
    val dupCounts = out.groupBy("event_id").count()
    assert(dupCounts.filter(col("count") =!= 2).count() == 0,
      "replayed or lost rows after checkpoint recovery")
  }

  test("as-of attribution buffers out-of-order clicks across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-asof")
    val base = 1700000000000L // epoch ms
    def writeBatch(name: String,
                   rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("asof-batch")
      rows.toDF("event_id", "ms", "user_id", "event_type")
        .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .findFirst().get()
      finally listing.close()
      Files.move(part, dir.resolve(s"$name.parquet"))
    }

    // batch 1: click c1 at B, purchase p1 at B+30s. Watermark after the
    // batch is (B+30s) - 1min = B-30s, so p1 must stay PENDING: emitting
    // it now would wrongly attribute c1.
    writeBatch("b1", Seq((101L, base, 1L, "click"),
      (201L, base + 30000, 1L, "purchase")))
    val out = EventsStream.asofAttribution(
      EventsStream.readEvents(spark, dir.toString)).toDF()
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("asof_out").count() == 0,
        "purchase above the watermark must not emit yet")

      // batch 2: click c2 at B+20s — BEFORE p1 in event time but arriving
      // a micro-batch later (out-of-order, above the old watermark) — plus
      // a far-future click that drags the watermark past p1. The correct
      // match is c2, provable only if the operator buffered p1 and c2.
      writeBatch("b2", Seq((102L, base + 20000, 1L, "click"),
        (103L, base + 7200000, 1L, "click")))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .select("user_id", "purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long])))
      assert(got.toSeq == Seq((1L, 201L, Some(102L))),
        s"expected p1 matched to the late-arriving earlier click, got ${got.toSeq}")
    } finally q.stop()
  }

  test("quiet-close EWMA: gap rows emit when the far side finalizes; " +
      "levels are bit-identical to the batch trailing window") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-ewma")
    val base = 1700000000000L
    def writeBatch(name: String,
                   rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("ewma-batch")
      rows.toDF("event_id", "ms", "user_id", "value")
        .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
          col("user_id"), lit("view").as("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .findFirst().get()
      finally listing.close()
      Files.move(part, dir.resolve(s"$name.parquet"))
    }

    // batch 1: two events 10 s apart — inside the horizon, so neither can
    // close a quiet window yet (watermark after the batch is below both).
    writeBatch("b1", Seq((1L, base, 1L, 10.0), (2L, base + 10000, 1L, 20.0)))
    val out = EventsStream.ewmaStream(
      EventsStream.readEvents(spark, dir.toString)).toDF()
    val q = out.writeStream.format("memory").queryName("ewma_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ewma_out").count() == 0,
        "nothing is final yet — no level may emit")

      // batch 2: an event 120 s after e2 (the >60 s gap that makes e2 a
      // quiet close) plus a far-future event from ANOTHER user that drags
      // the watermark past e3's own horizon.
      writeBatch("b2", Seq((3L, base + 130000, 1L, 40.0),
        (9L, base + 7200000, 2L, 1.0)))
      q.processAllAvailable()
      val got = spark.table("ewma_out")
        .select("user_id", "asof_us", "n_used", "ewma")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._2)
      // e2 closes with the 2-row window; e3 with all three. User 2's
      // far-future event is above the watermark — silent.
      val w2 = (20.0 + 0.75 * 10.0) / 1.75
      val w3 = (40.0 + 0.75 * 20.0 + 0.5625 * 10.0) / 2.3125
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.toSeq == Seq(
        (1L, (base + 10000) * 1000L, 2L, r6(w2)),
        (1L, (base + 130000) * 1000L, 3L, r6(w3))), s"got ${got.toSeq}")

      // batch parity: the final streaming level equals the batch operator
      // over the same prefix, bit for bit.
      val batchFrame = Seq(
          (1L, new java.sql.Timestamp(base), 1L, 10.0),
          (2L, new java.sql.Timestamp(base + 10000), 1L, 20.0),
          (3L, new java.sql.Timestamp(base + 130000), 1L, 40.0))
        .toDF("event_id", "ts", "user_id", "value")
      val batchLevel = graft.ext.TimeSeries.ewma(
          batchFrame, "user_id", "ts", "event_id", "value")
        .collect().head.getDouble(2)
      assert(batchLevel == got.last._4,
        "streaming level must be bit-identical to the batch EWMA")
    } finally q.stop()
  }

  test("quiet-close EWMA: a far-future same-user event cannot suppress " +
      "the tail's quiet-close deadline (timeout keeps BOTH deadlines)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-ewma2")
    val base = 1700000000000L
    def writeBatch(name: String,
                   rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("ewma2-batch")
      rows.toDF("event_id", "ms", "user_id", "value")
        .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
          col("user_id"), lit("view").as("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .findFirst().get()
      finally listing.close()
      Files.move(part, dir.resolve(s"$name.parquet"))
    }

    // b1: E for user 1 plus a user-2 filler below E+60s.
    writeBatch("b1", Seq((1L, base, 1L, 30.0), (90L, base + 35000, 2L, 1.0)))
    val out = EventsStream.ewmaStream(
      EventsStream.readEvents(spark, dir.toString)).toDF()
    val q = out.writeStream.format("memory").queryName("ewma2_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // b2: user-2 traffic advances the watermark past E but NOT past
      // E+60s — E finalizes into user 1's tail, still unemitted.
      writeBatch("b2", Seq((91L, base + 90000, 2L, 1.0)))
      q.processAllAvailable()
      assert(spark.table("ewma2_out")
        .filter("user_id = 1").count() == 0, "E must not have emitted yet")

      // b3: a far-future SAME-user event. Before the fix, re-registering
      // the timeout for this pending event alone discarded E's
      // quiet-close deadline; the watermark then rests at P-60s (below
      // P), the timeout never fires, and E's row — which the oracle
      // emits — was lost.
      writeBatch("b3", Seq((2L, base + 7200000, 1L, 99.0)))
      q.processAllAvailable()
      val u1 = spark.table("ewma2_out")
        .filter("user_id = 1")
        .select("asof_us", "n_used", "ewma")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(u1.toSeq == Seq((base * 1000L, 1L, 30.0)),
        s"E's quiet-close row must emit despite the pending far-future " +
          s"event, got ${u1.toSeq}")
    } finally q.stop()
  }

  test("streaming SCD2: versions emit on close, out-of-order changes buffer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-scd2")
    val base = 1700000000000L
    def writeBatch(name: String,
                   rows: Seq[(Long, Long, Long, Double)]): Unit = {
      val tmp = Files.createTempDirectory("scd2-batch")
      rows.toDF("event_id", "ms", "user_id", "value")
        .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
          col("user_id"), lit("purchase").as("event_type"), col("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .findFirst().get()
      finally listing.close()
      Files.move(part, dir.resolve(s"$name.parquet"))
    }
    // batch 1: basic@B, gold@B+10s, basic@B+20s — all above the watermark
    writeBatch("b1", Seq((201L, base, 1L, 10.0),
      (202L, base + 10000, 1L, 100.0), (203L, base + 20000, 1L, 10.0)))
    val out = EventsStream.scd2Stream(
      EventsStream.readEvents(spark, dir.toString)).toDF()
    val q = out.writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("scd2_out").count() == 0,
        "versions above the watermark must not emit yet")
      // batch 2: OUT-OF-ORDER gold@B+5s (before every batch-1 change in
      // event time) plus a far-future basic that finalizes everything.
      // Correct history is basic[B,B+5s) gold[B+5s,B+20s) basic[B+20s,·)
      // — provable only if batch-1 observations were buffered, not folded
      // in arrival order. The trailing basic run (B+20s and the far-
      // future duplicate) collapses and stays OPEN: never emitted.
      writeBatch("b2", Seq((204L, base + 5000, 1L, 100.0),
        (299L, base + 7200000, 1L, 10.0)))
      q.processAllAvailable()
      val got = spark.table("scd2_out")
        .select("user_id", "tier", "valid_from_us", "valid_to_us", "version")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._5)
      assert(got.toSeq == Seq(
        (1L, "basic", base * 1000, (base + 5000) * 1000, 1L),
        (1L, "gold", (base + 5000) * 1000, (base + 20000) * 1000, 2L)),
        s"got ${got.toSeq}")
    } finally q.stop()
    // the emitted closed set must be BIT-IDENTICAL to the batch operator's
    val batchHist = graft.ext.Scd2.buildHistory(
      spark.read.parquet(dir.toString)
        .filter(col("event_type") === "purchase")
        .withColumn("tier",
          when(col("value") >= 50, "gold").otherwise("basic")),
      "user_id", "ts", "event_id", "tier")
      .filter(col("valid_to_us").isNotNull &&
        col("valid_to_us") < (base + 7200000 - 60000) * 1000)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._5)
    val streamed = spark.table("scd2_out")
      .select("user_id", "tier", "valid_from_us", "valid_to_us", "version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._5)
    assert(batchHist.toSeq == streamed.toSeq)
  }

  /** Shared fixture writer for the custom-batch stateful-op tests: one
    * parquet file per micro-batch, rows as (event_id, epoch_ms, user_id,
    * event_type). */
  private def batchWriter(dir: java.nio.file.Path)
      : (String, Seq[(Long, Long, Long, String)]) => Unit = {
    import spark.implicits._
    (name, rows) => {
      val tmp = Files.createTempDirectory("graft-batch")
      rows.toDF("event_id", "ms", "user_id", "event_type")
        .select(col("event_id"), timestamp_millis(col("ms")).as("ts"),
          col("user_id"), col("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .findFirst().get()
      finally listing.close()
      Files.move(part, dir.resolve(s"$name.parquet"))
    }
  }

  test("budgeted interval join: pairs capped per purchase, overflow audited") {
    val dir = Files.createTempDirectory("graft-stream-budget")
    val write = batchWriter(dir)
    val base = 1700000000000L
    // user 1: five in-window clicks before one purchase (budget 2 → the 2
    // LATEST clicks pair, 3 suppressed into one audit row); user 2: one
    // click before one purchase (under budget → no audit)
    write("b1", Seq(
      (101L, base, 1L, "click"), (102L, base + 10000, 1L, "click"),
      (103L, base + 20000, 1L, "click"), (104L, base + 30000, 1L, "click"),
      (105L, base + 40000, 1L, "click"), (201L, base + 60000, 1L, "purchase"),
      (301L, base, 2L, "click"), (401L, base + 30000, 2L, "purchase")))
    val out = EventsStream.intervalJoinBudgeted(
      EventsStream.readEvents(spark, dir.toString),
      maxPairsPerPurchase = 2).toDF()
    val q = out.writeStream.format("memory").queryName("budget_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("budget_out").count() == 0,
        "purchases above the watermark must not emit yet")
      // watermark pusher: a far-future click on another user ripens both
      write("b2", Seq((501L, base + 7200000, 3L, "click")))
      q.processAllAvailable()
      val got = spark.table("budget_out").collect().map(r =>
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          r.getLong(2), r.getLong(3))).toSet
      val expected = Set(
        (1L, Some(104L), 201L, 0L), (1L, Some(105L), 201L, 0L),
        (1L, None, 201L, 3L),
        (2L, Some(301L), 401L, 0L))
      assert(got == expected, s"got $got")
    } finally q.stop()
  }

  test("budgeted interval join evicts out-of-window clicks from state") {
    val dir = Files.createTempDirectory("graft-stream-budget-evict")
    val write = batchWriter(dir)
    val base = 1700000000000L
    // 1-hour join window: the click leaves its window horizon long before
    // the second purchase arrives, so it must neither pair nor linger
    write("b1", Seq((101L, base, 1L, "click"),
      (201L, base + 1800000, 1L, "purchase")))
    val out = EventsStream.intervalJoinBudgeted(
      EventsStream.readEvents(spark, dir.toString), windowHours = 1).toDF()
    val q = out.writeStream.format("memory").queryName("budget_evict")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // ripen p1 (in-window pair emits), push the watermark past the
      // click's window horizon (base + 1h), then land a later purchase
      write("b2", Seq((102L, base + 7200000, 2L, "click")))
      q.processAllAvailable()
      write("b3", Seq((202L, base + 7230000, 1L, "purchase"),
        (103L, base + 10800000, 2L, "click")))
      q.processAllAvailable()
      val got = spark.table("budget_evict").collect().map(r =>
        (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
          r.getLong(2), r.getLong(3))).toSet
      // p1 pairs with the click; p2 (out of the click's window) emits
      // nothing — and in particular no stale pair from retained state
      assert(got == Set((1L, Some(101L), 201L, 0L)), s"got $got")
    } finally q.stop()
  }

  test("duplicate audit: per-key state evicts past the watermark horizon") {
    val dir = Files.createTempDirectory("graft-stream-audit-evict")
    val write = batchWriter(dir)
    val base = 1700000000000L
    write("b1", Seq((1L, base, 7L, "click"), (2L, base + 1000, 7L, "click")))
    val out = EventsStream.duplicateAudit(
      EventsStream.readEvents(spark, dir.toString), "user_id",
      watermark = "1 minute").toDF()
    val q = out.writeStream.format("memory").queryName("audit_evict")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("audit_evict").count() == 1,
        "second sighting within the horizon must audit")
      // advance the watermark far past key 7's last sighting → its counter
      // evicts; a fresh key-7 event is then a FIRST sighting again
      write("b2", Seq((3L, base + 7200000, 8L, "click")))
      q.processAllAvailable()
      write("b3", Seq((4L, base + 7201000, 7L, "click")))
      q.processAllAvailable()
      val rows = spark.table("audit_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((7L, 2L, 2L)),
        s"beyond-horizon return must restart the count, got $rows")
    } finally q.stop()
  }

  test("session stats: idle users emit a final snapshot and evict") {
    val dir = Files.createTempDirectory("graft-stream-stats-evict")
    val write = batchWriter(dir)
    val base = 1700000000000L
    write("b1", Seq((1L, base, 7L, "click"), (2L, base + 1000, 7L, "view")))
    val out = EventsStream.sessionStats(
      EventsStream.readEvents(spark, dir.toString),
      watermark = "1 minute").toDF()
    val q = out.writeStream.format("memory").queryName("stats_evict")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // watermark passes user 7's last event → final snapshot + eviction;
      // the user's return then restarts from zero (within-horizon view)
      write("b2", Seq((3L, base + 7200000, 8L, "click")))
      q.processAllAvailable()
      write("b3", Seq((4L, base + 7201000, 7L, "purchase")))
      q.processAllAvailable()
      val u7 = spark.table("stats_evict").filter(col("user_id") === 7)
        .collect().map(r => (r.getLong(1), r.getString(3)))
      assert(u7.contains((2L, "view")), s"pre-eviction stats missing: ${u7.toSeq}")
      assert(u7.contains((1L, "purchase")),
        s"post-eviction return must restart from zero, got ${u7.toSeq}")
      assert(!u7.exists(_._1 == 3L),
        s"state survived past the horizon, got ${u7.toSeq}")
    } finally q.stop()
  }

  test("windowed heavy hitters over capacity keep the SpaceSaving guarantees") {
    val dir = stageDir()
    // capacity 2 against 5 event types forces eviction in every busy
    // window — the regime the exact-count oracle (q_s_stream_heavy,
    // capacity 16) never enters. The streamed summaries must still obey
    // the SpaceSaving bounds per window.
    val out = EventsStream.windowedHeavyHitters(
      EventsStream.readEvents(spark, dir), capacity = 2)
    val q = out.writeStream.format("memory").queryName("heavy_cap2")
      .outputMode("complete").start()
    val decoded = try {
      q.processAllAvailable()
      spark.table("heavy_cap2")
        .select(col("window_start"), explode(expr(
          "transform(sequence(0, int(size(sk)/3) - 1), " +
            "i -> struct(sk[3*i] AS h, sk[3*i+1] AS est, sk[3*i+2] AS err))"))
          .as("e"))
        .select(col("window_start"), col("e.h"), col("e.est"), col("e.err"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    } finally q.stop()
    val truth = Sources.table(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_trunc("hour", col("ts")).as("w"),
        xxhash64(col("event_type")).as("h"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    val perWindow = decoded.groupBy(_._1)
    assert(perWindow.nonEmpty)
    perWindow.foreach { case (w, entries) =>
      assert(entries.length <= 2, s"window $w tracks more than capacity")
      entries.foreach { case (_, h, est, err) =>
        val n = truth((w, h))
        assert(est >= n && est - err <= n,
          s"window $w item $h: est $est err $err violates bounds for true $n")
      }
      // no-missed-heavy: anything above N_w/capacity must be tracked
      val nw = truth.collect { case ((tw, _), n) if tw == w => n }.sum
      val trackedH = entries.map(_._2).toSet
      truth.foreach { case ((tw, h), n) =>
        if (tw == w && n > nw / 2) assert(trackedH(h),
          s"window $w missed heavy item $h (true $n of $nw)")
      }
    }
  }

  test("session state accumulates across micro-batches") {
    val dir = stageDir()
    val sessions = EventsStream.sessionStats(
      EventsStream.readEvents(spark, dir))
    val q = sessions.toDF().writeStream
      .format("memory").queryName("sess_out").outputMode("update").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("sess_out")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // second micro-batch: same file again → counts must double
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
        Paths.get(dir, "batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val after2 = spark.table("sess_out")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val batchCounts = Sources.table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after1 == batchCounts)
      assert(after2 == batchCounts.map { case (k, v) => k -> v * 2 })
    } finally q.stop()
  }
}
