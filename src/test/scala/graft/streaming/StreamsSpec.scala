package graft.streaming

import graft.SparkSpec
import graft.model.Star
import graft.tables.TableStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files
import java.sql.Timestamp

/** Structured Streaming specs: MemoryStream-driven windowed aggregation and
  * sessionization, file-source landing stream with foreachBatch upsert.
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The parquet data files of `table`, by name. */
  private def dataFiles(store: TableStore, table: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(store.path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
  }

  /** The tables of an index that a sink has appended to, by kind. */
  private def annTables(n: String) =
    Set("centroids", "centers", "books", "codes", "drift", "csizes").map(t => s"${n}_$t")
  private def bm25Tables(n: String) = Set("postings", "doclen", "stats").map(t => s"${n}_$t")
  private def gateTables(n: String) = Set("bands", "shingles", "sizes").map(t => s"${n}_$t")

  /** The marker of the renames that publish `table`'s first stage in a
    * fresh store: each staged file moves from directly under its
    * generation dir, where the stage write's own commit renames come from
    * its `_temporary` dir. */
  private def firstPublish(table: String): String =
    s"/.publish/$table/${spark.sparkContext.applicationId}_g1/part-"

  test("eventWindowAgg: tumbling windows with watermark (memory sink)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val agg = Streams.eventWindowAgg(in.toDF(), "1 hour", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(
        Streams.Event(1, ts("2026-01-01 10:05:00"), 1, "click", 1.0),
        Streams.Event(2, ts("2026-01-01 10:45:00"), 2, "click", 2.0),
        Streams.Event(3, ts("2026-01-01 11:05:00"), 1, "purchase", 10.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .toSet
      assert(rows === Set(
        ("2026-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2026-01-01 11:00:00.0", "purchase", 1L, 10.0)))
    } finally q.stop()
  }

  test("eventWindowAgg append mode: watermark finalizes windows and discards late data") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val agg = Streams.eventWindowAgg(in.toDF(), "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_append")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Streams.Event(1, ts("2026-01-01 10:05:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // advance watermark past 11:10 → the 10:00 window finalizes and emits
      in.addData(Streams.Event(2, ts("2026-01-01 11:20:00"), 2, "view", 5.0))
      q.processAllAvailable()
      in.addData(Streams.Event(3, ts("2026-01-01 11:21:00"), 2, "view", 0.0))
      q.processAllAvailable()
      val emitted = spark.table("win_append").collect()
        .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[Long]("n_events")))
      assert(emitted.toSeq === Seq(("2026-01-01 10:00:00.0", 1L)))
      // a late event for the finalized 10:00 window is DISCARDED, not re-emitted
      in.addData(Streams.Event(4, ts("2026-01-01 10:30:00"), 3, "click", 9.0))
      q.processAllAvailable()
      assert(spark.table("win_append").count() === 1)
    } finally q.stop()
  }

  test("sessionize: sessions close when the watermark passes the gap (event time)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(
      Streams.withEventWatermark(in.toDS(), "0 seconds"), gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "click", 1.5),
        Streams.Event(2, ts("2026-01-01 10:00:10"), 7, "click", 2.5))
      q.processAllAvailable()
      assert(spark.table("sessions").count() === 0) // still open
      // a later event advances the watermark past 10:00:10 + 60s → user 7's
      // session times out and flushes on the next batch
      in.addData(Streams.Event(3, ts("2026-01-01 10:30:00"), 8, "view", 0.0))
      q.processAllAvailable()
      in.addData(Streams.Event(4, ts("2026-01-01 10:31:00"), 8, "view", 0.0))
      q.processAllAvailable()
      val done = spark.table("sessions").filter($"user_id" === 7).collect()
      assert(done.length === 1)
      assert(done.head.getAs[Long]("n_events") === 2)
      assert(done.head.getAs[Double]("total_value") === 4.0)
      assert(done.head.getAs[Timestamp]("session_start") === ts("2026-01-01 10:00:00"))
      assert(done.head.getAs[Timestamp]("session_end") === ts("2026-01-01 10:00:10"))
    } finally q.stop()
  }

  test("sessionizeBatch agrees with streaming sessionize on a fully-drained input") {
    implicit val sc = spark.sqlContext
    val fixture = Seq(
      Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "click", 1.5),
      Streams.Event(2, ts("2026-01-01 10:00:10"), 7, "click", 2.5),
      Streams.Event(3, ts("2026-01-01 11:00:00"), 7, "view", 1.0), // gap > 60s → new session
      Streams.Event(4, ts("2026-01-01 10:30:00"), 8, "view", 0.5))

    val in = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(
      Streams.withEventWatermark(in.toDS(), "0 seconds"), gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sessions_twin")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        in.addData(fixture: _*)
        q.processAllAvailable()
        // sentinel user advances the watermark past every fixture session's
        // timeout; the flush lands on the following batch
        in.addData(Streams.Event(98, ts("2026-01-01 12:00:00"), 99, "view", 0.0))
        q.processAllAvailable()
        in.addData(Streams.Event(99, ts("2026-01-01 12:01:00"), 99, "view", 0.0))
        q.processAllAvailable()
        spark.table("sessions_twin").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
            r.getAs[Timestamp]("session_end").toString,
            r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      } finally q.stop()

    val batch = Streams.sessionizeBatch(fixture.toDF(), gapMs = 60000).collect()
      .map(r => (r.getAs[Long]("user_id"),
        ts(r.getAs[String]("session_start")).toString, ts(r.getAs[String]("session_end")).toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet

    assert(streamed === batch)
    assert(batch.size === 3) // two sessions for user 7, one for user 8
  }

  test("sessionize accumulates decimally: many 0.1 values match the batch DECIMAL sum exactly") {
    // 0.1 has no exact binary representation: 50 double-summed 0.1s give
    // 4.999999999999998…, while the batch twin's CAST(value AS
    // DECIMAL(28,10)) SUM gives exactly 5.0 — the streaming accumulator
    // must quantize per event like the batch path, not drift by an ulp
    implicit val sc = spark.sqlContext
    val fixture = (0 until 50).map(i =>
      Streams.Event(i.toLong, ts(f"2026-01-01 10:00:${i}%02d"), 7, "click", 0.1))
    assert(fixture.map(_.value).sum !== 5.0) // the naive double fold DOES drift

    val in = MemoryStream[Streams.Event]
    val sessions = Streams.sessionize(
      Streams.withEventWatermark(in.toDS(), "0 seconds"), gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sessions_dec")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        in.addData(fixture: _*)
        q.processAllAvailable()
        in.addData(Streams.Event(98, ts("2026-01-01 12:00:00"), 99, "view", 0.0))
        q.processAllAvailable()
        in.addData(Streams.Event(99, ts("2026-01-01 12:01:00"), 99, "view", 0.0))
        q.processAllAvailable()
        spark.table("sessions_dec").filter($"user_id" === 7).collect()
      } finally q.stop()

    assert(streamed.length === 1)
    assert(streamed.head.getAs[Double]("total_value") === 5.0)
    val batch = Streams.sessionizeBatch(fixture.toDF(), gapMs = 60000)
      .filter($"user_id" === 7).collect()
    assert(batch.head.getAs[Double]("total_value") === streamed.head.getAs[Double]("total_value"))
  }

  test("sessionize: late events join held sessions; emission waits for the watermark") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    // 2h watermark delay >> 60s gap: gap-closed sessions must be HELD, not
    // emitted, because in-horizon late events can still legally join them
    val sessions = Streams.sessionize(
      Streams.withEventWatermark(in.toDS(), "2 hours"), gapMs = 60000)
    val q = sessions.writeStream.format("memory").queryName("sessions_late")
      .outputMode(OutputMode.Append).start()
    val streamed =
      try {
        in.addData(
          Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "click", 1.0),
          Streams.Event(2, ts("2026-01-01 10:10:00"), 7, "click", 2.0)) // intra-batch gap
        q.processAllAvailable()
        in.addData(
          // joins the ALREADY-CLOSED first session (would be orphaned if
          // gap-closed sessions emitted eagerly)
          Streams.Event(3, ts("2026-01-01 10:00:30"), 7, "click", 0.5),
          // older than every session minus the gap: opens its own, must NOT
          // merge backwards into a later session
          Streams.Event(4, ts("2026-01-01 09:00:00"), 7, "click", 4.0))
        q.processAllAvailable()
        in.addData(Streams.Event(98, ts("2026-01-01 13:00:00"), 99, "view", 0.0))
        q.processAllAvailable()
        in.addData(Streams.Event(99, ts("2026-01-01 13:01:00"), 99, "view", 0.0))
        q.processAllAvailable()
        spark.table("sessions_late").collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("session_start").toString,
            r.getAs[Timestamp]("session_end").toString,
            r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
      } finally q.stop()

    val batchEvents = Seq(
      Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "click", 1.0),
      Streams.Event(2, ts("2026-01-01 10:10:00"), 7, "click", 2.0),
      Streams.Event(3, ts("2026-01-01 10:00:30"), 7, "click", 0.5),
      Streams.Event(4, ts("2026-01-01 09:00:00"), 7, "click", 4.0))
    val batch = Streams.sessionizeBatch(batchEvents.toDF(), gapMs = 60000).collect()
      .map(r => (r.getAs[Long]("user_id"),
        ts(r.getAs[String]("session_start")).toString, ts(r.getAs[String]("session_end")).toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(streamed === batch)
    assert(batch.size === 3) // [9:00], [10:00..10:00:30], [10:10]
  }

  test("dedupStream drops duplicates within the watermark horizon") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val deduped = Streams.dedupStream(in.toDF(), Seq("event_id"), "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Streams.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0),
        Streams.Event(1, ts("2026-01-01 10:00:01"), 1, "click", 1.0), // dup id
        Streams.Event(2, ts("2026-01-01 10:01:00"), 2, "view", 2.0))
      q.processAllAvailable()
      // re-delivery of id 1 within the horizon is dropped too
      in.addData(Streams.Event(1, ts("2026-01-01 10:02:00"), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("crawlStream: strip + gate + digest dedup folds markup-only re-crawls") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val passing = ("the quick brown fox jumps over and over to the side of that " +
      "lazy dog it would have stayed asleep with the sun warm on its back " +
      "every day ") * 2
    def page(body: String, chrome: String) =
      s"<html><head><title>t</title><style>.x{}</style></head><body $chrome><p>$body</p></body></html>"
    val out = Streams.crawlStream(
      in.toDF().toDF("doc_id", "ts", "html"), "ts", "html", lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("crawl_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (1L, ts("2026-01-01 10:00:00"), page(passing, "class=\"a\"")),
        (2L, ts("2026-01-01 10:00:10"), page("too short to pass", "")))
      q.processAllAvailable()
      // re-crawl of doc 1's page: different markup, same visible text
      in.addData((3L, ts("2026-01-01 10:05:00"), page(passing, "id=\"b\" data-x=\"1\"")))
      q.processAllAvailable()
      val rows = spark.table("crawl_out").select("doc_id").collect().map(_.getLong(0))
      assert(rows.toSeq === Seq(1L)) // gate killed 2, dedup folded 3 into 1
    } finally q.stop()
  }

  test("anomalyStream flags against prior history only, across batch boundaries") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val out = Streams.anomalyStream(in.toDS(), zCut = 2.0, minHistory = 10)
    val q = out.writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: ten tight inliers as warm-up (two micro-batches)
      val warm = (1 to 10).map(i =>
        Streams.Event(i.toLong, ts(f"2026-01-01 10:${i}%02d:00"), 1, "v", 5.0 + 0.1 * (i % 3)))
      in.addData(warm.take(6): _*)
      q.processAllAvailable()
      in.addData(warm.drop(6): _*)
      q.processAllAvailable()
      // user 2: a wild value with NO history — must stay silent (minHistory)
      in.addData(Streams.Event(100, ts("2026-01-01 10:00:00"), 2, "v", 999.0))
      q.processAllAvailable()
      assert(spark.table("anom_out").isEmpty)
      // the outlier lands after user 1's history is deep enough → flagged;
      // the trailing inlier scores against moments that now INCLUDE the
      // outlier (online semantics) → quiet
      in.addData(
        Streams.Event(11, ts("2026-01-01 10:20:00"), 1, "v", 50.0),
        Streams.Event(12, ts("2026-01-01 10:21:00"), 1, "v", 5.1))
      q.processAllAvailable()
      val flagged = spark.table("anom_out").collect()
      assert(flagged.map(_.getLong(0)).toSeq === Seq(11L))
      assert(math.abs(flagged.head.getDouble(3)) > 2.0)
    } finally q.stop()
  }

  test("attributionJoin: stream-stream interval join pairs clicks with in-horizon purchases") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Streams.Event]
    val purchases = MemoryStream[Streams.Event]
    val joined = Streams.attributionJoin(clicks.toDF(), purchases.toDF(), "1 hour")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        Streams.Event(10, ts("2026-01-01 10:00:00"), 7, "click", 0.0),
        Streams.Event(11, ts("2026-01-01 12:00:00"), 7, "click", 0.0))
      purchases.addData(
        Streams.Event(90, ts("2026-01-01 10:30:00"), 7, "purchase", 99.0), // in horizon of click 10
        Streams.Event(91, ts("2026-01-01 13:30:00"), 7, "purchase", 5.0), // outside both
        Streams.Event(92, ts("2026-01-01 10:30:00"), 8, "purchase", 1.0)) // other user
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getAs[Long]("click_id"), r.getAs[Double]("purchase_value")))
      assert(rows.toSeq.sorted === Seq((10L, 99.0)))
    } finally q.stop()
  }

  test("intervalJoin: cross-batch state, two-sided window, late rows dropped, batch-twin agreement") {
    implicit val sc = spark.sqlContext
    val impressions = MemoryStream[Streams.Event]
    val clicks = MemoryStream[Streams.Event]
    def shape(df: org.apache.spark.sql.DataFrame, side: String) =
      df.select(col("user_id"), col("ts").as(s"${side}_ts"),
        col("event_id").as(s"${side}_id"))
    // click attributes to an impression within [imp_ts - 5 min, imp_ts + 1 h]
    val joined = Streams.intervalJoin(
      shape(impressions.toDF(), "imp"), shape(clicks.toDF(), "clk"),
      "user_id", "imp_ts", "clk_ts", "-5 minutes", "1 hour", "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: impressions only — nothing can join yet
      impressions.addData(
        Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "imp", 0.0),
        Streams.Event(2, ts("2026-01-01 12:00:00"), 8, "imp", 0.0))
      q.processAllAvailable()
      assert(spark.table("ssj").count() === 0)
      // batch 2: clicks — must pair against batch 1's BUFFERED impressions
      clicks.addData(
        Streams.Event(90, ts("2026-01-01 10:30:00"), 7, "clk", 0.0), // in window
        Streams.Event(91, ts("2026-01-01 09:58:00"), 7, "clk", 0.0), // lower bound: -2 min, in
        Streams.Event(92, ts("2026-01-01 11:30:00"), 7, "clk", 0.0), // past +1 h, out
        Streams.Event(93, ts("2026-01-01 12:10:00"), 9, "clk", 0.0)) // no such user
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("clk_id"))).toSet
      assert(got === Set((1L, 90L), (1L, 91L)))
      // advance both watermarks far past the old window, then deliver a
      // left-behind click that WOULD have matched: dropped, deterministically
      impressions.addData(Streams.Event(3, ts("2026-01-01 18:00:00"), 7, "imp", 0.0))
      clicks.addData(Streams.Event(94, ts("2026-01-01 18:00:00"), 55, "clk", 0.0))
      q.processAllAvailable()
      clicks.addData(Streams.Event(95, ts("2026-01-01 10:10:00"), 7, "clk", 0.0))
      q.processAllAvailable()
      val after = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("clk_id"))).toSet
      assert(after === got, "late click beyond the watermark must not join")
      // batch twin: the same function over the drained static inputs
      // (withWatermark is a no-op in batch) — minus the late-dropped row,
      // which batch DOES see; feed it the stream-accepted rows
      val impB = Seq((7L, ts("2026-01-01 10:00:00"), 1L), (8L, ts("2026-01-01 12:00:00"), 2L),
        (7L, ts("2026-01-01 18:00:00"), 3L)).toDF("user_id", "imp_ts", "imp_id")
      val clkB = Seq((7L, ts("2026-01-01 10:30:00"), 90L), (7L, ts("2026-01-01 09:58:00"), 91L),
        (7L, ts("2026-01-01 11:30:00"), 92L), (9L, ts("2026-01-01 12:10:00"), 93L),
        (55L, ts("2026-01-01 18:00:00"), 94L)).toDF("user_id", "clk_ts", "clk_id")
      val batch = Streams.intervalJoin(impB, clkB, "user_id", "imp_ts", "clk_ts",
        "-5 minutes", "1 hour").collect()
        .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("clk_id"))).toSet
      assert(batch === got, "drained batch twin must agree with the streamed output")
    } finally q.stop()
  }

  test("intervalJoin left_outer: unmatched impressions emit null-padded once the watermark closes their window") {
    implicit val sc = spark.sqlContext
    val impressions = MemoryStream[Streams.Event]
    val clicks = MemoryStream[Streams.Event]
    def shape(df: org.apache.spark.sql.DataFrame, side: String) =
      df.select(col("user_id"), col("ts").as(s"${side}_ts"),
        col("event_id").as(s"${side}_id"))
    val joined = Streams.intervalJoin(
      shape(impressions.toDF(), "imp"), shape(clicks.toDF(), "clk"),
      "user_id", "imp_ts", "clk_ts", "0 seconds", "30 minutes", "5 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_lo")
      .outputMode(OutputMode.Append).start()
    try {
      impressions.addData(
        Streams.Event(1, ts("2026-01-01 10:00:00"), 7, "imp", 0.0), // converts
        Streams.Event(2, ts("2026-01-01 10:00:00"), 8, "imp", 0.0)) // never does
      clicks.addData(Streams.Event(90, ts("2026-01-01 10:10:00"), 7, "clk", 0.0))
      q.processAllAvailable()
      // the match emits promptly; the non-converter is still in limbo —
      // its window is open until the watermark passes 10:35
      val early = spark.table("ssj_lo").collect()
        .map(r => (r.getAs[Long]("imp_id"), Option(r.get(r.fieldIndex("clk_id")))))
      assert(early.toSeq === Seq((1L, Some(90L))))
      // advance both watermarks far past the window, then one more batch
      // so the state-cleanup pass runs: the unmatched row emits null-padded
      impressions.addData(Streams.Event(3, ts("2026-01-01 12:00:00"), 9, "imp", 0.0))
      clicks.addData(Streams.Event(91, ts("2026-01-01 12:00:00"), 9, "clk", 0.0))
      q.processAllAvailable()
      impressions.addData(Streams.Event(4, ts("2026-01-01 12:00:01"), 9, "imp", 0.0))
      clicks.addData(Streams.Event(92, ts("2026-01-01 12:00:01"), 9, "clk", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssj_lo").collect()
        .map(r => (r.getAs[Long]("imp_id"), Option(r.get(r.fieldIndex("clk_id")))))
        .toSet
      assert(got.contains((2L, None)),
        s"unmatched impression must emit null-padded after its window closes: $got")
      assert(!got.contains((1L, None)), "the matched impression must not ALSO null-emit")
    } finally q.stop()
  }

  test("intervalJoin rejects inputs sharing non-key columns") {
    val a = Seq((1L, ts("2026-01-01 00:00:00"))).toDF("k", "ts")
    val b = Seq((1L, ts("2026-01-01 00:00:00"))).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      Streams.intervalJoin(a, b, "k", "ts", "ts", "0 seconds", "1 hour")
    }
    assert(e.getMessage.contains("share only the key"))
  }

  test("takedownSink: streamed ids cascade once, re-deliveries guarded, audit log appends") {
    implicit val sc = spark.sqlContext
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_td_store").toString)
    val ckpt = Files.createTempDirectory("graft_td_ckpt").toString
    val docs = (1L to 10L).map(i => (i, s"alpha beta gamma delta body $i end"))
      .toDF("doc_id", "text")
    store.overwrite("corpus", docs)
    graft.ext.DedupIndex.build(store, "idx", docs, "doc_id", "text")
    val in = MemoryStream[Long]
    def run() = Streams.takedownSink(
      in.toDF().select(col("value").as("doc_id")), store, "doc_id",
      "td_log", ckpt, corpus = Seq("corpus"), indexes = Seq("idx"))
    def corpusIds = store.read("corpus").select("doc_id").as[Long].collect().toSet

    in.addData(2L, 3L)
    run().awaitTermination()
    assert(corpusIds === (1L to 10L).toSet -- Set(2L, 3L))
    // the cascade reached the dedup index too
    assert(graft.ext.DedupIndex.knownIds(store, "idx", "doc_id")
      .as[Long].collect().toSet === (1L to 10L).toSet -- Set(2L, 3L))
    assert(store.read("td_log").select("doc_id").as[Long].collect().toSet ===
      Set(2L, 3L))

    // batch 2 re-delivers id 2 beside a new id: the guard keeps the
    // cascade and the audit log single-entry per id
    in.addData(2L, 5L)
    run().awaitTermination()
    assert(corpusIds === (1L to 10L).toSet -- Set(2L, 3L, 5L))
    val log = store.read("td_log").select("doc_id").as[Long].collect()
    assert(log.toSet === Set(2L, 3L, 5L) && log.length === 3,
      s"re-delivered id must not re-log: ${log.toSeq}")
  }

  test("takedownSink: over-limit batch chunks — all ids applied, logged once, bound enforced") {
    implicit val sc = spark.sqlContext
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_td_chunk").toString)
    val ckpt = Files.createTempDirectory("graft_td_chunk_ckpt").toString
    store.overwrite("corpus",
      (1L to 10L).map(i => (i, s"body $i")).toDF("doc_id", "text"))
    val in = MemoryStream[Long]
    // 5 ids through maxBatchIds=2 → three chunks, one guarded pass each
    in.addData(1L, 2L, 3L, 4L, 5L)
    Streams.takedownSink(
      in.toDF().select(col("value").as("doc_id")), store, "doc_id",
      "td_log", ckpt, corpus = Seq("corpus"), maxBatchIds = 2)
      .awaitTermination()
    assert(store.read("corpus").select("doc_id").as[Long].collect().toSet ===
      (6L to 10L).toSet)
    val log = store.read("td_log").select("doc_id").as[Long].collect()
    assert(log.toSet === (1L to 5L).toSet && log.length === 5,
      s"chunked batch must log each id exactly once: ${log.toSeq}")
    intercept[IllegalArgumentException] {
      Streams.takedownSink(in.toDF(), store, "doc_id", "td_log", ckpt,
        maxBatchIds = 0)
    }
  }

  test("landingStream + upsertSink: file micro-batches upsert by key, late re-delivery updates in place") {
    val dir = Files.createTempDirectory("graft_landing").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_str").toString)

    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_1.csv"),
      "order_id,order_placement_date,customer_id,product_id,order_qty\n" +
        "ORD001,01-12-2025,789401,25891101,10\nORD002,01-12-2025,789402,25891102,5\n")
    val s1 = Streams.landingStream(spark, dir, Star.rawOrders)
    val q1 = Streams.upsertSink(s1, store, "orders_live",
      Seq("order_id", "product_id"), ckpt)
    q1.awaitTermination()
    assert(store.read("orders_live").count() === 2)

    // second file: one new order + one re-delivery with corrected qty
    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_2.csv"),
      "order_id,order_placement_date,customer_id,product_id,order_qty\n" +
        "ORD003,02-12-2025,789403,25891103,3\nORD001,01-12-2025,789401,25891101,12\n")
    val q2 = Streams.upsertSink(Streams.landingStream(spark, dir, Star.rawOrders),
      store, "orders_live", Seq("order_id", "product_id"), ckpt)
    q2.awaitTermination()
    val live = store.read("orders_live")
    assert(live.count() === 3) // upsert, not append
    assert(live.filter(col("order_id") === "ORD001")
      .head().getAs[Double]("order_qty") === 12.0)
  }

  test("upsertSink: a batch that dies inside mergeInto's publish replays from its checkpoint to a clean delivery's rows") {
    graft.FaultFs.install(spark)
    val dir = Files.createTempDirectory("graft_usf_landing").toString
    val ckpt = Files.createTempDirectory("graft_usf_ckpt").toString
    val store = new TableStore(spark,
      graft.FaultFs.root(Files.createTempDirectory("graft_usf_store").toString))
    val keys = Seq("order_id", "product_id")
    def drain(st: TableStore, ck: String): Unit = Streams.upsertSink(
      Streams.landingStream(spark, dir, Star.rawOrders), st, "orders_live", keys, ck)
      .awaitTermination()
    val header = "order_id,order_placement_date,customer_id,product_id,order_qty\n"
    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_1.csv"), header +
      "ORD001,01-12-2025,789401,25891101,10\nORD002,01-12-2025,789402,25891102,5\n")
    drain(store, ckpt)
    // batch 2 holds only new keys, so mergeInto publishes its stage, and
    // the publish dies at its first rename
    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_2.csv"), header +
      "ORD003,02-12-2025,789403,25891103,3\nORD004,02-12-2025,789404,25891104,7\n")
    graft.FaultFs.failRename(0, firstPublish("orders_live"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain(store, ckpt))
    assert(graft.FaultFs.disarm(), "the injected rename fault never fired")
    assert(store.read("orders_live").count() === 2)

    // the restart replays batch 2 from the same checkpoint
    drain(store, ckpt)
    val clean = new TableStore(spark, Files.createTempDirectory("graft_usf_ref").toString)
    drain(clean, Files.createTempDirectory("graft_usf_ref_ckpt").toString)
    def rows(st: TableStore) = st.read("orders_live").collect().map(_.toString).sorted.toSeq
    assert(rows(store) === rows(clean))
    assert(rows(store).size === 4)
    assert(store.read("orders_live").groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).isEmpty, "the replay duplicated a key")
  }

  test("nearDupSink: micro-batches near-dup against accumulated history, re-deliveries ignored") {
    val dir = Files.createTempDirectory("graft_nd_landing").toString
    val ckpt = Files.createTempDirectory("graft_nd_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_nd_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def docsStream = spark.readStream.format("json").schema(schema).load(dir)
    def drain(): Unit = Streams.nearDupSink(docsStream, store, "nd_history", "nd_pairs",
      ckpt, threshold = 0.8).awaitTermination()

    val d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"text":"$d1"}
         |{"doc_id":2,"text":"one two three four five six seven eight nine ten"}
         |""".stripMargin)
    drain()
    assert(store.read("nd_pairs").count() === 0) // nothing similar yet
    assert(store.read("nd_history").count() === 2)

    // batch 2: near-copy of doc 1 (last word changed: jaccard 9/11 ≈ 0.82),
    // one unrelated doc, and a RE-DELIVERY of doc 1 (must not self-pair)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      s"""{"doc_id":3,"text":"${d1.replace(" mu", " nu")}"}
         |{"doc_id":4,"text":"red orange yellow green blue indigo violet pink brown black"}
         |{"doc_id":1,"text":"$d1"}
         |""".stripMargin)
    drain()
    val pairs = store.read("nd_pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq === Seq((1L, 3L)))
    assert(store.read("nd_history").count() === 4) // re-delivered doc 1 not duplicated

    // batch 3: a verbatim copy of doc 4, so its one pair is new — it
    // appends, and every prior pair file stays in place
    val filesBefore = dataFiles(store, "nd_pairs")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b3.json"),
      s"""{"doc_id":5,"text":"red orange yellow green blue indigo violet pink brown black"}
         |""".stripMargin)
    drain()
    val pairs3 = store.read("nd_pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs3 === Set((1L, 3L), (4L, 5L)))
    assert(filesBefore.subsetOf(dataFiles(store, "nd_pairs")),
      "a batch of only new pairs must keep every prior pair file")
  }

  test("indexedNearDupSink: durable-index streaming dedup, re-deliveries ignored, index grows per batch") {
    val dir = Files.createTempDirectory("graft_ind_landing").toString
    val ckpt = Files.createTempDirectory("graft_ind_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_ind_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    // the sink's contract: index built once up front (here over nothing) —
    // the stream only ever increments it
    import spark.implicits._
    graft.ext.DedupIndex.build(store, "ix",
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    def docsStream = spark.readStream.format("json").schema(schema).load(dir)
    def drain(): Unit = Streams.indexedNearDupSink(docsStream, store, "ix",
      "ix_pairs", ckpt, threshold = 0.8).awaitTermination()

    val d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"text":"$d1"}
         |{"doc_id":2,"text":"one two three four five six seven eight nine ten"}
         |""".stripMargin)
    drain()
    assert(store.read("ix_pairs").count() === 0)
    assert(graft.ext.DedupIndex.knownIds(store, "ix", "doc_id").count() === 2)

    // batch 2: near-copy of doc 1 (jaccard 9/11 ≈ 0.82), one unrelated doc,
    // and a RE-DELIVERY of doc 1 (must not self-pair or re-enter the index)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      s"""{"doc_id":3,"text":"${d1.replace(" mu", " nu")}"}
         |{"doc_id":4,"text":"red orange yellow green blue indigo violet pink brown black"}
         |{"doc_id":1,"text":"$d1"}
         |""".stripMargin)
    drain()
    val pairs = store.read("ix_pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq === Seq((1L, 3L)))
    assert(graft.ext.DedupIndex.knownIds(store, "ix", "doc_id").count() === 4)
  }

  test("indexedNearDupSink: crash-window replay leaves the pair table identical (effectively-once)") {
    val dir = Files.createTempDirectory("graft_rp_landing").toString
    val ckpt = Files.createTempDirectory("graft_rp_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_rp_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    import spark.implicits._
    graft.ext.DedupIndex.build(store, "ix2",
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")

    val d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d3 = d1.replace(" mu", " nu") // jaccard 9/11 ≈ 0.82 vs d1
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"text":"$d1"}
         |{"doc_id":3,"text":"$d3"}
         |""".stripMargin)

    // CRASH-WINDOW EMULATION: compute and WRITE the batch's pairs exactly as
    // the sink does, but never commit the index increment — the state a
    // crash between the pairs upsert and commitIncrement leaves behind.
    val b = Seq((1L, d1), (3L, d3)).toDF("doc_id", "text")
    val fresh = b.join(
      graft.ext.DedupIndex.knownIds(store, "ix2", "doc_id"), Seq("doc_id"), "left_anti")
    val ixTables = Seq("ix2_bands", "ix2_shingles", "ix2_sizes")
    val keyBefore = graft.ext.IndexState.key(store, ixTables: _*)
    val shinglesBefore = store.read("ix2_shingles").count()
    val (pairs, abandoned) = graft.ext.DedupIndex.probeIncrement(
      store, "ix2", fresh, "doc_id", "text", threshold = 0.8)
    val out = pairs.select(col("id_a"), col("id_b"), col("jaccard"))
    store.overwriteIfAbsentElse("ix2_pairs", out)(t =>
      graft.tables.Upsert.merge(t, out, Seq("id_a", "id_b"),
        onDuplicate = graft.tables.Upsert.DuplicatePolicy.DedupDeterministic))
    assert(store.read("ix2_pairs").count() === 1)
    // the abandoned stage's shingle files sit under the store root, yet no
    // reader of the index sees them: membership, the shingle table, the
    // freshness key and the compaction trigger's file count are unchanged
    assert(abandoned.shStage.files.nonEmpty && abandoned.shStage.files.forall(f =>
      new java.io.File(abandoned.shStage.dir.stripPrefix("file:"), f).isFile))
    assert(graft.ext.DedupIndex.knownIds(store, "ix2", "doc_id").count() === 0)
    assert(store.read("ix2_shingles").count() === shinglesBefore)
    assert(graft.ext.IndexState.key(store, ixTables: _*) === keyBefore)
    assert(graft.ext.DedupIndex.maintainIfNeeded(store, "ix2",
      maxFiles = math.max(1, keyBefore.files.max)).isEmpty)

    // the stream now replays the SAME batch (its checkpoint never saw it):
    // the pairs recompute and upsert in place — one row, not two
    Streams.indexedNearDupSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "ix2", "ix2_pairs", ckpt, threshold = 0.8).awaitTermination()
    val rows = store.read("ix2_pairs").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(rows.toSeq === Seq((1L, 3L)), s"replay must not duplicate pairs: ${rows.toSeq}")
    assert(graft.ext.DedupIndex.knownIds(store, "ix2", "doc_id").count() === 2)
  }

  test("indexedNearDupSink: a commit that dies after its first publish rename replays to complete pairs and a from-scratch index; a spent stage never commits twice") {
    graft.FaultFs.install(spark)
    val dir = Files.createTempDirectory("graft_fi_landing").toString
    val ckpt = Files.createTempDirectory("graft_fi_ckpt").toString
    val store = new TableStore(spark,
      graft.FaultFs.root(Files.createTempDirectory("graft_fi_store").toString))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
      .split(" ")
    def doc(i: Int) = (0 until 12).map(j => words((i * 5 + j * 3) % words.length) + (i % 7))
      .mkString(" ")
    val base = (1 to 12).map(i => (i.toLong, doc(i)))
    // the batch: novel docs, near-copies of base docs (one word changed),
    // and a near-copy of a batch doc
    val novel = (13 to 20).map(i => (i.toLong, doc(i)))
    val nearBase = Seq(2, 5, 9).map(i =>
      ((100 + i).toLong, doc(i).replaceFirst(" [a-z]+[0-9]$", " zzz")))
    val nearBatch = Seq((200L, doc(14).replaceFirst("^[a-z]+[0-9] ", "yyy ")))
    val batch = novel ++ nearBase ++ nearBatch
    graft.ext.DedupIndex.build(store, "fx", base.toDF("doc_id", "text"), "doc_id", "text")
    val expected = graft.ext.Dedup.minhashDedupIncremental(base.toDF("doc_id", "text"),
      batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expected.size >= 3, s"fixture: expected planted pairs, got $expected")

    // the batch body up to the commit, which dies after publishing ONE of
    // the stage's shingle files
    val (pairs, stage) = graft.ext.DedupIndex.probeIncrement(
      store, "fx", batch.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
    val out = pairs.select(col("id_a"), col("id_b"), col("jaccard"))
    store.overwriteIfAbsentElse("fx_pairs", out)(t =>
      graft.tables.Upsert.merge(t, out, Seq("id_a", "id_b"),
        onDuplicate = graft.tables.Upsert.DuplicatePolicy.DedupDeterministic))
    assert(stage.shStage.files.size >= 2, s"fixture: one stage file: ${stage.shStage.files}")
    graft.FaultFs.failRename(1, "/.publish/")
    intercept[java.io.IOException](
      graft.ext.DedupIndex.commitIncrement(store, "fx", stage))
    assert(graft.FaultFs.disarm(), "the injected rename fault never fired")
    // the crash state: some of the batch's shingle rows live, no size row
    assert(graft.ext.DedupIndex.knownIds(store, "fx", "doc_id").count() === base.size)
    val batchIds = batch.map(_._1).toSet
    assert(graft.ext.DedupIndex.shinglesOf(store, "fx", "doc_id").select("doc_id")
      .as[Long].collect().exists(batchIds))

    // the stream replays the batch (its checkpoint never saw it)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      batch.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }.mkString("\n"))
    Streams.indexedNearDupSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "fx", "fx_pairs", ckpt, threshold = 0.8).awaitTermination()
    val got = store.read("fx_pairs").select("id_a", "id_b").as[(Long, Long)].collect()
    assert(got.toSet === expected)
    assert(got.length === expected.size, "replay must not duplicate pairs")
    // the index equals a from-scratch build over base ∪ batch, as sets
    val ref = new TableStore(spark, Files.createTempDirectory("graft_fi_ref").toString)
    graft.ext.DedupIndex.build(ref, "fx", (base ++ batch).toDF("doc_id", "text"),
      "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(graft.ext.DedupIndex.bandsOf(store, "fx")) ===
      rows(graft.ext.DedupIndex.bandsOf(ref, "fx")))
    assert(rows(graft.ext.DedupIndex.shinglesOf(store, "fx", "doc_id")) ===
      rows(graft.ext.DedupIndex.shinglesOf(ref, "fx", "doc_id")))
    assert(rows(graft.ext.DedupIndex.sizesOf(store, "fx")) ===
      rows(graft.ext.DedupIndex.sizesOf(ref, "fx")))

    // a second commit of one stage throws and adds no size row
    val (p2, st2) = graft.ext.DedupIndex.probeIncrement(store, "fx",
      Seq((300L, doc(30)), (301L, doc(31))).toDF("doc_id", "text"), "doc_id", "text")
    p2.collect()
    graft.ext.DedupIndex.commitIncrement(store, "fx", st2)
    val nSizes = graft.ext.DedupIndex.sizesOf(store, "fx").count()
    intercept[java.io.FileNotFoundException](
      graft.ext.DedupIndex.commitIncrement(store, "fx", st2))
    assert(graft.ext.DedupIndex.sizesOf(store, "fx").count() === nSizes)

    // a batch whose pairs are all new appends them: every prior data file
    // of the pair table stays in place
    val filesBefore = dataFiles(store, "fx_pairs")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"), Seq(3, 7).map { i =>
      val t = doc(i).replaceFirst(" [a-z]+[0-9]$", " zzz")
      s"""{"doc_id":${400 + i},"text":"$t"}"""
    }.mkString("\n"))
    Streams.indexedNearDupSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "fx", "fx_pairs", ckpt, threshold = 0.8).awaitTermination()
    val got2 = store.read("fx_pairs").select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.toSet.subsetOf(got2) && (got2 -- got).nonEmpty &&
      (got2 -- got).forall { case (a, b) => a >= 400 || b >= 400 },
      s"fixture: the second batch must add only new pairs: ${got2 -- got}")
    assert(filesBefore.subsetOf(dataFiles(store, "fx_pairs")),
      "a batch of only new pairs must keep every prior pair file")
  }

  test("indexedNearDupSink: each batch evaluates its pairs source, the Jaccard join, once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = Files.createTempDirectory("graft_once_landing").toString
    val ckpt = Files.createTempDirectory("graft_once_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_once_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    graft.ext.DedupIndex.build(store, "ix3",
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    // the pair (1, 3) is already recorded, so batch 2 takes the merge path
    store.overwrite("ix3_pairs", Seq((1L, 3L, 0.0)).toDF("id_a", "id_b", "jaccard"))

    // the Jaccard join is the one query that reads the batch's staged
    // candidate shingles: count the query executions scanning them
    val joins = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists {
          case l: LogicalRelation => l.relation match {
            case r: HadoopFsRelation =>
              r.location.rootPaths.exists(_.toString.contains("ix3_inc_shcand"))
            case _ => false
          }
          case _ => false
        }) joins.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def joinsDuring(body: => Unit): Int = {
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      joins.set(0)
      body
      org.apache.spark.graft.Bus.drain(spark.sparkContext)
      joins.get()
    }
    def drain(): Unit = Streams.indexedNearDupSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "ix3", "ix3_pairs", ckpt, threshold = 0.8).awaitTermination()

    spark.listenerManager.register(listener)
    try {
      val d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
        s"""{"doc_id":1,"text":"$d1"}
           |{"doc_id":2,"text":"one two three four five six seven eight nine ten"}
           |""".stripMargin)
      assert(joinsDuring(drain()) === 1, "batch 1: no pair, publish path")
      Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
        s"""{"doc_id":3,"text":"${d1.replace(" mu", " nu")}"}
           |""".stripMargin)
      assert(joinsDuring(drain()) === 1, "batch 2: pair (1, 3) matches, merge path")
    } finally spark.listenerManager.unregister(listener)
    val pairs = store.read("ix3_pairs").as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 3L)) && pairs.head._3 > 0.8, pairs)
  }

  test("scoredUpsertSink: trained-weight gate keeps only above-cut docs, replay-idempotent") {
    val dir = Files.createTempDirectory("graft_sc_landing").toString
    val ckpt = Files.createTempDirectory("graft_sc_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_sc_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    import spark.implicits._
    val weights = Seq(("good", "0.500000"), ("bad", "-0.500000")).toDF("term", "weight")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"text":"good good stuff"}
         |{"doc_id":2,"text":"bad bad stuff"}
         |{"doc_id":3,"text":"neutral words only"}
         |""".stripMargin)
    def drain(ck: String): Unit = Streams.scoredUpsertSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "gated", "doc_id", "text", weights, bias = 0.0, cut = 0.1,
      ck).awaitTermination()
    drain(ckpt)
    // doc 1: (0.5+0.5)/3 ≈ 0.33 > 0.1 kept; doc 2: -0.33 dropped;
    // doc 3: all-OOV → bias 0.0 ≤ 0.1 dropped
    val kept = store.read("gated").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(kept === Seq(1L))
    // full replay under a fresh checkpoint: table unchanged (upsert by id)
    drain(Files.createTempDirectory("graft_sc_ckpt2").toString)
    assert(store.read("gated").collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    // a batch of only new ids appends: every prior file stays in place
    val filesBefore = dataFiles(store, "gated")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      s"""{"doc_id":4,"text":"good good good"}
         |{"doc_id":5,"text":"bad words"}
         |""".stripMargin)
    drain(ckpt)
    assert(store.read("gated").collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      === Seq(1L, 4L))
    assert(filesBefore.subsetOf(dataFiles(store, "gated")),
      "a batch of only new ids must keep every prior file")
  }

  test("expectationsSink: per-batch quarantine with reasons; fixed redelivery upserts clean") {
    val dir = Files.createTempDirectory("graft_exp_landing").toString
    val ckpt = Files.createTempDirectory("graft_exp_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_exp_store").toString)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType)))
    val rules = Seq(graft.tables.Expectations.Rule("n_positive", col("n") > 0))
    def drain(): Unit = Streams.expectationsSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "exp_clean", "exp_quar", Seq("doc_id"), rules, ckpt).awaitTermination()

    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"n":5}
         |{"doc_id":2,"n":-1}
         |{"doc_id":3}
         |""".stripMargin) // doc 3: n NULL → violation, never a silent pass
    drain()
    assert(store.read("exp_clean").collect().map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    val quar = store.read("exp_quar").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](2).toSet).toMap
    assert(quar === Map(2L -> Set("n_positive"), 3L -> Set("n_positive")))

    // redelivery of doc 2 FIXED: clean gains it; the quarantine row stays
    // as audit history (triage owns retraction)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      s"""{"doc_id":2,"n":9}
         |""".stripMargin)
    drain()
    assert(store.read("exp_clean").collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      === Seq(1L, 2L))
    assert(store.read("exp_quar").count() === 2)
  }

  test("expectationsSink: a batch that dies inside the quarantine publish replays to a clean delivery's rows") {
    graft.FaultFs.install(spark)
    val dir = Files.createTempDirectory("graft_exf_landing").toString
    val ckpt = Files.createTempDirectory("graft_exf_ckpt").toString
    val store = new TableStore(spark,
      graft.FaultFs.root(Files.createTempDirectory("graft_exf_store").toString))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType)))
    val rules = Seq(graft.tables.Expectations.Rule("n_positive", col("n") > 0))
    def drain(st: TableStore, ck: String): Unit = Streams.expectationsSink(
      spark.readStream.format("json").schema(schema).load(dir),
      st, "exp_clean", "exp_quar", Seq("doc_id"), rules, ck).awaitTermination()

    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      s"""{"doc_id":1,"n":5}
         |{"doc_id":2,"n":-1}
         |""".stripMargin)
    drain(store, ckpt)
    // batch 2: new keys on both sides, so both tables publish; the clean
    // publish lands and the quarantine publish dies at its first rename
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      s"""{"doc_id":3,"n":7}
         |{"doc_id":4,"n":-2}
         |{"doc_id":5}
         |""".stripMargin)
    graft.FaultFs.failRename(0, firstPublish("exp_quar"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain(store, ckpt))
    assert(graft.FaultFs.disarm(), "the injected rename fault never fired")
    assert(store.read("exp_clean").count() === 2 && store.read("exp_quar").count() === 1,
      "the crash state: the clean publish landed, the quarantine publish did not")

    // the replay finds the clean keys already there and merges over them
    drain(store, ckpt)
    val clean = new TableStore(spark, Files.createTempDirectory("graft_exf_ref").toString)
    drain(clean, Files.createTempDirectory("graft_exf_ref_ckpt").toString)
    def rows(st: TableStore, t: String) =
      st.read(t).collect().map(_.toString).sorted.toSeq
    Seq("exp_clean", "exp_quar").foreach { t =>
      assert(rows(store, t) === rows(clean, t), t)
      assert(store.read(t).groupBy(col("doc_id")).count()
        .filter(col("count") > 1).isEmpty, s"the replay duplicated a key of $t")
    }
    assert(rows(store, "exp_clean").size === 2 && rows(store, "exp_quar").size === 3)
  }

  test("anomalyStream skips values outside the DECIMAL(18,2) domain instead of dying") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Event]
    val flags = Streams.anomalyStream(in.toDS(), zCut = 2.0, minHistory = 2)
    val q = flags.writeStream.format("memory").queryName("anom_guard")
      .outputMode(OutputMode.Append).start()
    try {
      // 1e17 overflows the DECIMAL(18,2) cents long; NaN fails quantization
      // — with an unguarded fold either would kill the whole query
      in.addData(
        Streams.Event(1, ts("2026-01-01 00:00:01"), 7, "a", 1.0e17),
        Streams.Event(2, ts("2026-01-01 00:00:02"), 7, "a", Double.NaN),
        Streams.Event(3, ts("2026-01-01 00:00:03"), 7, "a", 5.0),
        Streams.Event(4, ts("2026-01-01 00:00:04"), 7, "a", 6.0),
        Streams.Event(5, ts("2026-01-01 00:00:05"), 7, "a", 100.0))
      q.processAllAvailable()
      val flagged = spark.table("anom_guard").collect()
        .map(_.getAs[Long]("event_id")).toSet
      // the out-of-domain rows were skipped (neither folded nor scored):
      // history at event 5 is exactly {5.0, 6.0} → z(100) flags. Had 1e17
      // entered the moments, σ would dwarf the spike and NOTHING would flag.
      assert(flagged === Set(5L), s"got $flagged")
    } finally q.stop()
  }

  test("landingStream cleanSource=archive moves processed files out of landing (S10 streaming path)") {
    val dir = Files.createTempDirectory("graft_landing_arch").toString
    val archive = Files.createTempDirectory("graft_archive").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_arch").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_str_arch").toString)

    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_1.csv"),
      "order_id,order_placement_date,customer_id,product_id,order_qty\n" +
        "ORD001,01-12-2025,789401,25891101,10\n")
    val s1 = Streams.landingStream(spark, dir, Star.rawOrders, Some(archive))
    Streams.upsertSink(s1, store, "orders_arch",
      Seq("order_id", "product_id"), ckpt).awaitTermination()
    assert(store.read("orders_arch").count() === 1)

    // Archival is committed when the NEXT batch commits (the source archives
    // files of batch N on commit of N+1) — land a second file and drain again.
    Files.writeString(java.nio.file.Paths.get(s"$dir/orders_2.csv"),
      "order_id,order_placement_date,customer_id,product_id,order_qty\n" +
        "ORD002,02-12-2025,789402,25891102,5\n")
    Streams.upsertSink(Streams.landingStream(spark, dir, Star.rawOrders, Some(archive)),
      store, "orders_arch", Seq("order_id", "product_id"), ckpt).awaitTermination()

    // The cleaner runs on a background pool; poll briefly for the move.
    def landed = new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv"))
    def archived: Int = {
      val found = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(walk)
        else if (f.getName.endsWith(".csv")) found += f.getName
      walk(new java.io.File(archive)); found.size
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (archived < 1 && System.nanoTime() < deadline) Thread.sleep(200)
    assert(archived >= 1, s"expected at least one archived file under $archive")
    assert(landed + archived === 2, "every landed file is either pending or archived, never lost")
  }

  test("retrievalIngestSink: streamed docs append to ANN + BM25 indexes; crash replay repairs; re-delivery is a no-op") {
    import graft.ext.{AnnIndex, Bm25}
    val dir = Files.createTempDirectory("graft_ri_landing").toString
    val ckpt = Files.createTempDirectory("graft_ri_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_ri_store").toString)

    // the AnnIndexSpec two-family fixture, with a text column riding along
    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    def text(i: Long) = s"spark table doc$i " + ("merge " * (i % 3).toInt).trim
    val all = (1 to 16).map(i =>
      (i.toLong, text(i), vec(if (i % 2 == 1) 0 else 8, i)))
    val base = all.filter(_._1 <= 12)
    val inc = all.filter(_._1 > 12)
    val baseDf = base.toDF("doc_id", "text", "embedding")

    // indexes BUILT before the stream starts (the sink only increments)
    AnnIndex.build(store, "ri_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "ri_bm", baseDf, "doc_id", "text")

    // CRASH-WINDOW PLANT: a prior attempt of batch 0 died mid-postings —
    // doc 13 has half its postings and no doclen row; the intent marker
    // says started=0, never done
    store.append("ri_bm_postings",
      Seq((13L, "spark", 1L)).toDF("doc_id", "term", "tcnt"))
    store.overwrite("ri_ann_ingest_intent",
      Seq((0L, -1L)).toDF("started_batch", "done_batch"))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("ri_ann"), bm25Index = Some("ri_bm"))
      .awaitTermination()

    // batch 1: the increment, plus a re-delivery of an indexed doc
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      (inc.map(row) :+ row(base.head)).mkString("\n"))
    drain()

    // both artifacts now equal a from-scratch union build, the torn
    // postings row REPAIRED (the replay path deleted-then-reappended 13)
    val unionDf = all.toDF("doc_id", "text", "embedding")
    Bm25.buildIndex(store, "ri_bm_ref", unionDf, "doc_id", "text")
    def bmRes(n: String) = Bm25.searchIndex(store, n, "doc_id",
        Seq("spark", "merge"), topK = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(bmRes("ri_bm") === bmRes("ri_bm_ref"))
    assert(store.read("ri_bm_postings")
      .filter(col("doc_id") === 13L && col("term") === "spark").count() === 1)
    assert(AnnIndex.knownIds(store, "ri_ann", "doc_id")
      .as[Long].collect().toSet === (1L to 16L).toSet)
    val annBefore = store.read("ri_ann_codes").collect()
      .map(_.toSeq).toSet

    // batch 2: pure re-delivery — every table byte-identical after
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      inc.take(2).map(row).mkString("\n"))
    drain()
    assert(bmRes("ri_bm") === bmRes("ri_bm_ref"))
    assert(store.read("ri_ann_codes").collect().map(_.toSeq).toSet === annBefore)
    // the marker closed: started == done == the last batch id
    val m = store.read("ri_ann_ingest_intent").collect()(0)
    assert(m.getLong(0) === m.getLong(1))
    // neither the repair replay (batch 1) nor the fast path (batch 2)
    // leaves a table beyond the indexes, the reference and the marker
    assert(storeTables(store) === annTables("ri_ann") ++ bm25Tables("ri_bm") ++
      bm25Tables("ri_bm_ref") + "ri_ann_ingest_intent")
  }

  test("retrievalIngestSink: a batch that dies inside its BM25 leg leaves only the sink's tables in the store, and the replay repairs") {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    graft.FaultFs.install(spark)
    val dir = Files.createTempDirectory("graft_lc_landing").toString
    val ckpt = Files.createTempDirectory("graft_lc_ckpt").toString
    val store = new TableStore(spark,
      graft.FaultFs.root(Files.createTempDirectory("graft_lc_store").toString))
    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    def doc(i: Long, t: String) = (i, t, vec(if (i % 2 == 1) 0 else 8, i.toInt))
    val base = (1L to 12L).map(i => doc(i, text(i)))
    val baseDf = base.toDF("doc_id", "text", "embedding")
    AnnIndex.build(store, "lc_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "lc_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "lc_gate", baseDf, "doc_id", "text")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("lc_ann"), bm25Index = Some("lc_bm"),
      dedupGate = Some("lc_gate"), gatePairsTable = Some("lc_pairs"))
      .awaitTermination()

    // 13-16 are novel, 17 copies an indexed doc's text and is gated out.
    // The BM25 leg dies committing its doclen append, after its postings
    // landed: the ANN leg is done, the gate commit and the done marker
    // never ran
    val b1 = (13L to 16L).map(i => doc(i, text(i))) :+ doc(17L, text(1))
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      b1.map(row).mkString("\n"))
    graft.FaultFs.failRename(0, "lc_bm_doclen/")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(graft.FaultFs.disarm(), "the injected rename fault never fired")
    val sinkTables = annTables("lc_ann") ++ bm25Tables("lc_bm") ++ gateTables("lc_gate") ++
      Set("lc_ann_ingest_intent", "lc_pairs")
    assert(storeTables(store) === sinkTables)
    assert(store.read("lc_bm_postings").filter(col("doc_id") === 13L).count() > 0,
      "fixture: the crash must leave the leg half done")

    // the restart replays the batch down the repair path
    drain()
    val keptIds = (1L to 16L).toSet
    assert(AnnIndex.knownIds(store, "lc_ann", "doc_id").as[Long].collect().toSet === keptIds)
    assert(Bm25.knownIds(store, "lc_bm", "doc_id").as[Long].collect().toSet === keptIds)
    assert(DedupIndex.knownIds(store, "lc_gate", "doc_id").as[Long].collect().toSet ===
      keptIds + 17L)
    val ref = new TableStore(spark, Files.createTempDirectory("graft_lc_ref").toString)
    Bm25.buildIndex(ref, "lc_bm", (base ++ (13L to 16L).map(i => doc(i, text(i))))
      .toDF("doc_id", "text", "embedding"), "doc_id", "text")
    def bmRes(st: TableStore) = Bm25.searchIndex(st, "lc_bm", "doc_id",
        Seq("spark", "merge"), topK = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(bmRes(store) === bmRes(ref))
    val m = store.read("lc_ann_ingest_intent").collect()(0)
    assert(m.getLong(0) === m.getLong(1))
    assert(storeTables(store) === sinkTables)
  }

  test("retrievalIngestSink + rebuildIfDrifted: the per-batch clapper cadence — drifted batch rings, rebuild mid-stream, next batch appends against the fresh artifacts") {
    import graft.ext.AnnIndex
    val dir = Files.createTempDirectory("graft_rb_landing").toString
    val ckpt = Files.createTempDirectory("graft_rb_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_rb_store").toString)
    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    // family-A world: quantizers trained on A only, corpus = A
    val base = (1 to 10).map(i => (i.toLong, vec(0, i)))
    val baseDf = base.toDF("doc_id", "embedding")
    AnnIndex.build(store, "rb_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    store.overwrite("rb_corpus", baseDf)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, Seq[Float])) =
      s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("rb_ann"), corpusTable = Some("rb_corpus"))
      .awaitTermination()
    // the documented operational cadence: ask the clapper after every
    // batch, with the sink's own corpus table as the rebuild source
    def clapper() = AnnIndex.rebuildIfDrifted(store, "rb_ann",
      store.read("rb_corpus"), "doc_id", "embedding", dim = 16, factor = 2.0)

    // batch 1: the ORTHOGONAL family — the frozen A-only quantizers code
    // it badly, the drift row lands, the bell rings
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      (21 to 30).map(i => row((i.toLong, vec(8, i)))).mkString("\n"))
    drain()
    val dec = clapper()
    assert(dec.triggered, s"drifted batch did not ring: $dec")
    // rebuild covered the whole admitted corpus, preserved stored (m, k),
    // reset the baseline to one fresh build row
    assert(AnnIndex.knownIds(store, "rb_ann", "doc_id")
      .as[Long].collect().toSet === ((1L to 10L) ++ (21L to 30L)).toSet)
    assert(store.read("rb_ann_books").select(col("sub"))
      .distinct().count() === 4L)
    assert(AnnIndex.drift(store, "rb_ann")
      .select(col("phase")).as[String].collect().toSeq === Seq("build"))

    // batch 2: more family-B docs append against the FRESH artifacts
    // through the unchanged guard/marker machinery
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      (31 to 35).map(i => row((i.toLong, vec(8, i)))).mkString("\n"))
    drain()
    assert(AnnIndex.knownIds(store, "rb_ann", "doc_id")
      .as[Long].collect().toSet ===
      ((1L to 10L) ++ (21L to 35L)).toSet)
    // the rebuilt geometry KNOWS family B now: a one-probe search for a
    // family-B query stays inside family B — impossible pre-rebuild,
    // where no centroid pointed at B
    val out = AnnIndex.search(store, "rb_ann",
        Seq((31L, vec(8, 31))).toDF("doc_id", "embedding"),
        "doc_id", "embedding", k = 5, nprobe = 1)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(out.nonEmpty && out.forall(id => id >= 21L),
      s"family-A neighbors from a family-B probe: $out")
    // post-rebuild appends are in-distribution: the bell re-armed and
    // stays silent, nothing rewrites
    val codesBefore = store.read("rb_ann_codes").collect().map(_.toSeq).toSet
    val dec2 = clapper()
    assert(!dec2.triggered)
    assert(store.read("rb_ann_codes").collect().map(_.toSeq).toSet === codesBefore)
    // marker closed, no stage orphans — the rebuild composed cleanly
    val m = store.read("rb_ann_ingest_intent").collect()(0)
    assert(m.getLong(0) === m.getLong(1))
    assert(storeTables(store) ===
      annTables("rb_ann") + "rb_corpus" + "rb_ann_ingest_intent")
  }

  test("retrievalIngestSink rebuildPolicy: a mid-stream flood rings the collapse bell INSIDE the sink; the rearm guard holds across batches") {
    import graft.ext.AnnIndex
    val dir = Files.createTempDirectory("graft_rbp_landing").toString
    val ckpt = Files.createTempDirectory("graft_rbp_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_rbp_store").toString)
    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    // base ids are HIGH (101..116) so a flood with LOW ids supplies the
    // rebuild's smallest-id k-means seeds — the AnnIndexSpec futile-
    // rebuild shape: Lloyd collapses the populated clusters and the
    // fresh geometry stays collapsed
    val base = (101 to 116).map(i =>
      (i.toLong, vec(if (i % 2 == 1) 0 else 8, i)))
    val baseDf = base.toDF("doc_id", "embedding")
    AnnIndex.build(store, "rbp_ann", baseDf, "doc_id", "embedding",
      dim = 16, m = 4, k = 4) // auto nlist = ceil(sqrt(16)) = 4
    store.overwrite("rbp_corpus", baseDf)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, Seq[Float])) =
      s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
    // driftFactor pinned out of reach: this case is about the skew/
    // collapse bells and their geometry-baseline rearm guard
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("rbp_ann"), corpusTable = Some("rbp_corpus"),
      rebuildPolicy = Some(Streams.RebuildPolicy(dim = 16,
        driftFactor = 100.0, decisionTable = Some("rbp_dec"))))
      .awaitTermination()

    // batch 0: a 48-copy verbatim flood — appends push autoNlist to
    // ceil(sqrt(64)) = 8 against the stored 4 clusters (ratio 2 ≥ 2):
    // the collapse bell rings INSIDE the sink, after the legs and the
    // done marker
    val flood = vec(0, 999)
    Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
      (1 to 48).map(i => row((i.toLong, flood))).mkString("\n"))
    drain()
    val d0 = store.read("rbp_dec").orderBy(col("batch_id")).collect()
    assert(d0.length === 1)
    assert(d0(0).getBoolean(d0(0).fieldIndex("rebuilt")),
      s"flood batch did not ring: ${d0(0)}")
    assert(d0(0).getBoolean(d0(0).fieldIndex("collapse")))
    assert(!d0(0).getBoolean(d0(0).fieldIndex("drift")))
    // the rebuild composed with the guard/marker machinery: all docs
    // indexed once, marker closed, fresh geometry + baseline persisted
    assert(AnnIndex.knownIds(store, "rbp_ann", "doc_id")
      .as[Long].collect().toSet ===
      ((1L to 48L) ++ (101L to 116L)).toSet)
    val m0 = store.read("rbp_ann_ingest_intent").collect()(0)
    assert(m0.getLong(0) === m0.getLong(1))
    assert(store.exists("rbp_ann_geom_base"))
    // the still-flooded corpus defeated the rebuild (futile): geometry
    // stayed collapsed
    val h1 = AnnIndex.health(store, "rbp_ann")
    assert(h1.autoNlist >= 2 * h1.nClusters,
      s"flooded rebuild unexpectedly cleared: $h1")

    // batch 1: more flood copies — the collapse signal is still over the
    // absolute bar, but NOT 1.25× worse than the futile rebuild's own
    // baseline: the rearm guard declines instead of paying a rebuild
    // every batch
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      (49 to 56).map(i => row((i.toLong, flood))).mkString("\n"))
    drain()
    val d1 = store.read("rbp_dec").orderBy(col("batch_id")).collect()
    assert(d1.length === 2)
    assert(!d1(1).getBoolean(d1(1).fieldIndex("rebuilt")),
      s"rearm guard did not hold across batches: ${d1(1)}")
    // the batch itself still landed through the unchanged legs
    assert(AnnIndex.knownIds(store, "rbp_ann", "doc_id")
      .as[Long].collect().toSet ===
      ((1L to 56L) ++ (101L to 116L)).toSet)
    assert(storeTables(store) === annTables("rbp_ann") ++
      Set("rbp_ann_geom_base", "rbp_corpus", "rbp_dec", "rbp_ann_ingest_intent"))
  }

  test("retrievalIngestSink rebuildPolicy: the DRIFT bell rings through the sink flag too — orthogonal-family batch rebuilds, in-distribution follow-up declines") {
    import graft.ext.AnnIndex
    val dir = Files.createTempDirectory("graft_rbd_landing").toString
    val ckpt = Files.createTempDirectory("graft_rbd_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_rbd_store").toString)
    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    // family-A world; nlist = 4 keeps the COLLAPSE bell silent across
    // the growth below (autoNlist(20) = 5 < 2 × 4), isolating drift
    val base = (1 to 10).map(i => (i.toLong, vec(0, i)))
    val baseDf = base.toDF("doc_id", "embedding")
    AnnIndex.build(store, "rbd_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 4, m = 4, k = 4)
    store.overwrite("rbd_corpus", baseDf)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, Seq[Float])) =
      s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("rbd_ann"), corpusTable = Some("rbd_corpus"),
      rebuildPolicy = Some(Streams.RebuildPolicy(dim = 16,
        decisionTable = Some("rbd_dec"))))
      .awaitTermination()
    // batch 0: the ORTHOGONAL family — the frozen A-trained quantizers
    // code it badly, the drift bell rings inside the sink
    Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
      (21 to 30).map(i => row((i.toLong, vec(8, i)))).mkString("\n"))
    drain()
    val d0 = store.read("rbd_dec").orderBy(col("batch_id")).collect()
    assert(d0.length === 1)
    assert(d0(0).getBoolean(d0(0).fieldIndex("rebuilt")), s"${d0(0)}")
    assert(d0(0).getBoolean(d0(0).fieldIndex("drift")))
    assert(!d0(0).getBoolean(d0(0).fieldIndex("collapse")))
    // the rebuild reset the drift record to one fresh build row
    assert(AnnIndex.drift(store, "rbd_ann")
      .select(col("phase")).as[String].collect().toSeq === Seq("build"))
    // batch 1: more family-B docs are IN-distribution for the fresh
    // quantizers — every bell declines, artifacts untouched
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      (31 to 35).map(i => row((i.toLong, vec(8, i)))).mkString("\n"))
    drain()
    val d1 = store.read("rbd_dec").orderBy(col("batch_id")).collect()
    assert(d1.length === 2)
    assert(!d1(1).getBoolean(d1(1).fieldIndex("rebuilt")), s"${d1(1)}")
    assert(AnnIndex.knownIds(store, "rbd_ann", "doc_id")
      .as[Long].collect().toSet ===
      ((1L to 10L) ++ (21L to 35L)).toSet)
  }

  test("retrievalIngestSink policy cadence: cadence=2 asks on even batches only — the odd batch writes no decision row") {
    import graft.ext.{Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_cad_landing").toString
    val ckpt = Files.createTempDirectory("graft_cad_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_cad_store").toString)
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    val baseDf = (1L to 4L).map(i => (i, text(i))).toDF("doc_id", "text")
    Bm25.buildIndex(store, "cad_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "cad_gate", baseDf, "doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      bm25Index = Some("cad_bm"), dedupGate = Some("cad_gate"),
      gateCapPolicy = Some(Streams.GateCapPolicy(cadence = 2,
        decisionTable = Some("cad_dec"))))
      .awaitTermination()
    def push(b: Int, ids: Seq[Long]): Unit = {
      Files.writeString(java.nio.file.Paths.get(s"$dir/b$b.json"),
        ids.map(i => s"""{"doc_id":$i,"text":"${text(i)}"}""").mkString("\n"))
      drain()
    }
    push(0, Seq(10L, 11L)) // batch 0: 0 % 2 == 0 → asked (declines)
    push(1, Seq(12L, 13L)) // batch 1: skipped — no row
    push(2, Seq(14L, 15L)) // batch 2: asked again
    val rows = store.read("cad_dec").select(col("batch_id"))
      .as[Long].collect().sorted.toSeq
    assert(rows === Seq(0L, 2L), s"cadence rows: $rows")
    // the skipped batch still landed through the unchanged legs
    assert(Bm25.knownIds(store, "cad_bm", "doc_id")
      .as[Long].collect().toSet === (1L to 4L).toSet ++ (10L to 15L).toSet)
  }

  test("retrievalIngestSink policy audit tables honor the sink's compaction bound — a long run stays under the file-count the index tables honor") {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_dtc_landing").toString
    val ckpt = Files.createTempDirectory("graft_dtc_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_dtc_store").toString)
    def vec(i: Int): Seq[Float] =
      (0 until 16).map(d => if (d < 4) 1.0f + 0.01f * ((i * 7 + d) % 5)
        else 0.001f * ((i * 3 + d) % 7))
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    val baseDf = (1L to 8L).map(i => (i, text(i), vec(i.toInt)))
      .toDF("doc_id", "text", "embedding")
    AnnIndex.build(store, "dtc_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    store.overwrite("dtc_corpus", baseDf)
    Bm25.buildIndex(store, "dtc_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "dtc_gate", baseDf, "doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // every bell silenced: this spec is about the AUDIT tables' file
    // count, not the policies' decisions
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("dtc_ann"), bm25Index = Some("dtc_bm"),
      dedupGate = Some("dtc_gate"), corpusTable = Some("dtc_corpus"),
      maxIndexFiles = 2,
      rebuildPolicy = Some(Streams.RebuildPolicy(dim = 16,
        driftFactor = 100.0, skewCostMultiple = 1000.0,
        collapseFactor = 100.0, decisionTable = Some("dtc_rdec"))),
      gateCapPolicy = Some(Streams.GateCapPolicy(
        decisionTable = Some("dtc_gdec"))))
      .awaitTermination()
    (0 until 5).foreach { b =>
      val i = 100L + b
      Files.writeString(java.nio.file.Paths.get(s"$dir/b$b.json"),
        s"""{"doc_id":$i,"text":"${text(i)}","embedding":[${vec(i.toInt).mkString(",")}]}""")
      drain()
    }
    def nFiles(t: String): Int = {
      val p = new org.apache.hadoop.fs.Path(store.path(t))
      graft.tables.Compact.dataFiles(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p).size
    }
    for (t <- Seq("dtc_rdec", "dtc_gdec")) {
      // 5 one-row appends; the per-batch compaction trigger keeps the
      // table at/under the bound instead of one file per batch forever
      assert(store.read(t).count() === 5L, s"$t rows")
      assert(nFiles(t) <= 3, s"$t data files: ${nFiles(t)}")
    }
  }

  test("retrievalIngestSink dedupGate: near-dup docs never reach the retrieval indexes; dropped ids stay guarded") {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_rg_landing").toString
    val ckpt = Files.createTempDirectory("graft_rg_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_rg_store").toString)

    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    // texts pairwise-distinct unless copied verbatim: id-specific tokens
    // in several positions keep 3-shingle jaccard of distinct docs far
    // below the 0.8 gate bar
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    def doc(i: Long, t: String) = (i, t, vec(if (i % 2 == 1) 0 else 8, i.toInt))
    val base = (1L to 12L).map(i => doc(i, text(i)))
    val baseDf = base.toDF("doc_id", "text", "embedding")

    AnnIndex.build(store, "rg_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "rg_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "rg_gate", baseDf, "doc_id", "text")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("rg_ann"), bm25Index = Some("rg_bm"),
      dedupGate = Some("rg_gate"), gatePairsTable = Some("rg_pairs"))
      .awaitTermination()

    // batch 1: 17 copies an INDEXED doc's text (cross-batch dup), 18 is
    // novel, 19 and 21 copy each other (within-batch dup — smaller id wins)
    val b1 = Seq(doc(17L, text(1)), doc(18L, text(18)),
      doc(19L, text(19)), doc(21L, text(19)))
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      b1.map(row).mkString("\n"))
    drain()

    val keptIds = (1L to 12L).toSet + 18L + 19L
    assert(AnnIndex.knownIds(store, "rg_ann", "doc_id")
      .as[Long].collect().toSet === keptIds)
    assert(Bm25.knownIds(store, "rg_bm", "doc_id")
      .as[Long].collect().toSet === keptIds)
    // retrieval content equals a from-scratch build on the KEPT corpus
    val keptDf = (base ++ Seq(doc(18L, text(18)), doc(19L, text(19))))
      .toDF("doc_id", "text", "embedding")
    Bm25.buildIndex(store, "rg_bm_ref", keptDf, "doc_id", "text")
    def bmRes(n: String) = Bm25.searchIndex(store, n, "doc_id",
        Seq("spark", "merge"), topK = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(bmRes("rg_bm") === bmRes("rg_bm_ref"))
    // the gate index records the SEEN corpus — dropped ids included
    assert(DedupIndex.knownIds(store, "rg_gate", "doc_id")
      .as[Long].collect().toSet === (1L to 12L).toSet ++ Set(17L, 18L, 19L, 21L))
    // audit trail: the cross-batch pair and the within-batch pair
    val pairs = store.read("rg_pairs")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 17L)) || pairs.contains((17L, 1L)))
    assert(pairs.contains((19L, 21L)) || pairs.contains((21L, 19L)))

    // batch 2: re-delivery of a DROPPED id plus a second-degree near-dup
    // (23 copies dropped 17's text): both guarded/dropped, nothing changes
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      Seq(doc(17L, text(1)), doc(23L, text(1))).map(row).mkString("\n"))
    drain()
    assert(AnnIndex.knownIds(store, "rg_ann", "doc_id")
      .as[Long].collect().toSet === keptIds)
    assert(bmRes("rg_bm") === bmRes("rg_bm_ref"))
    assert(DedupIndex.knownIds(store, "rg_gate", "doc_id")
      .as[Long].collect().toSet === (1L to 12L).toSet ++ Set(17L, 18L, 19L, 21L, 23L))

    // gate scratch never lands in the store
    assert(storeTables(store) === annTables("rg_ann") ++ bm25Tables("rg_bm") ++
      bm25Tables("rg_bm_ref") ++ gateTables("rg_gate") + "rg_pairs" + "rg_ann_ingest_intent")
    // the marker closed
    val m = store.read("rg_ann_ingest_intent").collect()(0)
    assert(m.getLong(0) === m.getLong(1))
  }

  test("retrievalIngestSink gateCapPolicy: the static bound caps the flood's ARRIVAL batch, the clapper rings on the sink cadence, min(static, stored) probes after; rearm holds") {
    import graft.ext.{Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_gcp_landing").toString
    val ckpt = Files.createTempDirectory("graft_gcp_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_gcp_store").toString)
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    val flood = "the same boilerplate crawl banner on every mirror page"
    val base = (1L to 6L).map(i => (i, text(i)))
    val baseDf = base.toDF("doc_id", "text")
    Bm25.buildIndex(store, "gcp_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "gcp_gate", baseDf, "doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def row(d: (Long, String)) =
      s"""{"doc_id":${d._1},"text":"${d._2}"}"""
    // with gateCapPolicy, gateBucketCap is the STATIC pre-ring bound:
    // the clapper runs after a batch commits, so the flood's own arrival
    // batch (batch 0 below) is bounded only by this — and once the bell
    // rings, the probe cap is min(static, stored policy)
    def drain(retireFraction: Double = 0.0): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      bm25Index = Some("gcp_bm"),
      dedupGate = Some("gcp_gate"), gateBucketCap = 3,
      gateCapPolicy = Some(Streams.GateCapPolicy(hotBucketBudget = 10,
        retireFraction = retireFraction, decisionTable = Some("gcp_dec"))))
      .awaitTermination()

    // batch 0: a 12-copy verbatim text flood + one novel doc. The
    // STATIC bound (3) caps the flood's own arrival batch — star pairs
    // are sufficient for a verbatim flood, so the gate still admits the
    // min id only; the SEEN-corpus commit puts all 12 copies in one band
    // bucket, and the clapper on the sink cadence rings (12 ≥ 10) and
    // persists the derived cap
    Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
      ((101L to 112L).map(i => (i, flood)) ++ Seq((120L, text(120L))))
        .map(row).mkString("\n"))
    drain()
    assert(Bm25.knownIds(store, "gcp_bm", "doc_id")
      .as[Long].collect().toSet === (1L to 6L).toSet ++ Set(101L, 120L))
    val d0 = store.read("gcp_dec").orderBy(col("batch_id")).collect()
    assert(d0.length === 1 && d0(0).getBoolean(d0(0).fieldIndex("capped")),
      s"flood batch did not ring: ${d0.toSeq}")
    assert(d0(0).getLong(d0(0).fieldIndex("hot_rows")) === 12L)
    val cap0 = DedupIndex.storedBucketCap(store, "gcp_gate")
    assert(cap0.nonEmpty && cap0.get >= 64)
    // the audit names BOTH caps: the stored policy alone and the
    // EFFECTIVE min-composed cap the next probe runs under
    assert(d0(0).getInt(d0(0).fieldIndex("bucket_cap")) === cap0.get)
    assert(d0(0).getInt(d0(0).fieldIndex("probe_cap")) === 3)

    // batch 1: two more flood copies probe under min(static 3, stored
    // 64) = 3 — the hot bucket star-pairs to its min-id seen member —
    // and drop as dups of the seen corpus; hot grows 12 → 14 < 1.25 ×
    // 12, so the rearm guard declines instead of re-deriving every batch
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      Seq((201L, flood), (202L, flood)).map(row).mkString("\n"))
    drain()
    assert(Bm25.knownIds(store, "gcp_bm", "doc_id")
      .as[Long].collect().toSet === (1L to 6L).toSet ++ Set(101L, 120L))
    val d1 = store.read("gcp_dec").orderBy(col("batch_id")).collect()
    assert(d1.length === 2)
    assert(!d1(1).getBoolean(d1(1).fieldIndex("capped")),
      s"rearm guard did not hold: ${d1(1)}")
    assert(!d1(1).getBoolean(d1(1).fieldIndex("retired")),
      s"default retireFraction = 0 must never retire: ${d1(1)}")
    assert(DedupIndex.storedBucketCap(store, "gcp_gate") === cap0)

    // batch 2: the flood source is fixed upstream — every flood copy the
    // SEEN gate recorded is taken down — and the sink runs with
    // retireFraction = 0.5: the clapper finds the hottest bucket at
    // organic levels (≤ 5 = 0.5 × 10) with a policy in force, retires
    // it on the sink cadence, and the audit row says so
    DedupIndex.deleteIds(store, "gcp_gate",
      ((101L to 112L) ++ Seq(201L, 202L)).toDF("doc_id"), "doc_id")
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      Seq((300L, text(300L))).map(row).mkString("\n"))
    drain(retireFraction = 0.5)
    val d2 = store.read("gcp_dec").orderBy(col("batch_id")).collect()
    assert(d2.length === 3)
    assert(!d2(2).getBoolean(d2(2).fieldIndex("capped")))
    assert(d2(2).getBoolean(d2(2).fieldIndex("retired")),
      s"clean index under the hysteresis bar did not retire: ${d2(2)}")
    assert(d2(2).getInt(d2(2).fieldIndex("bucket_cap")) === 0)
    // probe_cap still names the static bound — the only cap left
    assert(d2(2).getInt(d2(2).fieldIndex("probe_cap")) === 3)
    assert(DedupIndex.storedBucketCap(store, "gcp_gate").isEmpty)
    assert(!store.exists("gcp_gate_cap_policy"))
    // the novel doc landed through the legs as usual
    assert(Bm25.knownIds(store, "gcp_bm", "doc_id")
      .as[Long].collect().toSet === (1L to 6L).toSet ++ Set(101L, 120L, 300L))
    // marker closed, no gate scratch in the store
    val m = store.read("gcp_bm_ingest_intent").collect()(0)
    assert(m.getLong(0) === m.getLong(1))
    assert(storeTables(store) === bm25Tables("gcp_bm") ++ gateTables("gcp_gate") ++
      Set("gcp_gate_hh_sketch", "gcp_gate_health_cache", "gcp_dec", "gcp_bm_ingest_intent"))
  }

  test("retrievalIngestSink bm25CapPolicy: a shared-vocabulary flood rings the hot-term bell through the sink flag, searches prune through the stored policy, takedown + retireFraction un-rings it") {
    import graft.ext.Bm25
    val dir = Files.createTempDirectory("graft_bcp_landing").toString
    val ckpt = Files.createTempDirectory("graft_bcp_ckpt").toString
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_bcp_store").toString)
    // every doc carries 'common' (the stopword-to-be); the rest doc-local
    def text(i: Long) = s"alpha$i common beta$i gamma$i"
    Bm25.buildIndex(store, "bcp_bm",
      (1L to 4L).map(i => (i, text(i))).toDF("doc_id", "text"),
      "doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(retireFraction: Double = 0.0): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      bm25Index = Some("bcp_bm"),
      bm25CapPolicy = Some(Streams.Bm25CapPolicy(hotTermBudget = 6,
        retireFraction = retireFraction, decisionTable = Some("bcp_dec"))))
      .awaitTermination()
    def push(b: Int, ids: Seq[Long], retireFraction: Double = 0.0): Unit = {
      Files.writeString(java.nio.file.Paths.get(s"$dir/b$b.json"),
        ids.map(i => s"""{"doc_id":$i,"text":"${text(i)}"}""").mkString("\n"))
      drain(retireFraction)
    }
    // batch 0: 2 more docs → df('common') = 6 ≥ budget 6, the bell
    // rings on the sink cadence and persists the policy
    push(0, Seq(10L, 11L))
    val d0 = store.read("bcp_dec").orderBy(col("batch_id")).collect()
    assert(d0.length === 1 && d0(0).getBoolean(d0(0).fieldIndex("capped")),
      s"hot-term bell did not ring: ${d0.toSeq}")
    assert(d0(0).getLong(d0(0).fieldIndex("hot_df")) === 6L)
    assert(d0(0).getLong(d0(0).fieldIndex("df_cap")) === 6L)
    assert(d0(0).getLong(d0(0).fieldIndex("n_stopterms")) === 1L)
    assert(Bm25.storedDfCap(store, "bcp_bm") === Some(6L))
    // the search side picks the policy up with NO config change:
    // 'common' is pruned pre-scan, only the alpha1 doc survives
    assert(Bm25.searchIndex(store, "bcp_bm", "doc_id",
        Seq("common", "alpha1"), topK = 10)
      .select(col("doc_id")).as[Long].collect().toSeq === Seq(1L))
    // batch 1: one more doc → hot 7 < 1.25 × 6 = 7.5, rearm declines
    push(1, Seq(12L))
    val d1 = store.read("bcp_dec").orderBy(col("batch_id")).collect()
    assert(d1.length === 2 && !d1(1).getBoolean(d1(1).fieldIndex("capped")),
      s"rearm guard did not hold: ${d1(1)}")
    assert(Bm25.storedDfCap(store, "bcp_bm") === Some(6L))
    // batch 2: the flood source is fixed upstream — enough docs taken
    // down to land hot df at 1 ≤ 0.5 × 6 — and the sink runs with
    // retireFraction = 0.5: the clapper retires the policy on its own
    // cadence and searches go back to unpruned
    Bm25.deleteIds(store, "bcp_bm",
      ((2L to 4L) ++ Seq(10L, 11L, 12L)).toDF("doc_id"), "doc_id")
    assert(Bm25.health(store, "bcp_bm").hotTermRows === 1L)
    push(2, Seq(20L), retireFraction = 0.5)
    val d2 = store.read("bcp_dec").orderBy(col("batch_id")).collect()
    assert(d2.length === 3 && !d2(2).getBoolean(d2(2).fieldIndex("capped")))
    assert(d2(2).getBoolean(d2(2).fieldIndex("retired")),
      s"takedown'd flood under the hysteresis bar did not retire: ${d2(2)}")
    assert(Bm25.storedDfCap(store, "bcp_bm").isEmpty)
    assert(!store.exists("bcp_bm_cap_policy"))
    assert(!store.exists("bcp_bm_cap_stopterms"))
    assert(Bm25.searchIndex(store, "bcp_bm", "doc_id",
        Seq("common", "alpha1"), topK = 10).count() === 2L,
      "retired policy must stop pruning — both 'common' docs score")
  }

  test("sink policies validate at CONSTRUCTION: out-of-range factors throw where the policy is written, never mid-stream in the post-marker clapper") {
    intercept[IllegalArgumentException] { Streams.Bm25CapPolicy(hotTermBudget = 0) }
    intercept[IllegalArgumentException] { Streams.Bm25CapPolicy(rearmFactor = -0.1) }
    intercept[IllegalArgumentException] { Streams.Bm25CapPolicy(retireFraction = 1.5) }
    intercept[IllegalArgumentException] { Streams.Bm25CapPolicy(cadence = 0) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(retireFraction = 1.5) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(retireFraction = -0.1) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(hotBucketBudget = 0) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(capFactor = 0) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(rearmFactor = -0.1) }
    intercept[IllegalArgumentException] { Streams.GateCapPolicy(cadence = 0) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, driftFactor = 0) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, skewCostMultiple = 1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, collapseFactor = 1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, rearmFactor = -1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, cadence = 0) }
    // the build params a FIRED rebuild forwards fail at construction too
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 0) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, nlist = -1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, m = -1) }
    // pqTrainResidual's m-divides-dim rule, mirrored through the shared
    // validator — the one bound a naive param-range copy would miss
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, m = 3) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, k = -1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, coarseIters = -1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, pqIters = -1) }
    intercept[IllegalArgumentException] { Streams.RebuildPolicy(dim = 16, sampleMod = Some(0)) }
    // seed-only iteration counts are VALID end-to-end (kmeansTrain runs
    // `0 until iters`, pqTrainResidual requires only iters >= 0) — the
    // construction mirror must not be stricter than the callee chain
    Streams.RebuildPolicy(dim = 16, coarseIters = 0, pqIters = 0)
    // a RecalSpec riding inside the policy validates ITSELF at its own
    // construction — same fail-where-written rule
    val df = Seq((1L, Seq(1.0f))).toDF("doc_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.ext.AnnIndex.RecalSpec(df, df, sampleMod = 0)
    }
    intercept[IllegalArgumentException] {
      graft.ext.AnnIndex.RecalSpec(df, df, margin = -1)
    }
  }

  test("retrievalIngestSink semanticGate: embedding dups dropped via ANN+exact confirm; corpus leg lands kept docs") {
    import graft.ext.{AnnIndex, Bm25}
    val dir = Files.createTempDirectory("graft_sg_landing").toString
    val ckpt = Files.createTempDirectory("graft_sg_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_sg_store").toString)

    // one-hot fixture: distinct docs are orthogonal (cos 0), dups are
    // verbatim copies (cos 1) — clean margins around the 0.99 gate bar
    def vec(dim: Int): Seq[Float] =
      (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    val base = (1L to 12L).map(i => (i, text(i), vec(i.toInt - 1)))
    val baseDf = base.toDF("doc_id", "text", "embedding")
    AnnIndex.build(store, "sg_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "sg_bm", baseDf, "doc_id", "text")
    store.overwrite("sg_corpus", baseDf) // the admitted corpus, pre-seeded

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""
    def drain(): Unit = Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("sg_ann"), bm25Index = Some("sg_bm"),
      corpusTable = Some("sg_corpus"),
      semanticGateThreshold = Some(0.99),
      semanticGatePairsTable = Some("sg_pairs"))
      .awaitTermination()

    // 17: EXACT embedding of indexed doc 3, fresh TEXT (a paraphrase — the
    // case the lexical gate misses) → dropped; 18: novel embedding →
    // kept; 19/21: same novel embedding as each other → 19 kept, 21
    // dropped (earlier id wins)
    val b1 = Seq((17L, text(90), vec(2)), (18L, text(18), vec(12)),
      (19L, text(19), vec(13)), (21L, text(91), vec(13)))
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      b1.map(row).mkString("\n"))
    drain()

    val keptIds = (1L to 12L).toSet + 18L + 19L
    assert(AnnIndex.knownIds(store, "sg_ann", "doc_id")
      .as[Long].collect().toSet === keptIds)
    assert(Bm25.knownIds(store, "sg_bm", "doc_id")
      .as[Long].collect().toSet === keptIds)
    // the corpus leg landed exactly the kept docs
    assert(store.read("sg_corpus").select(col("doc_id"))
      .as[Long].collect().toSet === keptIds)

    // batch 2: re-delivery of kept 18 (skips the gate via corpus
    // membership, no-ops at the legs) and a fresh dup of KEPT 19's
    // embedding → dropped via the corpus rule
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.json"),
      Seq((18L, text(18), vec(12)), (23L, text(93), vec(13))).map(row).mkString("\n"))
    drain()
    assert(store.read("sg_corpus").select(col("doc_id"))
      .as[Long].collect().toSet === keptIds)
    assert(AnnIndex.knownIds(store, "sg_ann", "doc_id")
      .as[Long].collect().toSet === keptIds)
    // audit trail: (kept side, condemned side) for the cross-corpus drop,
    // the within-batch drop, and batch 2's dup-of-kept
    val sgPairs = store.read("sg_pairs")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(Set((3L, 17L), (19L, 21L), (19L, 23L)).subsetOf(sgPairs))
    // gate scratch never lands in the store
    assert(storeTables(store) === annTables("sg_ann") ++ bm25Tables("sg_bm") ++
      Set("sg_pairs", "sg_corpus", "sg_ann_ingest_intent"))
  }

  test("retrievalIngestSink semanticGate: replay condemns via corpus rows the crashed ANN leg never indexed (both orientations, exact + LSH paths)") {
    import graft.ext.AnnIndex
    // cap=10000 → exact batch pairing; cap=1 → the sign-LSH path. The
    // repair-replay semantics must be identical on both.
    Seq(("sge", 10000), ("sgl", 1)).foreach { case (tag, cap) =>
      val dir = Files.createTempDirectory(s"graft_${tag}_landing").toString
      val ckpt = Files.createTempDirectory(s"graft_${tag}_ckpt").toString
      val store = new TableStore(spark,
        Files.createTempDirectory(s"graft_${tag}_store").toString)
      def vec(dim: Int): Seq[Float] =
        (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
      val base = (1L to 12L).map(i => (i, vec(i.toInt - 1)))
      val baseDf = base.toDF("doc_id", "embedding")
      AnnIndex.build(store, s"${tag}_ann", baseDf, "doc_id", "embedding",
        dim = 16, nlist = 2, m = 4, k = 4)
      store.overwrite(s"${tag}_corpus", baseDf)
      // CRASH PLANT: a prior attempt of batch 0 admitted 19 and 999 to
      // the corpus, then died before the ANN leg — corpus and ANN index
      // disagree, so candidate proposal alone cannot see either doc
      store.append(s"${tag}_corpus",
        Seq((19L, vec(13)), (999L, vec(14))).toDF("doc_id", "embedding"))
      store.overwrite(s"${tag}_ann_ingest_intent",
        Seq((0L, -1L)).toDF("started_batch", "done_batch"))

      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      def row(d: (Long, Seq[Float])) =
        s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
      // replayed batch 0: the two admitted docs plus one dup of each —
      // 21 dups LOWER-id 19, 22 dups HIGHER-id 999 (the orientation-flip
      // case: the condemner seat must go to the admitted doc even when
      // its id is the larger one)
      val b0 = Seq((19L, vec(13)), (21L, vec(13)), (22L, vec(14)),
        (999L, vec(14)))
      Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
        b0.map(row).mkString("\n"))
      Streams.retrievalIngestSink(
        spark.readStream.format("json").schema(schema).load(dir),
        store, "doc_id", ckpt,
        annIndex = Some(s"${tag}_ann"),
        corpusTable = Some(s"${tag}_corpus"),
        semanticGateThreshold = Some(0.99),
        semanticGatePairsTable = Some(s"${tag}_pairs"),
        semanticGateExactCap = cap)
        .awaitTermination()

      // 21/22 dropped (their only condemners were corpus-not-ANN rows);
      // 19/999 repaired into the ANN index by their leg's guard
      val keptIds = (1L to 12L).toSet + 19L + 999L
      assert(store.read(s"${tag}_corpus").select(col("doc_id"))
        .as[Long].collect().toSet === keptIds, s"corpus ($tag)")
      assert(AnnIndex.knownIds(store, s"${tag}_ann", "doc_id")
        .as[Long].collect().toSet === keptIds, s"ann ($tag)")
      // audit orientation: id_a = the admitted/corpus side, both ways
      val pairs = store.read(s"${tag}_pairs")
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(Set((19L, 21L), (999L, 22L)).subsetOf(pairs), s"pairs ($tag)")
      assert(!pairs.exists(_._2 == 999L), s"999 condemned ($tag)")
      val m = store.read(s"${tag}_ann_ingest_intent").collect()(0)
      assert(m.getLong(0) === m.getLong(1))
      assert(storeTables(store) === annTables(s"${tag}_ann") ++
        Set(s"${tag}_pairs", s"${tag}_corpus", s"${tag}_ann_ingest_intent"), tag)
    }
  }

  test("retrievalIngestSink semanticGate: backfill batch over exactCap routes through sign-LSH with the kept set the exact path computes") {
    import graft.ext.AnnIndex
    def vec(dim: Int): Seq[Float] =
      (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
    val base = (1L to 4L).map(i => (i, vec(i.toInt - 1)))
    // one backfill batch: 12 mutually-orthogonal novel docs, one dup of
    // an indexed doc, two dups of batch doc 101 (one crossing the other)
    val backfill = (101L to 112L).map(i => (i, vec(i.toInt - 97))) ++
      Seq((113L, vec(0)), (114L, vec(4)), (115L, vec(4)))
    def run(tag: String, cap: Int): Set[Long] = {
      val dir = Files.createTempDirectory(s"graft_${tag}_landing").toString
      val ckpt = Files.createTempDirectory(s"graft_${tag}_ckpt").toString
      val store = new TableStore(spark,
        Files.createTempDirectory(s"graft_${tag}_store").toString)
      val baseDf = base.toDF("doc_id", "embedding")
      AnnIndex.build(store, s"${tag}_ann", baseDf, "doc_id", "embedding",
        dim = 16, nlist = 2, m = 4, k = 4)
      store.overwrite(s"${tag}_corpus", baseDf)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      def row(d: (Long, Seq[Float])) =
        s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
      Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
        backfill.map(row).mkString("\n"))
      Streams.retrievalIngestSink(
        spark.readStream.format("json").schema(schema).load(dir),
        store, "doc_id", ckpt,
        annIndex = Some(s"${tag}_ann"),
        corpusTable = Some(s"${tag}_corpus"),
        semanticGateThreshold = Some(0.99),
        semanticGatePairsTable = Some(s"${tag}_pairs"),
        semanticGateExactCap = cap)
        .awaitTermination()
      val pairs = store.read(s"${tag}_pairs")
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      // the cross-corpus dup and the within-batch dup, on either path
      assert(Set((1L, 113L), (101L, 114L)).subsetOf(pairs), s"pairs ($tag)")
      store.read(s"${tag}_corpus").select(col("doc_id"))
        .as[Long].collect().toSet
    }
    val lsh = run("sgb", cap = 5)    // 15 candidates > 5 → LSH path
    val exact = run("sgx", cap = 10000)
    assert(lsh === exact)
    assert(lsh === (1L to 4L).toSet ++ (101L to 112L).toSet)
  }

  test("retrievalIngestSink semanticGate: over-cap backfill at tau=0.7 routes through batch-trained clustered pairing with the exact path's kept set") {
    import graft.ext.AnnIndex
    def vec(dim: Int): Seq[Float] =
      (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
    // cos(e_i, (a·e_i + b·e_j)) = a/√(a²+b²): (4,3) → 0.8 (a τ=0.7 dup),
    // (3,4) → 0.6 (clean) — sign-LSH at this bar floors at r=4 and stops
    // pruning (ADVICE r16); the over-cap low-τ route is batch-trained
    // clustered pairing, and the 0.8-pairs must land in a shared probed
    // cluster for the kept set to match exact semantics
    def mix(i: Int, j: Int, a: Float, b: Float): Seq[Float] =
      (0 until 16).map(d => if (d == i) a else if (d == j) b else 0.0f)
    // an equal three-way mix has cos 1/√3 ≈ 0.577 < 0.7 with EVERY
    // one-hot in the batch — sub-threshold against all of them
    def mix3(i: Int, j: Int, l: Int): Seq[Float] =
      (0 until 16).map(d => if (d == i || d == j || d == l) 1.0f else 0.0f)
    val base = (1L to 4L).map(i => (i, vec(i.toInt - 1)))
    val backfill = (101L to 112L).map(i => (i, vec(i.toInt - 97))) ++ Seq(
      (113L, mix(0, 9, 4f, 3f)),  // 0.8 vs corpus doc 1 → dropped
      (114L, mix(4, 10, 4f, 3f)), // 0.8 vs batch doc 101 → dropped
      (115L, mix3(5, 11, 14)))    // 0.577 vs everything → admitted
    def run(tag: String, cap: Int): Set[Long] = {
      val dir = Files.createTempDirectory(s"graft_${tag}_landing").toString
      val ckpt = Files.createTempDirectory(s"graft_${tag}_ckpt").toString
      val store = new TableStore(spark,
        Files.createTempDirectory(s"graft_${tag}_store").toString)
      val baseDf = base.toDF("doc_id", "embedding")
      AnnIndex.build(store, s"${tag}_ann", baseDf, "doc_id", "embedding",
        dim = 16, nlist = 2, m = 4, k = 4)
      store.overwrite(s"${tag}_corpus", baseDf)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      def row(d: (Long, Seq[Float])) =
        s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
      Files.writeString(java.nio.file.Paths.get(s"$dir/b0.json"),
        backfill.map(row).mkString("\n"))
      Streams.retrievalIngestSink(
        spark.readStream.format("json").schema(schema).load(dir),
        store, "doc_id", ckpt,
        annIndex = Some(s"${tag}_ann"),
        corpusTable = Some(s"${tag}_corpus"),
        semanticGateThreshold = Some(0.7),
        semanticGatePairsTable = Some(s"${tag}_pairs"),
        semanticGateExactCap = cap)
        .awaitTermination()
      val pairs = store.read(s"${tag}_pairs")
        .select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(Set((1L, 113L), (101L, 114L)).subsetOf(pairs), s"pairs ($tag)")
      assert(!pairs.exists(p => p._1 == 115L || p._2 == 115L),
        s"sub-threshold doc condemned ($tag): $pairs")
      store.read(s"${tag}_corpus").select(col("doc_id"))
        .as[Long].collect().toSet
    }
    val adc = run("sg7a", cap = 5)     // 15 candidates > 5, τ<0.9 → clustered pairing
    val exact = run("sg7x", cap = 10000)
    assert(adc === exact)
    assert(adc === (1L to 4L).toSet ++ (101L to 112L).toSet + 115L)
  }

  test("retrievalIngestSink semanticGate: chunked backfill (maxFilesPerTrigger) composes — one representative per dup group, identical to one-batch except the documented arrival-order rep swap") {
    import graft.ext.AnnIndex
    def vec(dim: Int): Seq[Float] =
      (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
    // cos 1/√3 ≈ 0.577 < 0.7 against every one-hot → admitted everywhere
    def mix3(i: Int, j: Int, l: Int): Seq[Float] =
      (0 until 16).map(d => if (d == i || d == j || d == l) 1.0f else 0.0f)
    // the oversized-backfill recipe (Streams scaladoc): bound the batch
    // with maxFilesPerTrigger and let the admitted-corpus memory give
    // cross-chunk dups greedy-REPRESENTATIVE semantics. Dup groups
    // straddle the chunk boundary in BOTH directions:
    //   A: 5 (chunk 1) ≡ 100 (chunk 2) — earlier id arrives first →
    //      both paths keep 5
    //   B: 200 (chunk 1) ≡ 7 (chunk 2) — LATER id arrives first →
    //      one-batch keeps 7 (greedy id order), chunked keeps 200
    //      (greedy ARRIVAL order: 200 was already admitted to the corpus
    //      when 7 arrived) — exactly one rep either way
    //   C: 50 ≡ 51 (both chunk 2) — both paths keep 50
    //   plus a dup of INDEXED corpus doc 1 (300, dropped on both paths)
    //   and a sub-threshold doc (400, admitted on both)
    val chunk1 = Seq(
      (5L, vec(8)), (200L, vec(9)), (300L, vec(0)),
      (20L, vec(4)), (21L, vec(5)), (22L, vec(6)), (23L, vec(7)))
    val chunk2 = Seq(
      (100L, vec(8)), (7L, vec(9)), (50L, vec(10)), (51L, vec(10)),
      (24L, vec(12)), (25L, vec(13)), (26L, vec(14)),
      (400L, mix3(5, 11, 15)))
    val base = (1L to 4L).map(i => (i, vec(i.toInt - 1)))
    def run(tag: String, files: Seq[Seq[(Long, Seq[Float])]]): Set[Long] = {
      val chunked = files.size > 1
      val dir = Files.createTempDirectory(s"graft_${tag}_landing").toString
      val ckpt = Files.createTempDirectory(s"graft_${tag}_ckpt").toString
      val store = new TableStore(spark,
        Files.createTempDirectory(s"graft_${tag}_store").toString)
      val baseDf = base.toDF("doc_id", "embedding")
      AnnIndex.build(store, s"${tag}_ann", baseDf, "doc_id", "embedding",
        dim = 16, nlist = 2, m = 4, k = 4)
      store.overwrite(s"${tag}_corpus", baseDf)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType))))
      def row(d: (Long, Seq[Float])) =
        s"""{"doc_id":${d._1},"embedding":[${d._2.mkString(",")}]}"""
      // one file per trigger; modification times pin chunk order
      files.zipWithIndex.foreach { case (chunk, i) =>
        val p = java.nio.file.Paths.get(s"$dir/b$i.json")
        Files.writeString(p, chunk.map(row).mkString("\n"))
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + 10000L * i))
      }
      val reader = spark.readStream.format("json").schema(schema)
      val src = (if (chunked) reader.option("maxFilesPerTrigger", "1")
                 else reader).load(dir)
      // exactCap 5 < every chunk: both paths run the over-cap low-τ
      // clustered route — the mode a real 100 TB backfill drains in
      Streams.retrievalIngestSink(src, store, "doc_id", ckpt,
        annIndex = Some(s"${tag}_ann"),
        corpusTable = Some(s"${tag}_corpus"),
        semanticGateThreshold = Some(0.7),
        semanticGatePairsTable = Some(s"${tag}_pairs"),
        semanticGateExactCap = 5)
        .awaitTermination()
      if (chunked) { // the drain really was `files.size` batches
        val m = store.read(s"${tag}_ann_ingest_intent").collect()(0)
        assert(m.getLong(1) === files.size - 1L,
          s"expected ${files.size} chunks, done=${m.getLong(1)}")
      }
      store.read(s"${tag}_corpus").select(col("doc_id"))
        .as[Long].collect().toSet
    }
    val one = run("sgc1", Seq(chunk1 ++ chunk2))
    val chk = run("sgc2", Seq(chunk1, chunk2))
    val novel = Set(20L, 21L, 22L, 23L, 24L, 25L, 26L, 400L)
    val corpusIds = (1L to 4L).toSet
    assert(one === corpusIds ++ novel ++ Set(5L, 7L, 50L),
      s"one-batch admitted: $one")
    assert(chk === corpusIds ++ novel ++ Set(5L, 200L, 50L),
      s"chunked admitted: $chk")
    // the composition contract: identical admitted sets up to the
    // arrival-order representative of the boundary-straddling group —
    // exactly one rep per dup group on both paths, everything else equal
    assert((one -- chk) === Set(7L) && (chk -- one) === Set(200L))
    // the "drain in id order when rep identity matters" RECIPE, pinned:
    // the same backfill chunked at an id boundary makes greedy arrival
    // order coincide with greedy id order — every dup group's smallest
    // id arrives no later than its members, so the admitted set equals
    // the one-batch run EXACTLY, rep identity included (no {7}↔{200}
    // swap), while the drain still really runs as two batches
    val byId = (chunk1 ++ chunk2).sortBy(_._1)
    val ord = run("sgc3", Seq(byId.take(7), byId.drop(7)))
    assert(ord === one,
      s"id-ordered drain must reproduce the one-batch rep set: $ord vs $one")
  }

  test("retrievalIngestSink with BOTH gates: lexical drops text dups, semantic drops embedding dups, novel docs land everywhere") {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_bg_landing").toString
    val ckpt = Files.createTempDirectory("graft_bg_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_bg_store").toString)

    def vec(dim: Int): Seq[Float] =
      (0 until 16).map(d => if (d == dim) 1.0f else 0.0f)
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    val base = (1L to 12L).map(i => (i, text(i), vec(i.toInt - 1)))
    val baseDf = base.toDF("doc_id", "text", "embedding")
    AnnIndex.build(store, "bg_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "bg_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "bg_gate", baseDf, "doc_id", "text")
    store.overwrite("bg_corpus", baseDf)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""

    // 31: verbatim TEXT of indexed doc 2, novel embedding → the LEXICAL
    // gate drops it (never reaches the semantic gate or any leg);
    // 32: novel text, EXACT embedding of indexed doc 5 → passes the
    // lexical gate, the SEMANTIC gate drops it; 33: novel both → admitted
    val b1 = Seq((31L, text(2), vec(13)), (32L, text(32), vec(4)),
      (33L, text(33), vec(14)))
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      b1.map(row).mkString("\n"))
    Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("bg_ann"), bm25Index = Some("bg_bm"),
      dedupGate = Some("bg_gate"), gatePairsTable = Some("bg_lex_pairs"),
      corpusTable = Some("bg_corpus"),
      semanticGateThreshold = Some(0.99),
      semanticGatePairsTable = Some("bg_sem_pairs"))
      .awaitTermination()

    val keptIds = (1L to 12L).toSet + 33L
    assert(AnnIndex.knownIds(store, "bg_ann", "doc_id")
      .as[Long].collect().toSet === keptIds)
    assert(Bm25.knownIds(store, "bg_bm", "doc_id")
      .as[Long].collect().toSet === keptIds)
    assert(store.read("bg_corpus").select(col("doc_id"))
      .as[Long].collect().toSet === keptIds)
    // the two memories differ by design: the lexical gate saw everything
    // that survived the batch fold (31 was ITS drop; 32/33 passed it),
    // the corpus holds only the finally-kept
    assert(DedupIndex.knownIds(store, "bg_gate", "doc_id")
      .as[Long].collect().toSet === (1L to 12L).toSet ++ Set(31L, 32L, 33L))
    // each gate's audit carries ITS drop
    val lex = store.read("bg_lex_pairs")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(lex.exists(p => Set(p._1, p._2) === Set(2L, 31L)))
    val sem = store.read("bg_sem_pairs")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(sem === Set((5L, 32L)))
  }

  test("retrievalIngestSink dedupGate: hot-bucket cap star-pairs verbatim floods, drop decisions intact") {
    import graft.ext.{AnnIndex, Bm25, DedupIndex}
    val dir = Files.createTempDirectory("graft_rc_landing").toString
    val ckpt = Files.createTempDirectory("graft_rc_ckpt").toString
    val store = new TableStore(spark, Files.createTempDirectory("graft_rc_store").toString)

    def vec(base: Int, i: Int): Seq[Float] =
      (0 until 16).map { d =>
        val on = d >= base && d < base + 4
        if (on) 1.0f + 0.01f * ((i * 7 + d) % 5) else 0.001f * ((i * 3 + d) % 7)
      }
    def text(i: Long) = s"alpha$i spark beta$i table gamma$i merge delta$i"
    def doc(i: Long, t: String) = (i, t, vec(if (i % 2 == 1) 0 else 8, i.toInt))
    val base = (1L to 8L).map(i => doc(i, text(i)))
    val baseDf = base.toDF("doc_id", "text", "embedding")
    AnnIndex.build(store, "rc_ann", baseDf, "doc_id", "embedding",
      dim = 16, nlist = 2, m = 4, k = 4)
    Bm25.buildIndex(store, "rc_bm", baseDf, "doc_id", "text")
    DedupIndex.build(store, "rc_gate", baseDf, "doc_id", "text")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def row(d: (Long, String, Seq[Float])) =
      s"""{"doc_id":${d._1},"text":"${d._2}","embedding":[${d._3.mkString(",")}]}"""

    // a verbatim flood over INDEXED doc 2's text (ids 21-24) and a NOVEL
    // verbatim flood (ids 31-33) — with bucketCap=1 every bucket they
    // share is over-cap, so all pairing is rep-star
    val b1 = (21L to 24L).map(i => doc(i, text(2))) ++
      (31L to 33L).map(i => doc(i, text(77)))
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.json"),
      b1.map(row).mkString("\n"))
    Streams.retrievalIngestSink(
      spark.readStream.format("json").schema(schema).load(dir),
      store, "doc_id", ckpt,
      annIndex = Some("rc_ann"), bm25Index = Some("rc_bm"),
      dedupGate = Some("rc_gate"), gatePairsTable = Some("rc_pairs"),
      gateBucketCap = 1)
      .awaitTermination()

    // indexed-doc flood drops whole; the novel flood admits its min id
    assert(AnnIndex.knownIds(store, "rc_ann", "doc_id")
      .as[Long].collect().toSet === (1L to 8L).toSet + 31L)
    // audit coarsened to rep-mediated pairs but nonempty for both floods
    val pairs = store.read("rc_pairs")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(pairs.exists(p => Set(p._1, p._2).contains(2L)))
    assert(pairs.exists(p => Set(p._1, p._2).subsetOf(Set(31L, 32L, 33L))))
  }
}
