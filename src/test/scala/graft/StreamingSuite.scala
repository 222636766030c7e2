package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.Streams

/** True Structured-Streaming semantics over MemoryStream — watermark
  * drops, exactly-once dedup, custom keyed-state sessions (SURVEY §5.3).
  * These are the behaviors the batch surrogates cannot express.
  */
class StreamingSuite extends SparkSuiteBase {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def withQuery[A](q: StreamingQuery)(body: => A): A =
    try body finally q.stop()

  test("tumbling window append mode: watermark closes windows, drops late rows") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val out = Streams.tumblingCounts(in.toDF(), "ts", "10 minutes", "1 hour")
    val q = out.writeStream.format("memory").queryName("tumb").outputMode("append").start()
    withQuery(q) {
      in.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0))
      q.processAllAvailable()
      // watermark still inside hour 0 → nothing emitted yet
      assert(spark.table("tumb").count() == 0)
      // event at 02:00 pushes watermark past hour-0 end
      in.addData(Ev(3, ts(120), 1, "click", 3.0))
      q.processAllAvailable()
      val closed = spark.table("tumb").collect()
      assert(closed.length == 1 && closed.head.getAs[Long]("n") == 2)
      // a late hour-0 event (behind the watermark) must be dropped
      in.addData(Ev(4, ts(30), 1, "click", 9.0))
      in.addData(Ev(5, ts(121), 1, "click", 0.5))
      q.processAllAvailable()
      assert(spark.table("tumb").collect().length == 1, "late row re-opened a closed window")
    }
  }

  test("dropDuplicatesWithinWatermark suppresses re-delivered events") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val out = Streams.dedupWithinWatermark(in.toDF(), "ts", "1 hour", Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup").outputMode("append").start()
    withQuery(q) {
      in.addData(Ev(10, ts(1), 1, "click", 1.0), Ev(10, ts(1), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(10, ts(2), 1, "click", 1.0), Ev(11, ts(3), 2, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(10L, 11L), s"got $ids")
    }
  }

  test("session_window streaming merges events within gap across batches") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val out = Streams.sessionCounts(in.toDF(), "ts", "10 minutes", "30 minutes")
    val q = out.writeStream.format("memory").queryName("sess").outputMode("append").start()
    withQuery(q) {
      in.addData(Ev(1, ts(0), 7, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(2, ts(20), 7, "click", 1.0)) // within 30-min gap → same session
      q.processAllAvailable()
      in.addData(Ev(3, ts(600), 7, "click", 1.0)) // push watermark far ahead
      q.processAllAvailable()
      val sessions = spark.table("sess").collect()
      assert(sessions.length == 1)
      assert(sessions.head.getAs[Long]("n_events") == 2,
        "cross-batch events within gap were not merged into one session")
    }
  }

  test("file streaming source: readStream over parquet matches the batch result") {
    import org.apache.spark.sql.functions._
    val src = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    graft.ops.T(spark, SF, "events").select("event_id", "user_id", "event_type")
      .write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .parquet(src)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("filesrc")
      .outputMode("complete").start()
    withQuery(q) {
      q.processAllAvailable()
      val got = spark.table("filesrc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.ops.T(spark, SF, "events").groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    }
  }

  test("foreachBatch sink receives every micro-batch exactly once") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = in.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add((id, batch.count())); ()
      }
      .start()
    withQuery(q) {
      in.addData(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "click", 1.0))
      q.processAllAvailable()
      in.addData(Ev(3, ts(3), 1, "click", 1.0))
      q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
      assert(batches.map(_._2).sum == 3, s"got $batches")
      assert(batches.map(_._1) == batches.map(_._1).distinct, "batch re-delivered")
    }
  }

  test("stream-stream interval join matches within the window and bounds state") {
    import spark.implicits._
    val purchases = MemoryStream[Ev](spark)
    val views = MemoryStream[Ev](spark)
    val joined = Streams.intervalJoin(
      purchases.toDF().selectExpr("event_id AS purchase_id", "ts AS p_ts", "user_id"),
      views.toDF().selectExpr("event_id AS view_id", "ts AS v_ts", "user_id"),
      key = "user_id", leftTs = "p_ts", rightTs = "v_ts",
      watermark = "10 minutes", interval = "1 hour")
      .selectExpr("purchase_id", "view_id")
    val q = joined.writeStream.format("memory").queryName("sj").outputMode("append").start()
    withQuery(q) {
      views.addData(Ev(100, ts(10), 7, "view", 0.0),
        Ev(101, ts(200), 7, "view", 0.0), // after the purchase → no match
        Ev(102, ts(25), 8, "view", 0.0))  // other user → no match for user 7
      purchases.addData(Ev(200, ts(30), 7, "purchase", 1.0))
      q.processAllAvailable()
      val got = spark.table("sj").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))).toSet
      assert(got == Set((200L, 100L)), s"got $got")
    }
  }

  test("purchaseSessions: purchase closes immediately, gap closes in-batch, timeout closes via watermark") {
    import spark.implicits._
    def ev(id: Long, minute: Int, user: Long, typ: String, cents: Long) =
      Streams.PEvent(user, id, typ, cents, ts(minute),
        ts(minute).getTime * 1000L)
    val in = MemoryStream[Streams.PEvent](spark)
    val gapUs = 30L * 60 * 1000000 // 30 min
    val out = Streams.purchaseSessions(in.toDS().withWatermark("ts_us", "10 minutes"), gapUs)
    val q = out.writeStream.format("memory").queryName("psess").outputMode("append").start()
    withQuery(q) {
      // user 7: click then purchase 10 min later → closes IMMEDIATELY
      // (no watermark advance needed), end = the purchase's own ts
      in.addData(ev(1, 0, 7, "click", 100), ev(2, 10, 7, "purchase", 250))
      q.processAllAvailable()
      val afterPurchase = spark.table("psess").collect()
      assert(afterPurchase.length == 1)
      val p = afterPurchase.head
      assert(p.getAs[String]("reason") == "purchase")
      assert(p.getAs[Long]("n_events") == 2 && p.getAs[Long]("sum_cents") == 350)
      assert(p.getAs[Long]("end_us") == ts(10).getTime * 1000L,
        "purchase close must end at the purchase ts, not ts + gap")
      // user 9: two clicks 40 min apart IN ONE BATCH → first session
      // gap-closes in-batch (emitted without any watermark movement)
      in.addData(ev(3, 100, 9, "click", 10), ev(4, 140, 9, "click", 20))
      q.processAllAvailable()
      val gapRows = spark.table("psess").collect()
        .filter(_.getAs[Long]("user_id") == 9L)
      assert(gapRows.length == 1 && gapRows.head.getAs[String]("reason") == "gap")
      assert(gapRows.head.getAs[Long]("end_us") == ts(100).getTime * 1000L + gapUs)
      // advance watermark far past user 9's open session → timeout fires
      in.addData(ev(5, 600, 8, "click", 1))
      q.processAllAvailable()
      val t = spark.table("psess").collect()
        .filter(r => r.getAs[Long]("user_id") == 9L &&
          r.getAs[String]("reason") == "timeout")
      assert(t.length == 1 && t.head.getAs[Long]("n_events") == 1)
      assert(t.head.getAs[Long]("start_us") == ts(140).getTime * 1000L)
    }
  }

  test("transformWithState twin emits the same rows as flatMapGroupsWithState purchaseSessions") {
    import org.apache.spark.sql.Dataset
    import spark.implicits._
    def ev(id: Long, minute: Int, user: Long, typ: String, cents: Long) =
      Streams.PEvent(user, id, typ, cents, ts(minute), ts(minute).getTime * 1000L)
    // purchase-close, in-batch gap close, and watermark-timeout close —
    // all three session-end reasons, replayed identically to both APIs
    val batches: Seq[Seq[Streams.PEvent]] = Seq(
      Seq(ev(1, 0, 7, "click", 100), ev(2, 10, 7, "purchase", 250)),
      Seq(ev(3, 100, 9, "click", 10), ev(4, 140, 9, "click", 20)),
      Seq(ev(5, 600, 8, "click", 1)))
    val gapUs = 30L * 60 * 1000000
    def drive(name: String,
        f: Dataset[Streams.PEvent] => Dataset[Streams.PSession]): Set[Seq[Any]] = {
      val in = MemoryStream[Streams.PEvent](spark)
      val out = f(in.toDS().withWatermark("ts_us", "10 minutes"))
      val q = out.writeStream.format("memory").queryName(name).outputMode("append").start()
      withQuery(q) {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table(name).collect().map(_.toSeq: Seq[Any]).toSet
      }
    }
    // transformWithState mandates the RocksDB state store; run BOTH
    // implementations under it so only the API differs
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val viaFmgws = drive("tws_base", ds => Streams.purchaseSessions(ds, gapUs))
      val viaTws = drive("tws_twin", ds => Streams.purchaseSessionsTws(ds, gapUs))
      assert(viaFmgws.nonEmpty, "no sessions emitted — degenerate scenario")
      assert(viaFmgws.exists(_.contains("timeout")), "timeout path not exercised")
      assert(viaTws === viaFmgws)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("streaming z-score equals the batch integer-moment fold across batch boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // two event-time-ordered batches per user; rows early in batch 2 have
    // trailing windows reaching back into batch-1 state
    val all = (1 to 60).map { i =>
      val u = 1L + (i % 3)
      Streams.ZEvent(u, i.toLong, i.toLong * 1000000L,
        100L + rnd.nextInt(10000), ts(i))
    }
    val batches = Seq(all.take(30), all.drop(30))
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Streams.ZEvent](spark)
      val q = Streams.zscoreStream(in.toDS()).writeStream
        .format("memory").queryName("zstream").outputMode("append").start()
      val got = withQuery(q) {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        spark.table("zstream").collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      }
      // brute-force batch recomputation (the scored operator's math)
      val want = all.groupBy(_.user_id).flatMap { case (_, evs) =>
        val s = evs.sortBy(e => (e.us, e.event_id))
        s.indices.flatMap { i =>
          val w = s.slice(math.max(0, i - 23), i + 1)
          val (n, sx, sx2) = (w.length.toLong, w.map(_.cents).sum,
            w.map(o => o.cents * o.cents).sum)
          if (n >= 8 && n * sx2 > sx * sx) {
            val z = (n * s(i).cents - sx).toDouble / math.sqrt((n * sx2 - sx * sx).toDouble)
            Some((s(i).user_id, s(i).event_id) -> math.floor(z * 1e6 + 0.5) / 1e6)
          } else None
        }
      }
      assert(got.nonEmpty && got == want)
      // windows genuinely crossed the batch boundary (first batch-2 rows scored)
      assert(got.keys.exists(_._2 > 30) && got.keys.exists(_._2 <= 30))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  /** Day-boundary slices of the events fixture written as separate
    * parquet files (f0 earliest days … f2 latest). Because tumbling
    * 1-day windows never span slice boundaries, an interrupted run over
    * the slices must equal the uninterrupted run window-for-window.
    * Returns (root, per-slice row counts). */
  private def sliceEventsByDay(root: String): (String, Seq[Long]) = {
    import org.apache.spark.sql.functions._
    val sch = graft.ops.T(spark, SF, "events").schema
    val cols = sch.fieldNames.map(col).toIndexedSeq
    val dayUs = 86400000000L
    val ev = graft.ops.T.eventsUs(spark, SF)
      .withColumn("day", expr(s"us div $dayUs"))
    val (lo, hi) = {
      val r = ev.agg(min("day"), max("day")).head(); (r.getLong(0), r.getLong(1))
    }
    val span = hi - lo + 1
    val bounds = Seq(lo, lo + span / 3, lo + 2 * span / 3, hi + 1)
    val counts = (0 until 3).map { i =>
      val slice = ev.where(col("day") >= bounds(i) && col("day") < bounds(i + 1))
        .select(cols: _*)
      val n = slice.count()
      slice.coalesce(1).write.mode("overwrite").parquet(s"$root/stage_f$i")
      // file streaming sources list FILES; flatten each slice to one
      val part = new java.io.File(s"$root/stage_f$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$root/in/f$i.parquet"))
      n
    }
    (root, counts)
  }

  private def dailyTypeCounts(srcDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val sch = graft.ops.T(spark, SF, "events").schema
    spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withColumn("ts_us", timestamp_micros(graft.ops.T.usCol(sch("ts").dataType)))
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("window.start")).as("win_start"), col("event_type"), col("n"))
  }

  checkpointFsTest("checkpoint recovery: restart mid-stream equals the uninterrupted run, no double-commits") { mkRoot =>
    // Round-9 verdict ask #2 — the production streaming failure mode
    // users hit first. The restart-from-checkpoint path is identical
    // whether the stop was graceful or a crash: offsets/commits are
    // per-batch WAL entries, so "ran out of input and terminated, then
    // more files arrived and the query restarted on the same checkpoint"
    // exercises exactly the recovery code path.
    import org.apache.spark.sql.streaming.Trigger
    def runAvailable(src: String, out: String, cp: String): Unit = {
      val q = dailyTypeCounts(src).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val (rootI, _) = sliceEventsByDay(mkRoot("cprec_interrupted"))
    val (rootU, _) = sliceEventsByDay(mkRoot("cprec_uninterrupted"))
    // interrupted: phase 1 sees ONLY the earliest slice, then "crashes"
    val phasedIn = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$rootI/phased")).toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$rootI/in/f0.parquet"),
      java.nio.file.Paths.get(s"$phasedIn/f0.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    runAvailable(phasedIn, s"$rootI/out", s"$rootI/cp")
    val phase1 = spark.read.parquet(s"$rootI/out").collect()
      .map(_.toString).sorted.toSeq
    assert(phase1.nonEmpty, "phase 1 committed nothing — test is vacuous")
    // the remaining slices "arrive"; restart on the SAME checkpoint
    for (i <- 1 to 2) java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$rootI/in/f$i.parquet"),
      java.nio.file.Paths.get(s"$phasedIn/f$i.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    runAvailable(phasedIn, s"$rootI/out", s"$rootI/cp")
    val recovered = spark.read.parquet(s"$rootI/out").collect()
      .map(_.toString).sorted.toSeq
    // uninterrupted reference: all three slices in one run, fresh state
    runAvailable(s"$rootU/in", s"$rootU/out", s"$rootU/cp")
    val reference = spark.read.parquet(s"$rootU/out").collect()
      .map(_.toString).sorted.toSeq
    assert(recovered == reference,
      s"recovered run diverged: ${recovered.size} vs ${reference.size} rows")
    // phase-1 output must survive the restart verbatim (no retraction,
    // no reprocessing of the already-committed file)
    assert(phase1.forall(recovered.contains), "restart retracted committed rows")
    // and the sink's commit log must hold each batch id exactly once
    val batchFiles = new java.io.File(s"$rootI/out/_spark_metadata").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(batchFiles.distinct.size == batchFiles.size,
      s"duplicate sink commits: $batchFiles")
    assert(batchFiles.size >= 2, s"expected multiple committed batches, got $batchFiles")
  }

  test("Trigger.ProcessingTime + maxFilesPerTrigger paces micro-batches (backpressure)") {
    // Round-9 verdict ask #7: the rate-limiting surface users hit
    // immediately in production — a processing-time trigger with a
    // files-per-trigger cap must spread a backlog over ≥3 micro-batches,
    // each ingesting exactly one backlog file, losing nothing.
    import org.apache.spark.sql.streaming.Trigger
    val (root, counts) = sliceEventsByDay(graft.ops.GraftTmp.dir("paced"))
    val sch = graft.ops.T(spark, SF, "events").schema
    val q = spark.readStream.schema(sch).option("maxFilesPerTrigger", "1")
      .parquet(s"$root/in")
      .select(org.apache.spark.sql.functions.col("event_id"))
      .writeStream.format("memory").queryName("paced_q").outputMode("append")
      .trigger(Trigger.ProcessingTime("300 milliseconds"))
      .start()
    withQuery(q) {
      q.processAllAvailable()
      val data = q.recentProgress.filter(_.numInputRows > 0)
      assert(data.length == 3,
        s"cap=1 file over 3 backlog files must give 3 data batches, got ${data.length}")
      // per-batch ingest equals per-file row counts, in arrival order —
      // the cap really bounded each batch at one file
      assert(data.map(_.numInputRows).toSeq == counts.map(_.toLong),
        s"per-batch rows ${data.map(_.numInputRows).toSeq} != slices $counts")
      assert(spark.table("paced_q").count() == counts.sum, "pacing lost rows")
    }
  }

  test("customSessions (flatMapGroupsWithState) emits on timeout with merged counts") {
    import spark.implicits._
    val in = MemoryStream[Streams.SessionEvent](spark)
    val out = Streams.customSessions(in.toDS(), 30 * 60 * 1000L, "10 minutes")
    val q = out.writeStream.format("memory").queryName("csess").outputMode("append").start()
    withQuery(q) {
      in.addData(Streams.SessionEvent(7, ts(0), 1.0), Streams.SessionEvent(7, ts(10), 2.0))
      q.processAllAvailable()
      assert(spark.table("csess").count() == 0, "session closed before timeout")
      in.addData(Streams.SessionEvent(8, ts(600), 5.0)) // advances watermark → timeout fires
      q.processAllAvailable()
      val rows = spark.table("csess").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n") == 2)
      assert(rows.head.getAs[Double]("sum_value") == 3.0)
    }
  }

  test("custom MicroBatchStream: admission control bounds batches; restart replays nothing") {
    // graft.sources.LedgerStreamSource — offset-tracked micro-batches
    // with a maxOffsetsPerTrigger-style row cap. 1000 ticks at 300/batch
    // must drain under AvailableNow in exactly ceil(1000/300) = 4
    // batches, visible in the checkpoint's offset log. A SECOND
    // AvailableNow run over the SAME checkpoint starts from the
    // committed offset and admits nothing — the exactly-once restart
    // contract a Kafka deployment relies on.
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_lstream").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.LedgerStreamSource")
        .option("rows", "1000").option("batchSize", "300").option("partitions", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val offsets = new java.io.File(s"$root/cp/offsets").listFiles()
      .map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).sorted
    assert(offsets.length == 4, s"expected 4 offset-log entries, got ${offsets.toSeq}")
    val out1 = spark.read.parquet(s"$root/out")
    assert(out1.count() == 1000)
    assert(out1.select("tick_id").distinct().count() == 1000, "a batch was replayed or lost")
    drain() // restart over the same checkpoint: backlog already committed
    assert(spark.read.parquet(s"$root/out").count() == 1000,
      "restart re-emitted rows past the committed offset")
  }

  test("custom MicroBatchStream: resume after backlog growth processes only the delta") {
    // Kafka-shaped catch-up: drain a 400-tick backlog, then the topic
    // "grows" to 1000 (rows option raised, same checkpoint) — the
    // second run must resume from the committed offset 400 and emit
    // exactly ticks 400..999, never re-reading the first segment.
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_lgrow").toString
    def drain(rows: Int): Unit = {
      val q = spark.readStream.format("graft.sources.LedgerStreamSource")
        .option("rows", rows.toString).option("batchSize", "300")
        .option("partitions", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(400)
    assert(spark.read.parquet(s"$root/out").count() == 400)
    drain(1000)
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 1000, "resume re-read or skipped part of the backlog")
    assert(out.select("tick_id").distinct().count() == 1000)
  }
}
