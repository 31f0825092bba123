package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("windowed agg over a real stream matches the batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batchEvents = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val rows = batchEvents.collect()

    case class E(event_id: Long, ts: java.sql.Timestamp, event_type: String, value: Double)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    stream.addData(rows.map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))))

    val streamingDf = stream.toDF()
      .toDF("event_id", "ts", "event_type", "value")
    // Complete mode: every window is emitted, directly comparable with
    // the batch result. (MemoryStream truncates committed batches, so
    // one stream feeds exactly one query.)
    val q2 = Streams.windowedAgg(streamingDf)
      .writeStream.outputMode("complete").format("memory").queryName("agg_all").start()
    try q2.processAllAvailable() finally q2.stop()

    val fromStream = spark.table("agg_all")
      .orderBy("window_start", "event_type").collect().map(_.toSeq)
    val fromBatch = Streams.streamWindowedAgg(spark, sf).collect().map(_.toSeq)
    assert(fromStream.toSeq == fromBatch.toSeq)
  }

  test("sliding windows over a real stream match batch, two windows per event") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("value")).collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    stream.addData(rows.map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))))
    val q = Streams.slidingAgg(
        stream.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName("slide_all").start()
    try q.processAllAvailable() finally q.stop()
    val fromStream = spark.table("slide_all")
      .orderBy("window_start", "event_type").collect().map(_.toSeq)
    val fromBatch = Streams.streamSlidingAgg(spark, sf).collect().map(_.toSeq)
    assert(fromStream.toSeq == fromBatch.toSeq)
    // overlap invariant: every event is counted in exactly two windows
    val nFromSliding = fromBatch.map(_(2).asInstanceOf[Long]).sum
    assert(nFromSliding == 2L * rows.length)
  }

  test("windowed top-k (custom bounded-heap agg) over a real stream matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("value")).collect()
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    // feed in two batches so partial TopKIds buffers must merge across
    // triggers, not just within one
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val toT = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3))
    val q = Streams.windowedTopK(
        stream.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName("topk_all").start()
    try {
      stream.addData(half1.map(toT))
      q.processAllAvailable()
      stream.addData(half2.map(toT))
      q.processAllAvailable()
    } finally q.stop()
    val fromStream = spark.table("topk_all")
      .orderBy("window_start", "event_type", "rank").collect().map(_.toSeq)
    val fromBatch = Streams.streamTopK(spark, sf).collect().map(_.toSeq)
    assert(fromStream.toSeq == fromBatch.toSeq)
  }

  test("stateful sessionizer agrees with batch window-function sessionize") {
    val stateful = Streams.sessionizeBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val declarative = SparkEntry.queries("q13_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stateful.toSeq == declarative.toSeq)
  }

  test("streaming dedup keeps one row per fingerprint across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.dedupStreaming(
      stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      stream.addData((1L, "a b c"), (2L, "c b a"), (3L, "x y z"))
      q.processAllAvailable()
      // second batch: duplicate of an already-seen fingerprint + one new
      stream.addData((4L, "b a c"), (5L, "fresh doc here"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_out").collect()
    // "a b c", "c b a", "b a c" share a bag fingerprint -> exactly one kept
    assert(out.length == 3)
    assert(out.map(_.getAs[String]("fingerprint")).distinct.length == 3)
    val keptIds = out.map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.contains(3L) && keptIds.contains(5L))
    assert((keptIds & Set(1L, 2L, 4L)).size == 1)
  }

  test("incremental near-dup probe streams against the static corpus index, matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: two known docs; shard: one near-dup of corpus doc 1
    // (only the final token differs -> 7 of 8 shared shingles,
    // jaccard 7/9 = 0.7778 >= 0.5) and one novel doc
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different text about spark engines and scale")).toDF("doc_id", "text")
    val shard = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "nothing in common with anything at all here truly"))
    val stream = MemoryStream[(Long, String)]
    val out = Streams.neardupProbeStream(spark,
      stream.toDF().toDF("doc_id", "text"), corpus)
    assert(out.isStreaming)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      stream.addData(shard(0))
      q.processAllAvailable()
      stream.addData(shard(1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("neardup_out").orderBy("doc_a", "doc_b")
      .collect().map(_.toString).toSeq
    // identical rows from the same function run in batch mode
    val batch = Streams.neardupProbeStream(spark, shard.toDF("doc_id", "text"), corpus)
      .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
    assert(got == batch)
    // the engineered near-dup pair surfaces; the novel doc does not
    assert(got.size == 1 && got.head.startsWith("[10,1,0.7778"))
  }

  test("model stage composes with Structured Streaming (stateless kernel per micro-batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.ModelHook
    val stream = MemoryStream[(Long, String)]
    // completions is a stateless typed mapPartitions kernel, so the
    // same call that runs the batch model stage runs unchanged on a
    // streaming DataFrame — the shape a near-real-time curation
    // pipeline needs (judge/summarize incoming crawl shards as they
    // land, error rows and all).
    val out = ModelHook.completions(spark, stream.toDF().toDF("doc_id", "prompt"),
      "doc_id", "prompt", new ModelHook.StubClient("s"), batchSize = 2)
    assert(out.isStreaming, "model stage must stay a streaming plan")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("model_out").start()
    try {
      stream.addData((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      q.processAllAvailable()
      stream.addData((4L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("model_out").orderBy("doc_id").collect()
    assert(rows.length == 4)
    // identical per-row results to the batch stage over the same input
    val batch = ModelHook.completions(spark,
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")).toDF("doc_id", "prompt"),
      "doc_id", "prompt", new ModelHook.StubClient("s"), batchSize = 2)
      .orderBy("doc_id").collect()
    assert(rows.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("stream-static decontamination matches the batch analog across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the STATIC side: eval split's distinct 5-grams from the batch table
    val evalGrams = sources.Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(20)) === 0)
      .withColumn("toks", graft.operators.TextAnalysis.tokens(col("text")))
      .withColumn("g5", expr(graft.operators.Curation.FiveGramExpr))
      .select(explode(col("g5")).as("g")).distinct()
    val stream = MemoryStream[(Long, String)]
    val training = docs.filter(_._1 % 20 != 0)
    val (half1, half2) = training.splitAt(training.length / 2)
    val q = Streams.decontaminateStream(
        stream.toDF().toDF("doc_id", "text"), evalGrams)
      .writeStream.outputMode("append").format("memory").queryName("decon_out").start()
    try {
      stream.addData(half1)
      q.processAllAvailable()
      stream.addData(half2)
      q.processAllAvailable()
    } finally q.stop()
    val fromStream = spark.table("decon_out").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    val fromBatch = Streams.streamDecontaminate(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(fromStream == fromBatch)
    assert(fromBatch.nonEmpty, "corpus should contain contaminated docs")
  }

  test("watermark drops data later than the 2-hour bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    val q = graft.streaming.Streams.windowedAggStream(
      stream.toDF().toDF("event_id", "ts", "event_type", "value"))
      .writeStream.outputMode("append").format("memory").queryName("wm_out").start()
    try {
      stream.addData((1L, ts(1), "click", 1.0), (2L, ts(2), "click", 1.0))
      q.processAllAvailable()
      // advance event time far ahead: watermark moves to ~10:30-2h
      stream.addData((3L, ts(10), "click", 1.0))
      q.processAllAvailable()
      // this event is hours behind the watermark -> must be dropped
      stream.addData((4L, ts(1), "click", 99.0))
      q.processAllAvailable()
      // push watermark further so earlier windows close and emit
      stream.addData((5L, ts(23), "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wm_out").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
    val h1 = rows.filter(_._1 == "2024-01-01 01:00:00")
    // the late event (value 99.0) must not have been merged into hour 1
    assert(h1.nonEmpty && h1.head._2 == 1L && h1.head._3 == 1.0, rows.mkString(", "))
  }

  test("stream-stream interval join matches the batch analog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val clickStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val purchaseStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    clickStream.addData(ev.filter(_._4 == "click"))
    purchaseStream.addData(ev.filter(_._4 == "purchase"))
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type")
    val q = graft.streaming.Streams.clickToPurchaseJoin(
      named(clickStream.toDF()), named(purchaseStream.toDF()))
      .select(col("purchase_id"), col("click_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.streaming.Streams.streamIntervalJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("native session_window stream matches the batch analog (watermark-driven emission)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    val stream = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    stream.addData(ev)
    val q = Streams.sessionWindowStream(
        stream.toDF().toDF("event_id", "ts", "user_id", "value"))
      .writeStream.outputMode("append").format("memory").queryName("sess_win").start()
    try {
      q.processAllAvailable()
      // append mode emits a session only once the watermark proves it
      // can no longer grow — push event time past every session + gap
      val far = ev.map(_._2.getTime).max + 24L * 3600 * 1000
      stream.addData((999999L, new java.sql.Timestamp(far), 999999L, 0.0))
      q.processAllAvailable()
      stream.addData((999998L, new java.sql.Timestamp(far + 3600 * 1000L), 999999L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4))
    val streamed = spark.table("sess_win").collect().map(key)
      .filter(_._1 < 999000L).toSet
    val batch = Streams.streamSessionWindow(spark, sf).collect().map(key).toSet
    assert(streamed == batch)
    assert(batch.exists(_._4 > 1L), "expected at least one multi-event session")
  }

  test("session_window exact-gap boundary: an event exactly gap after the previous MERGES") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // user 1: two events exactly 30 min apart — Spark's
    // UpdatingSessionsIterator merges windows that TOUCH (start ==
    // currentEnd), so this must be ONE session of 2 events; user 2:
    // 31 min apart — two sessions. Pins the strictly-greater gap rule
    // the DuckDB oracle uses.
    val ev = Seq(
      (1L, ts(0), 10.0), (1L, ts(30), 5.0),
      (2L, ts(0), 1.0), (2L, ts(31), 2.0))
      .toDF("user_id", "ts", "value")
    val out = Streams.sessionWindowAgg(ev)
      .orderBy(col("user_id"), col("session_start"))
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)), out.toSeq.toString)
  }

  test("left-outer interval join holds unmatched purchases until the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clickStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val purchaseStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type")
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val base = 1700000000000L
    // user 1: purchase with a click 1 min before; user 2: purchase with none
    clickStream.addData((10L, ts(base - 60000L), 1L, "click"))
    purchaseStream.addData((100L, ts(base), 1L, "purchase"), (200L, ts(base), 2L, "purchase"))
    val q = Streams.clickToPurchaseLeftJoin(
      named(clickStream.toDF()), named(purchaseStream.toDF()))
      .select(col("purchase_id"), col("click_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_outer").start()
    try {
      q.processAllAvailable()
      def emitted() = spark.table("ssj_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      val first = emitted()
      // the match emits promptly; the unmatched purchase is HELD — it
      // cannot be declared click-less while a late click could still
      // arrive inside the watermark
      assert(first.contains((100L, 10L)), first.toString)
      assert(!first.exists(_._1 == 200L), first.toString)
      // advance event time far past the join window + watermark on
      // both sides → the held purchase must now emit null-padded
      clickStream.addData((11L, ts(base + 10L * 3600 * 1000), 9L, "click"))
      purchaseStream.addData((900L, ts(base + 10L * 3600 * 1000), 9L, "purchase"))
      q.processAllAvailable()
      // state eviction can land in the follow-up (empty) microbatch
      clickStream.addData((12L, ts(base + 11L * 3600 * 1000), 9L, "click"))
      q.processAllAvailable()
      val second = emitted()
      assert(second.contains((200L, -1L)), second.toString)
    } finally q.stop()
  }

  test("left-outer interval join over a real stream matches the batch analog") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val clickStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val purchaseStream = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    clickStream.addData(ev.filter(_._4 == "click"))
    purchaseStream.addData(ev.filter(_._4 == "purchase"))
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type")
    val q = Streams.clickToPurchaseLeftJoin(
      named(clickStream.toDF()), named(purchaseStream.toDF()))
      .select(col("purchase_id"), col("click_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj_outer_all").start()
    try {
      q.processAllAvailable()
      // advance BOTH sides' event time far past every original join
      // window (the global watermark is the min over all inputs), so
      // every held unmatched purchase flushes null-padded; then one
      // more batch for the eviction pass
      val far = ev.map(_._2.getTime).max + 24L * 3600 * 1000
      clickStream.addData((999998L, new java.sql.Timestamp(far), 999999L, "click"))
      purchaseStream.addData((999999L, new java.sql.Timestamp(far), 999999L, "purchase"))
      q.processAllAvailable()
      clickStream.addData((999997L, new java.sql.Timestamp(far + 3600 * 1000L), 999999L, "click"))
      q.processAllAvailable()
    } finally q.stop()
    def key(pid: Long, cid: Option[Long]) = (pid, cid.getOrElse(-1L))
    val streamed = spark.table("ssj_outer_all").collect()
      .map(r => key(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .filter(_._1 < 999000L).toSet
    val batch = Streams.streamIntervalJoinOuter(spark, sf).collect()
      .map(r => key(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(streamed == batch)
    assert(batch.exists(_._2 == -1L), "expected at least one unmatched purchase")
    assert(batch.exists(_._2 != -1L), "expected at least one matched purchase")
  }

  test("stateful sessionizer runs incrementally on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Streams.Ev]
    val base = 1700000000000000L // micros
    stream.addData(Streams.Ev(1L, 1L, base), Streams.Ev(1L, 2L, base + 60L * 1000000))
    val q = Streams.sessionizeStateful(stream.toDS())
      .writeStream.outputMode("append").format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // second batch: beyond the gap → new session
      stream.addData(Streams.Ev(1L, 3L, base + 4000L * 1000000))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Trigger 1: 1 session / 2 events. Trigger 2: 2 sessions / 3 events.
    assert(out.contains((1L, 1L, 2L)))
    assert(out.contains((1L, 2L, 3L)))
  }

  test("file-source-driven stateful sessionizer equals the batch sessionizer on its user slice") {
    import org.apache.spark.sql.functions._
    // the gate row's two-epoch file-source drive (collect-free since
    // round 15) must reproduce the batch kernel's per-user
    // (n_sessions, n_events) on the same user_id % 7 slice — the
    // cross-trigger state carry is inside
    val streamed = Streams.streamSessionStateful(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Streams.sessionizeBatch(spark, sf)
      .filter(pmod(col("user_id"), lit(7)) === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // at least one sliced user must actually have >1 session, or the
    // equality above would not exercise the gap rule
    assert(streamed.exists(_._2 > 1L))
  }

  test("stateful drives run beside another streaming query without touching the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.ListenerBusAccess
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // an unrelated query stays active on the shared session throughout
    val other = MemoryStream[Long]
    other.addData(1L, 2L)
    val bystander = other.toDF().writeStream.format("memory").queryName("bystander").start()
    bystander.processAllAvailable()
    val dataTriggers = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name != "bystander" && e.progress.numInputRows > 0)
          dataTriggers.incrementAndGet()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val sc = spark.sparkContext
    // Tables.load's set-once reader confs land on first load
    sources.Tables.events(spark, sf)
    sources.Tables.documents(spark, sf)
    val confBefore = spark.conf.getAll
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    // one drive call: its rows, after checking the listener saw both epochs
    def drive(f: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame) = {
      dataTriggers.set(0)
      val out = rows(f(spark, sf))
      ListenerBusAccess.drain(sc)
      assert(dataTriggers.get == 2, "the caller's listener must see both data triggers")
      out
    }
    try {
      val sess = drive(Streams.streamSessionStateful)
      val probe = drive(Streams.streamNeardupProbe)
      assert(sess == rows(Streams.sessionizeBatch(spark, sf)
        .filter(pmod(col("user_id"), lit(7)) === 0)))
      assert(probe == rows(Streams.streamNeardup(spark, sf)))
      assert(sess.nonEmpty && probe.nonEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == confBefore("spark.sql.shuffle.partitions"))
      assert(spark.conf.getAll == confBefore)
      // the isolated session is reused, so repeat drives register no
      // listener of their own on the shared bus. (Spark's stateful
      // operators register one StreamingQueryListenerBus per query run,
      // on the run's internal session; that one per run is the bound —
      // a fresh isolated session per call would add a second.)
      val iso = org.apache.spark.sql.GraftColumnBridge.isolated(spark,
        "spark.sql.shuffle.partitions" -> "1")
      assert(iso ne spark)
      ListenerBusAccess.drain(sc)
      val listeners = ListenerBusAccess.listenerCount(sc)
      (1 to 2).foreach { _ =>
        assert(drive(Streams.streamSessionStateful) == sess)
        assert(drive(Streams.streamNeardupProbe) == probe)
      }
      assert(ListenerBusAccess.listenerCount(sc) <= listeners + 4)
      assert(org.apache.spark.sql.GraftColumnBridge.isolated(spark,
        "spark.sql.shuffle.partitions" -> "1") eq iso)
      assert(bystander.isActive)
    } finally {
      spark.streams.removeListener(listener)
      bystander.stop()
      spark.catalog.dropTempView("bystander")
    }
  }

  test("crash-restart upsert sink converges to the clean drive's table") {
    // the injected mid-epoch crash (table written, offsets not
    // committed) plus a checkpoint restart must be indistinguishable
    // from a never-crashed run in the final table
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val restarted = asSet(Streams.streamRestartSink(spark, sf))
    val clean = asSet(Streams.streamUpsertSink(spark, sf))
    assert(restarted.nonEmpty)
    assert(restarted == clean)
  }

  test("checkpointed parquet sink: no duplicates across stop + restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-eo-sink").toString
    val out = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[(Long, String)]
    val transformed = Streams.dedupStreaming(stream.toDF().toDF("doc_id", "text"))

    // epoch 1: drain the first batch, then STOP the query entirely
    stream.addData((1L, "a b c"), (2L, "x y z"))
    Streams.sinkToParquet(transformed, out, ckpt).awaitTermination()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 2, s"expected 2 rows after epoch 1, got $afterFirst")

    // restart from the same checkpoint with new data queued: only the
    // uncommitted offsets are processed ("b c a" dups doc 1's bag
    // fingerprint within this run's state and is dropped by dedup)
    stream.addData((3L, "fresh words here"), (4L, "b c a"))
    Streams.sinkToParquet(transformed, out, ckpt).awaitTermination()

    // restart again with NOTHING new: a replayed/no-op run must not
    // re-emit committed epochs
    Streams.sinkToParquet(transformed, out, ckpt).awaitTermination()

    val rows = spark.read.parquet(out).collect()
    val ids = rows.map(_.getAs[Long]("doc_id")).sorted
    assert(ids.length == ids.distinct.length, s"duplicated output: ${ids.toSeq}")
    assert(ids.toSet == Set(1L, 2L, 3L),
      s"expected exactly docs 1,2,3 once each, got ${ids.toSeq}")
  }

  test("cdc sink: per-epoch apply with deletes, final state and history correct") {
    import graft.sources.Versioned
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cdcsink").toString
    val path = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[(Long, String, String, String)]

    stream.addData((1L, "a", "p1", "upsert"), (2L, "b", "p2", "upsert"))
    Streams.cdcSink(stream.toDF().toDF("id", "v", "part", "op"),
      path, "id", "part", "op", ckpt).awaitTermination()
    stream.addData((1L, "A", "p1", "upsert"), (2L, "x", "p2", "delete"),
      (3L, "c", "p2", "upsert"))
    Streams.cdcSink(stream.toDF().toDF("id", "v", "part", "op"),
      path, "id", "part", "op", ckpt).awaitTermination()

    assert(Versioned.versions(spark, path) == Seq(0, 1))
    def snap(v: Int) =
      Versioned.snapshot(spark, path, v)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("part"))
        .as[(Long, String, String)].collect().toSet
    assert(snap(0) == Set((1L, "a", "p1"), (2L, "b", "p2")))
    assert(snap(1) == Set((1L, "A", "p1"), (3L, "c", "p2")))
  }

  test("versioned sink: one commit per epoch, each epoch time-travelable") {
    import graft.sources.Versioned
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-vsink").toString
    val path = s"$dir/table"
    val ckpt = s"$dir/ckpt"
    val stream = MemoryStream[(Long, String, String)]

    stream.addData((1L, "a", "p1"), (2L, "b", "p2"))
    Streams.versionedSink(stream.toDF().toDF("id", "v", "part"),
      path, "id", "part", ckpt).awaitTermination()
    stream.addData((1L, "A", "p1"), (3L, "c", "p2"))
    Streams.versionedSink(stream.toDF().toDF("id", "v", "part"),
      path, "id", "part", ckpt).awaitTermination()

    assert(Versioned.versions(spark, path) == Seq(0, 1))
    def snap(v: Int) = {
      import spark.implicits._
      Versioned.snapshot(spark, path, v)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("part"))
        .as[(Long, String, String)].collect().toSet
    }
    assert(snap(0) == Set((1L, "a", "p1"), (2L, "b", "p2")))
    assert(snap(1) == Set((1L, "A", "p1"), (2L, "b", "p2"), (3L, "c", "p2")))
    // a restart with nothing queued commits nothing
    Streams.versionedSink(stream.toDF().toDF("id", "v", "part"),
      path, "id", "part", ckpt).awaitTermination()
    assert(Versioned.versions(spark, path) == Seq(0, 1))
  }

  test("streaming CMS cells accumulate across batches to the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "a b c a"), (2L, "b c d"), (3L, "a a e f"), (4L, "g b"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.cmsCellsStream(
      stream.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("complete").format("memory").queryName("cms_out").start()
    try {
      stream.addData(docs.take(2): _*)
      q.processAllAvailable()
      stream.addData(docs.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    // stopping after any trigger yields the same matrix a batch build
    // over the data-so-far would: cells merge by addition
    val streamed = spark.table("cms_out").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.streaming.Streams.cmsCellsStream(
      docs.toDF("doc_id", "text")).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // bounded state: never more than d x w cells
    assert(streamed.size <= graft.operators.TextAnalysis.CmsRows *
      graft.operators.TextAnalysis.CmsWidth)
    // every token occurrence lands in exactly CmsRows cells
    val totalTokens = docs.map(_._2.split(" ", -1).length).sum
    assert(streamed.values.sum == totalTokens.toLong * graft.operators.TextAnalysis.CmsRows)
  }

  test("streaming quantile sketch accumulates across batches to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val r = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (if (i % 2 == 0) "click" else "view", math.floor(r.nextDouble() * 10000) / 100.0))
    val stream = MemoryStream[(String, Double)]
    val q = graft.streaming.Streams.quantileStream(
      stream.toDF().toDF("event_type", "value"))
      .writeStream.outputMode("complete").format("memory").queryName("qs_out").start()
    try {
      stream.addData(rows.take(200): _*)
      q.processAllAvailable()
      stream.addData(rows.drop(200): _*)
      q.processAllAvailable()
    } finally q.stop()
    // stopping after any trigger = a batch build over the data-so-far
    // (at gate capacity the sketch is exact, so equality is exact)
    val streamed = spark.table("qs_out").collect()
      .map(r2 => r2.getString(0) -> r2.getSeq[Double](1)).toMap
    val batch = graft.streaming.Streams.quantileStream(
      rows.toDF("event_type", "value")).collect()
      .map(r2 => r2.getString(0) -> r2.getSeq[Double](1)).toMap
    assert(streamed == batch)
    // and both equal the exact order statistics
    import graft.operators.Relational.QsProbes
    rows.groupBy(_._1).foreach { case (t, vs) =>
      val sorted = vs.map(_._2).sorted
      val expect = QsProbes.map { p =>
        sorted(math.max(1L, math.ceil(p * sorted.length).toLong).toInt - 1)
      }
      assert(streamed(t) == expect, s"type $t")
    }
  }
}
