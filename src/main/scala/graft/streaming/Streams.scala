package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Tables

/** §2.7 Structured Streaming operators.
  *
  * Each transform is written against a plain DataFrame so the SAME
  * code runs in batch (for the oracle gate) and on a streaming source
  * (readStream / MemoryStream in StreamingSpec). Watermarking is
  * applied only when the input is actually streaming — event-time
  * windows, not processing time, so results are replay-stable.
  */
object Streams {

  /** Tumbling 1-hour event-time windows: count + sum(value) per
    * (window, event_type). On a streaming input, call through
    * [[windowedAggStream]] to get the watermark.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming flavor: 2-hour watermark bounds state. */
  def windowedAggStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "2 hours"))

  /** Batch entry for the correctness gate (sorted deterministically). */
  def streamWindowedAgg(s: SparkSession, d: String): DataFrame =
    windowedAgg(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))

  /** SLIDING 1-hour windows every 30 minutes: each event lands in two
    * overlapping windows (the moving-average/trend shape tumbling
    * windows can't express). Streaming state stays bounded — width ⁄
    * slide = 2 live windows per key within the watermark horizon —
    * and the sum aggregates exact integer cents so the overlap
    * duplication introduces no float-order sensitivity.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("value") * 100, 0).cast("long")) / 100.0, 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming flavor: 2-hour watermark bounds the live window set. */
  def slidingAggStream(events: DataFrame): DataFrame =
    slidingAgg(events.withWatermark("ts", "2 hours"))

  /** Batch entry for the correctness gate. */
  def streamSlidingAgg(s: SparkSession, d: String): DataFrame =
    slidingAgg(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))

  /** DYNAMIC-gap session windows via Spark's native `session_window`:
    * per user, events closer than [[SessionGapMinutes]] minutes merge
    * into one window whose extent is data-driven (start = first
    * event, end = last event + gap) — the aggregation-native
    * complement of the flatMapGroupsWithState sessionizer
    * ([[sessionizeStateful]]), usable wherever a windowed AGGREGATION
    * is wanted rather than custom per-group state. Integer-cents sums
    * (float-order-free); in streaming, the watermark both bounds live
    * session state and drives final emission (append mode emits a
    * session only once it can no longer grow).
    */
  val SessionGapMinutes = 30

  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(round(col("value") * 100, 0).cast("long")) / 100.0, 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming flavor: watermark bounds live-session state. */
  def sessionWindowStream(events: DataFrame): DataFrame =
    sessionWindowAgg(events.withWatermark("ts", "2 hours"))

  /** Batch entry for the correctness gate. */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame =
    sessionWindowAgg(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_start"))

  // ------------------------------------------------------------------
  // Stateful sessionization (flatMapGroupsWithState).
  // ------------------------------------------------------------------

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessState(count: Long, lastMicros: Long, sessions: Long)
  case class SessionOut(user_id: Long, n_sessions: Long, n_events: Long)

  val GapMicros: Long = 1800L * 1000000L

  /** Event-at-a-time session counting with explicit state — the
    * streaming analog of the batch `q13_sessionize` (same gap rule).
    * Emits one running summary per user per trigger.
    */
  def sessionizeStateful(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(SessState(0L, Long.MinValue, 0L))
          sorted.foreach { e =>
            val newSession = st.count == 0 || e.tsMicros - st.lastMicros > GapMicros
            st = SessState(st.count + 1, e.tsMicros,
              st.sessions + (if (newSession) 1 else 0))
          }
          state.update(st)
          Iterator(SessionOut(user, st.sessions, st.count))
      }
  }

  /** Batch harness for the stateful sessionizer: run the same logic
    * over the static events table (sorted per user) — used by the spec
    * to cross-check against the window-function implementation.
    */
  def sessionizeBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsMicros"))
      .as[Ev]
    val grouped = ev.groupByKey(_.user_id).mapGroups { (user, rows) =>
      val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
      var count = 0L; var last = Long.MinValue; var sessions = 0L
      sorted.foreach { e =>
        if (count == 0 || e.tsMicros - last > GapMicros) sessions += 1
        count += 1; last = e.tsMicros
      }
      SessionOut(user, sessions, count)
    }
    grouped.toDF()
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy(col("user_id"))
  }

  /** [[sessionizeStateful]] driven through a REAL file-source stream
    * and hash-gated (round 15; previously a MemoryStream feed, which
    * required collecting the event slice to the driver — the last
    * data-sized driver collect in any gate row, ~1/7 of events, 1.4 M
    * rows at 100x): a bounded user slice of the events table is staged
    * DISTRIBUTED as two pinned-mtime epoch files split at the midpoint
    * of the observed ts range ([[stageEpochFiles]], the sink drives'
    * pattern), replayed one file per trigger under AvailableNow, so
    * sessions spanning the split exercise the cross-trigger GroupState
    * carry (lastMicros + running counts), and the memory-sink result
    * is held to the same per-user gap oracle as the batch sessionizer.
    * The only driver-resident data are 3 aggregate scalars (min/max ts,
    * count) and the user-count-sized output table.
    *
    * Split correctness: equal-ts events stay in one epoch, so each
    * epoch's (ts, event_id) sort reproduces the oracle's global order,
    * and both epochs are PROVABLY non-empty whenever the slice's ts
    * range spans ≥ 2 µs (split > mn keeps the min-ts event in epoch 0;
    * split ≤ mx puts the max-ts event in epoch 1). A degenerate
    * single-timestamp slice — where the old midpoint rule silently
    * produced an empty first batch and never exercised the carry
    * (ADVICE r14) — now falls back VISIBLY to one epoch, and the
    * trigger-count pin below still holds it to one data trigger.
    *
    * Append mode emits one running summary per (user, trigger); the
    * final summary is the per-user max — count and session number are
    * monotone across triggers because state only accumulates.
    */
  /** ONE epoch-file fixture per (process, sf dir) for the stateful
    * sessionizer drive — the [[sharedEpochFixture]] convention applied
    * to this drive's input staging (round 16; previously every
    * invocation re-aggregated the slice bounds and re-staged the two
    * pinned-mtime epoch files into a fresh temp tree — an aggregate
    * job plus a partitioned write per bench pass whose output is
    * byte-identical each time). The fixture is INPUT data (a
    * deployment reads a source that already exists), so sharing it
    * across passes follows the trained-model-state convention; the
    * STREAM itself — state store, triggers, cross-epoch carry — still
    * runs in full on every invocation. Carries (inDir, schema,
    * sliceRows, nEpochs); temp tree lives until process exit.
    */
  private val sessFixtures = scala.collection.mutable.Map
    .empty[String, (String, org.apache.spark.sql.types.StructType, Long, Int)]

  private def sharedSessFixture(s: SparkSession, d: String)
      : (String, org.apache.spark.sql.types.StructType, Long, Int) = synchronized {
    sessFixtures.getOrElseUpdate(d, {
      val ev = Tables.events(s, d)
        .filter(pmod(col("user_id"), lit(7)) === 0)
        .select(col("user_id").cast("long").as("user_id"),
          col("event_id").cast("long").as("event_id"),
          unix_micros(col("ts")).as("tsMicros"))
      val st = ev.agg(min(col("tsMicros")), max(col("tsMicros")), count(lit(1))).head()
      require(st.getLong(2) > 0,
        s"stream_session_stateful: the user_id % 7 = 0 slice of $d is empty")
      val (mn, mx) = (st.getLong(0), st.getLong(1))
      val split = mn + (mx - mn) / 2
      val nEp = if (mx - mn >= 2) 2 else 1
      val withEp = ev.withColumn("ep",
        when(lit(nEp) === 2 && col("tsMicros") >= split, lit(1))
          .otherwise(lit(0)).cast("int"))
      val base = java.nio.file.Files.createTempDirectory("graft_sess_in")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try removeRecursive(base) catch { case _: Throwable => () }))
      val inDir = stageEpochFiles(withEp, nEp, base,
        e => s"the ts-midpoint split of the user_id % 7 = 0 slice of $d " +
          s"left epoch $e empty — unreachable while the split invariant holds")
      (inDir, withEp.drop("ep").schema, st.getLong(2), nEp)
    })
  }

  def streamSessionStateful(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    {
      val (inDir, schema, sliceRows, nEp) = sharedSessFixture(s, d)
      val src = epochStream(s, inDir, schema).as[Ev]
      val out = sessionizeStateful(src)
      val name = "ss_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // State-store partition count DERIVED from the measured slice
      // size (r15): every state partition costs a per-batch store
      // commit (provider init, delta file, snapshot bookkeeping), so a
      // bounded slice behind the session's full shuffle width pays
      // fixed machinery per trigger that dwarfs its row work —
      // measured 3.1-4.1 s at 32 partitions vs 2.3-2.5 s at 8 for the
      // sf0.1 slice (same process, min-of-3). ~2k rows per store keeps
      // the commit overhead <10% of partition work; the session's
      // numShufflePartitions stays the CAP, so a cluster-scale slice
      // (100x: 1.4M rows) runs at full width — the partitioning
      // derives from data, it is not a local-mode constant. Results
      // are partitioning-invariant (keyed state by user_id); the gate
      // hash is unchanged. Restored in finally: only this stream's
      // checkpoint is planned at the derived width.
      val rowsPerStore = 2000L
      val statePartitions = math.max(1L, math.min(
        s.sessionState.conf.numShufflePartitions.toLong,
        (sliceRows + rowsPerStore - 1) / rowsPerStore)).toInt
      // restored only AFTER awaitTermination: the stream plans its
      // first batch asynchronously, so the conf must hold until the
      // query terminates (the bench drives queries one at a time, so
      // nothing else plans under the narrowed width). The narrowed
      // window is additionally GUARDED (ADVICE r15): mutating the
      // session-global shuffle width while another streaming query
      // plans concurrently would silently narrow ITS state width too,
      // so the serial-driver invariant is now asserted in code, not
      // prose.
      require(s.streams.active.isEmpty,
        "stream_session_stateful: another streaming query is active — " +
          "the narrowed spark.sql.shuffle.partitions window requires a " +
          "serial driver (concurrent queries would plan at this width)")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      try {
        val q = out.writeStream.outputMode("append").format("memory")
          .queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try {
          q.awaitTermination()
          // structural pin: the cross-trigger carry the gate certifies
          // only exists if each epoch file really arrived as its own
          // trigger (maxFilesPerTrigger=1 under AvailableNow)
          val fired = q.recentProgress.count(_.numInputRows > 0)
          require(fired == nEp,
            s"stream_session_stateful: expected $nEp data triggers, saw $fired")
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val res = s.table(name)
        .groupBy(col("user_id"))
        .agg(max(col("n_sessions")).as("n_sessions"),
          max(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
        .localCheckpoint()
      s.catalog.dropTempView(name)
      res
    }
  }

  // ------------------------------------------------------------------
  // Streaming dedup (keep-first by content fingerprint).
  // ------------------------------------------------------------------

  /** Content fingerprint shared by the batch and streaming paths. */
  private def fingerprinted(df: DataFrame): DataFrame =
    df.withColumn("fingerprint",
      md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))

  /** Streaming keep-first dedup: unbounded arrival stream → one row
    * per distinct fingerprint (state bounded by the watermark on real
    * event-time sources). The batch analog below pins "first" to
    * doc_id order so it is oracle-checkable.
    */
  def dedupStreaming(docs: DataFrame): DataFrame =
    fingerprinted(docs).dropDuplicates("fingerprint")

  /** Batch analog for the correctness gate: first doc_id wins. */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    fingerprinted(Tables.documents(s, d))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Streaming Count-Min sketch build.
  // ------------------------------------------------------------------

  /** Streaming Count-Min sketch: the aggregation STATE is the sketch —
    * at most d×w cells regardless of how long the document stream
    * runs, the textbook bounded-state streaming counter
    * ([[graft.operators.TextAnalysis.textCmsTopk]]'s batch build run
    * incrementally: each micro-batch's token counts merge into the
    * cells by addition, exactly the cross-shard merge the batch form
    * uses, so stopping the stream at any trigger yields the same
    * matrix a batch build over the data-so-far would). Heavy-hitter
    * estimates read min-over-rows off the live cells at any time.
    *
    * Cells are built by [[graft.operators.TextAnalysis.cmsPartialCells]],
    * the typed per-partition kernel the batch build uses: each
    * micro-batch task counts its tokens locally, hashes each DISTINCT
    * token once, and emits ≤ d×w partial cells into the stateful
    * cell-wise sum (the expression form this replaced paid d md5
    * expressions per token OCCURRENCE — 2.2× of oracle where the
    * kernel-based batch sibling runs ~1×).
    */
  def cmsCellsStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    graft.operators.TextAnalysis.cmsPartialCells(
        docs
          .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok"))
          .as[String])
      .groupBy(col("r"), col("b")).agg(sum(col("n")).as("n"))
  }

  /** Batch analog for the correctness gate: the full cell matrix. */
  def streamCms(s: SparkSession, d: String): DataFrame =
    cmsCellsStream(Tables.documents(s, d))
      .orderBy(col("r"), col("b"))

  // ------------------------------------------------------------------
  // Stream-static decontamination join.
  // ------------------------------------------------------------------

  /** Stream-static decontamination: documents arrive as an unbounded
    * stream; the held-out benchmark's distinct 5-gram index is STATIC
    * — resolved once and broadcast into every micro-batch's join (the
    * stream-static join mechanism: only the stream side pays per
    * trigger). A document is flagged the moment any of its 5-grams
    * hits the index: explode → stream-static left-semi join →
    * keep-first dropDuplicates (same watermarkable-state bound as
    * [[dedupStreaming]]). The streaming analog of
    * [[graft.operators.Curation.curDecontaminate]]'s broadcast shape;
    * at 100 TB the benchmark index stays MMLU-sized while the corpus
    * streams past it map-side.
    */
  def decontaminateStream(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    docs
      .withColumn("toks", graft.operators.TextAnalysis.tokens(col("text")))
      .withColumn("g5", expr(graft.operators.Curation.FiveGramExpr))
      .select(col("doc_id"), explode(col("g5")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .dropDuplicates("doc_id")
      .select(col("doc_id"))

  /** Batch analog for the correctness gate: contaminated doc ids
    * (eval split = doc_id % 20 == 0, as in the curation family).
    */
  def streamDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val evalGrams = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .withColumn("toks", graft.operators.TextAnalysis.tokens(col("text")))
      .withColumn("g5", expr(graft.operators.Curation.FiveGramExpr))
      .select(explode(col("g5")).as("g")).distinct()
    decontaminateStream(docs.filter(pmod(col("doc_id"), lit(20)) =!= 0), evalGrams)
      .withColumn("contaminated", lit(1L))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Streaming incremental near-dup probe.
  // ------------------------------------------------------------------

  /** Probe a stream of NEW documents against the persisted corpus
    * MinHash band index — [[graft.operators.Dedup.dedupIncrementalMinhash]]
    * as a stream, the recurring-crawl shape where the shard arrives
    * continuously instead of in batches. Per stream row the shingle
    * kernel, 128-hash signature and band hashes all run MAP-SIDE (a
    * stream row holds the whole document, so the batch path's
    * explode + groupBy collapses into one flatMap; the xxhash64
    * transform keeps the hash family bit-identical to
    * [[graft.operators.Dedup.bandTable]]'s index). Candidates come
    * from the stream-static band join; exact-Jaccard verification
    * joins the corpus shingle arrays from the static store, while the
    * probe doc's own shingles ride its candidate rows — the shard is
    * the small recurring increment whose content is already in
    * flight; only corpus state is read from storage. The
    * dropDuplicates state is bounded by the shard's candidate pair
    * count. Works identically on a batch shard frame (the spec's
    * stream-vs-batch equivalence check).
    */
  def neardupProbeStream(s: SparkSession, shardDocs: DataFrame,
      corpusDocs: DataFrame, pinBands: Boolean = false): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    // pinBands: a MULTI-batch drive re-executes the static side per
    // micro-batch — without pinning, every trigger re-pays the
    // corpus-sized band build (explode → groupBy → signature kernel;
    // the +5 s that killed the r13 two-batch drive). Checkpointing the
    // band table removes that rebuild. A plain checkpoint carries no
    // partitioning or ordering, though, so every trigger still
    // re-exchanges and re-sorts the corpus band table (band, bh) and
    // the corpus shingle table (doc id) under the two sort-merge joins
    // (measured in round 16: ~1.0 s per trigger, even for a tail batch
    // of ~30 docs).
    // Batch-mode consumers (streamNeardup) leave it off: the bands are
    // consumed exactly once there, so pinning would only add a
    // materialization pass.
    val corpusSh = Dedup.shingleArrays(s, corpusDocs).localCheckpoint()
    val corpusBands0 = Dedup.bandTable(s, corpusSh)
    val corpusBands = if (pinBands) corpusBands0.localCheckpoint() else corpusBands0
    val bandRows = Dedup.NumHashes / Dedup.NumBands
    val shardBands = Dedup.shingleArrays(s, shardDocs)
      .withColumn("hs", expr("transform(sh, x -> xxhash64(x))"))
      .as[(Long, Seq[String], Seq[Long])]
      .flatMap { case (id, sh, hs) =>
        val sig = Array.fill(Dedup.NumHashes)(Long.MaxValue)
        hs.foreach { h =>
          var i = 0
          while (i < Dedup.NumHashes) {
            val m = Dedup.mix(h, i)
            if (m < sig(i)) sig(i) = m
            i += 1
          }
        }
        (0 until Dedup.NumBands).map { b =>
          var bh = 1125899906842597L
          var r = 0
          while (r < bandRows) { bh = bh * 31 + sig(b * bandRows + r); r += 1 }
          (id, b, bh, sh)
        }
      }.toDF("doc_id", "band", "bh", "sh")
    val cand = shardBands
      .join(corpusBands.select(col("band"), col("bh"), col("doc_id").as("doc_b")),
        Seq("band", "bh"))
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("sh").as("sha"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(corpusSh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")), 4))
      .filter(col("jaccard") >= Dedup.JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[neardupProbeStream]] driven through a REAL MemoryStream (round
    * 13): the shard arrives as micro-batches, the probe joins the
    * static corpus index, and the memory-sink result is the gate
    * row — held to the same exact batch×corpus jaccard oracle as
    * [[streamNeardup]], so the STREAMING execution path itself is
    * hash-certified, not just spec-compared. TWO batches (round 14):
    * the shard's doc_id % 1000 == 0 tail arrives as a second trigger,
    * so the CROSS-BATCH dropDuplicates state path is inside the gate
    * too — the r13 single-batch compromise existed only because the
    * un-pinned static side re-paid the corpus band build per trigger
    * (+5 s); with [[neardupProbeStream]]'s pinBands the second trigger
    * costs just its tail-sized shard side. The driver-side collect is
    * the shard only — the bounded recurring increment (the corpus
    * never leaves executors).
    */
  def streamNeardupProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val shardRows = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .as[(Long, String)].collect().toSeq
    // a doc_id lands in exactly one batch, so the pair SET is
    // batch-split-invariant; only the state path differs
    val (tail, main) = shardRows.partition(_._1 % 1000 == 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    // Stream width DERIVED from the measured shard size (round 16 —
    // the stream_session_stateful r15 discipline applied here): the
    // dropDuplicates state is bounded by the shard's candidate pairs,
    // so a bounded probe behind the session's full shuffle width pays
    // a per-trigger state-store commit (provider init, delta file) per
    // partition that dwarfs its row work. ~2k shard rows per partition,
    // CAPPED at the session width so a cluster-scale shard runs at
    // full width — data-derived, not a local-mode constant. Results
    // are partitioning-invariant; the pinned static checkpoints are
    // built INSIDE neardupProbeStream, so they run at the narrowed
    // width too. Same serial-driver
    // guard + restore-after-termination discipline as the stateful
    // sessionizer drive.
    val rowsPerStore = 2000
    val streamWidth = math.max(1, math.min(
      s.sessionState.conf.numShufflePartitions,
      (shardRows.size + rowsPerStore - 1) / rowsPerStore))
    require(s.streams.active.isEmpty,
      "stream_neardup_probe: another streaming query is active — the " +
        "narrowed spark.sql.shuffle.partitions window requires a serial driver")
    val name = "np_" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamWidth.toString)
    try {
      val out = neardupProbeStream(s, stream.toDF().toDF("doc_id", "text"), corpus,
        pinBands = true)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        stream.addData(main)
        q.processAllAvailable()
        stream.addData(tail)
        q.processAllAvailable()
      } finally q.stop()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    val res = s.table(name)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    s.catalog.dropTempView(name)
    res
  }

  /** Driver-gated batch-mode evaluation of [[neardupProbeStream]]:
    * the shard split is the same doc_id % 10 convention as
    * [[graft.operators.Dedup.dedupIncrementalMinhash]], so the probe
    * is held to that query's EXACT batch×corpus jaccard oracle — the
    * stream-shaped plan (map-side signatures, stream-static band
    * join) must reproduce the batch pipeline's pair set
    * byte-for-byte. StreamingSpec separately proves the MemoryStream
    * execution of the same function matches this batch evaluation.
    */
  def streamNeardup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    neardupProbeStream(s,
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------------
  // Stream-stream interval join.
  // ------------------------------------------------------------------

  /** Join a purchase stream to the click stream of the same user
    * within the preceding hour — the stream-stream interval-join
    * shape (both sides watermarked so join state is bounded; the
    * event-time range condition lets Spark expire rows).
    */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
  }

  /** Batch analog of the interval join for the correctness gate. */
  def streamIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val out = clickToPurchaseJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    out.select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** LEFT OUTER stream-stream interval join: every purchase is
    * emitted, with null click columns when no click of the same user
    * preceded it within the hour — the attribution-with-misses shape.
    * In streaming, Spark holds an unmatched purchase in state until
    * BOTH watermarks pass its join window and only then emits the
    * null-padded row (a purchase can't be declared click-less while a
    * matching late click could still arrive); the event-time range
    * condition plus the two watermarks bound the state exactly as in
    * the inner form. StreamingSpec drives this on MemoryStreams and
    * proves the delayed null emission; the batch analog below is the
    * oracle-gated row.
    */
  def clickToPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"),
      "left_outer")
  }

  /** Batch analog of the left-outer interval join for the gate. */
  def streamIntervalJoinOuter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val out = clickToPurchaseLeftJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))
    out.select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        col("click_id").isNotNull.cast("long").as("matched"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  // ------------------------------------------------------------------
  // Windowed top-k (custom bounded-heap aggregate in streaming).
  // ------------------------------------------------------------------

  val TopKPerWindow = 3

  /** Per (1-hour window, event_type), the top-[[TopKPerWindow]] event
    * ids by value — the [[graft.functions.TopKIds]] bounded-heap
    * TypedImperativeAggregate running INSIDE a streaming aggregation:
    * its partial buffers merge across triggers exactly like the
    * built-in sketches, so per-window state is O(k), not O(events).
    * Rank is deterministic (value desc, id asc — the aggregate's own
    * tie rule, mirrored by the oracle).
    */
  def windowedTopK(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.TopKIds.topKIds(col("value"), col("event_id"), TopKPerWindow).as("ids"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), posexplode(col("ids")).as(Seq("pos", "event_id")))
      .select(col("window_start"), col("event_type"),
        (col("pos") + 1).cast("long").as("rank"), col("event_id"))

  /** Streaming flavor: 2-hour watermark bounds window state. */
  def windowedTopKStream(events: DataFrame): DataFrame =
    windowedTopK(events.withWatermark("ts", "2 hours"))

  /** Batch entry for the correctness gate. */
  def streamTopK(s: SparkSession, d: String): DataFrame =
    windowedTopK(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"), col("rank"))

  // ------------------------------------------------------------------
  // Streaming quantile-sketch build.
  // ------------------------------------------------------------------

  /** Streaming quantile sketch: like [[cmsCellsStream]], the
    * aggregation STATE is the sketch — a
    * [[graft.functions.QuantileSketch]] per event_type whose level
    * buffers stay O(capacity·log n) no matter how long the stream
    * runs; each micro-batch's values fold into the levels by the
    * same level-wise merge the batch/cross-shard build uses, so
    * stopping at any trigger yields what a batch build over the
    * data-so-far would. Quantile estimates read off the live sketch
    * at any time. At the gate capacity the sketch is exact, so the
    * batch analog hash-matches the DuckDB order-statistic oracle
    * while the compaction path (the actual 100 TB regime) is
    * PropertySpec's rank-error contract.
    */
  def quantileStream(events: DataFrame): DataFrame = {
    import graft.operators.Relational.{QsCapacity, QsProbes}
    events
      .groupBy(col("event_type"))
      .agg(graft.functions.QuantileSketch.quantileSketch(
        col("value"), QsCapacity, QsProbes).as("qs"))
  }

  /** Batch analog for the correctness gate: per-type discrete
    * quantiles of the event values. */
  def streamQuantile(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Relational.QsProbes
    quantileStream(Tables.events(s, d))
      .select(col("event_type"), posexplode(col("qs")).as(Seq("i", "q")))
      .select(col("event_type"),
        element_at(typedLit(QsProbes), col("i") + 1).as("p"), col("q"))
      .orderBy(col("event_type"), col("p"))
  }

  // ------------------------------------------------------------------
  // Exactly-once checkpointed file sink.
  // ------------------------------------------------------------------

  /** Checkpointed parquet sink: the production landing path for a
    * streaming pipeline. Spark's file sink commits each epoch to the
    * output's `_spark_metadata` log and the source offsets to the
    * checkpoint, so a crashed/restarted query resumes where it
    * stopped and readers see each input row's output EXACTLY once —
    * files from a replayed epoch are re-written under the same epoch
    * id and the metadata log keeps one committed manifest per epoch.
    * `Trigger.AvailableNow` drains the available backlog and stops,
    * the restartable-batch posture a recurring-crawl curation
    * pipeline runs on (StreamingSpec proves no-duplication across a
    * stop + restart + replayed-source cycle).
    */
  def sinkToParquet(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Streaming copy-on-write upsert sink: drive [[graft.sources
    * .Sinks.upsert]] from a stream via foreachBatch — the incremental
    * table-maintenance shape (a CDC/crawl stream continuously merged
    * into a partitioned parquet table). Each epoch's batch upserts by
    * key and rewrites ONLY the partitions its keys touch; the
    * checkpoint's offset log makes epoch delivery effectively-once
    * into an idempotent merge (replaying an epoch re-applies the same
    * keys to the same partitions and converges to the same table).
    * `AvailableNow` drains the backlog and stops — the recurring
    * ingestion-batch posture used by the parquet sink above.
    */
  def upsertSink(updates: DataFrame, path: String, keyCol: String,
      partCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sinks.upsert(batch.sparkSession, path, batch, keyCol, partCol)
        ()
      }
      .start()

  /** Streaming sink into the manifest-log VERSIONED table: each epoch
    * commits one [[graft.sources.Versioned]] version, so the stream's
    * history is time-travelable — `snapshot(v)` reproduces the table
    * exactly as epoch v left it (the audit/replay posture CDC
    * pipelines buy from Delta/Hudi). Same foreachBatch + AvailableNow
    * discipline as [[upsertSink]]; the atomic manifest rename is the
    * per-epoch commit point, so a crash mid-epoch leaves the previous
    * version intact and readable.
    */
  def versionedSink(updates: DataFrame, path: String, keyCol: String,
      partCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.upsert(batch.sparkSession, path, batch, keyCol, partCol)
        ()
      }
      .start()

  /** Streaming CDC apply into the versioned table: each epoch's batch
    * of change rows (upserts + `delete` tombstones in `opCol`) is
    * merged by [[graft.sources.Versioned.applyCdc]], committing one
    * time-travelable version per epoch — the Debezium→lakehouse
    * "apply changes" pattern. Deletes remove the key from its
    * partition; the atomic manifest rename keeps a crash mid-epoch
    * from tearing the table, and replaying an epoch converges to the
    * same state (idempotent merge).
    */
  def cdcSink(changes: DataFrame, path: String, keyCol: String,
      partCol: String, opCol: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Versioned.applyCdc(
          batch.sparkSession, path, batch, keyCol, partCol, opCol)
        ()
      }
      .start()

  // ------------------------------------------------------------------
  // Sink-drive gate entries (round 13): the three foreachBatch sinks
  // were spec-only; these entries drive each REAL streaming sink end
  // to end — a file-source stream replaying deterministic epoch files
  // (pinned mtimes ⇒ oldest-first order; maxFilesPerTrigger=1 ⇒ one
  // epoch per micro-batch under AvailableNow) into a temp table —
  // and return the resulting TABLE, which DuckDB recomputes from the
  // events table (last-writer-wins argmax per epoch chain). Input is
  // a bounded user slice: the rows certify merge/commit SEMANTICS,
  // not throughput (the sinks' scale posture is §2.8's).
  // ------------------------------------------------------------------

  /** Epochs of unique-(user, type) upsert batches from a deterministic
    * slice of events: epoch = event_id mod [[SinkEpochs]], one row per
    * (user, type) carrying the epoch's last event (max event_id) and
    * its value in integer CENTS (the stream_sliding_agg float-parity
    * discipline). */
  val SinkEpochs = 2
  private def sinkEpochFrame(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(pmod(col("user_id"), lit(7)) === 0)
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("ep", pmod(col("event_id"), lit(SinkEpochs)).cast("int"))
      .groupBy(col("ep"), col("user_id"), col("event_type"))
      .agg(max(col("event_id")).as("last_event_id"),
        max_by(col("cents"), col("event_id")).as("last_cents"))

  /** Recursive delete for the sink drives' temp trees (children
    * before parents; missing paths tolerated). */
  private def removeRecursive(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.reverse
          .foreach(q => java.nio.file.Files.deleteIfExists(q))
      }
    }

  /** ONE epoch-file fixture per (process, sf dir), shared by all
    * three sink drives (round 14: each drive previously rebuilt its
    * own — three identical agg + partitioned-write + move passes per
    * Verify run, nine per three-pass Bench). The CDC drive derives
    * its op column on the STREAM side (it is a pure function of
    * last_event_id), so the one base fixture serves all three. The
    * fixture is INPUT data, so sharing it across bench passes follows
    * the trained-model-state convention (centroids/codebooks persist;
    * only evaluation caches reset). Its temp tree lives until process
    * exit (shutdown hook); each drive's OUTPUT dirs (table,
    * checkpoint) are per-call and removed in its finally — previously
    * every Verify/Bench invocation leaked input+table+checkpoint+stage
    * trees under /tmp.
    */
  private val epochFixtures = scala.collection.mutable.Map
    .empty[String, (String, org.apache.spark.sql.types.StructType)]

  /** Stage `frame` (carrying an int `ep` column in [0, nEpochs)) as
    * ONE pinned-mtime parquet file per epoch under `base/in`; returns
    * the input dir for [[epochStream]]. One partitioned write
    * materializes every epoch file (a write-per-epoch loop paid one
    * scheduled job per epoch); `repartition(nEpochs, ep)` puts each
    * epoch's rows in exactly one task, so each `ep=` dir holds exactly
    * one part file (asserted — a second file would otherwise be
    * dropped silently); pinned strictly increasing mtimes ⇒
    * oldest-first replay order. The whole fixture is built
    * DISTRIBUTED — no data-sized driver collect anywhere on the
    * file-source drive path (round 15: the stateful sessionizer drive
    * now shares this, retiring the last data-sized collect in a gate
    * row).
    */
  private def stageEpochFiles(frame: DataFrame, nEpochs: Int,
      base: java.nio.file.Path, emptyHint: Int => String): String = {
    val inDir = base.resolve("in")
    java.nio.file.Files.createDirectories(inDir)
    val stage = base.resolve("stage")
    frame.repartition(nEpochs, col("ep"))
      .write.partitionBy("ep").parquet(stage.toString)
    (0 until nEpochs).foreach { e =>
      val dir = new java.io.File(s"$stage/ep=$e")
      // an epoch slice can be empty under another SF's distribution:
      // fail with the cause, not the NPE/.head throw a missing dir
      // produced before
      val parts = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.endsWith(".parquet"))
      require(parts.nonEmpty,
        s"epoch fixture: epoch $e has no parquet file under $dir — ${emptyHint(e)}")
      require(parts.length == 1,
        s"epoch fixture: epoch $e has ${parts.length} part files — the " +
          "one-task-per-epoch repartition contract broke; moving just one " +
          "would silently drop rows")
      val dst = inDir.resolve(f"epoch$e%03d.parquet")
      java.nio.file.Files.move(parts.head.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + e * 60000L))
    }
    removeRecursive(stage)
    inDir.toString
  }

  private def sharedEpochFixture(s: SparkSession, d: String)
      : (String, org.apache.spark.sql.types.StructType) = synchronized {
    epochFixtures.getOrElseUpdate(d, {
      val frame = sinkEpochFrame(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_sink_in")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try removeRecursive(base) catch { case _: Throwable => () }))
      val inDir = stageEpochFiles(frame, SinkEpochs, base,
        e => s"the user_id % 7 = 0 slice of $d has no rows with " +
          s"event_id % $SinkEpochs = $e")
      (inDir, frame.drop("ep").schema)
    })
  }

  private def epochStream(s: SparkSession, inDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(inDir)

  /** Run one sink drive against the shared fixture: `body` gets the
    * epoch stream and a fresh output base dir, and must return the
    * MATERIALIZED result (the finally removes the output tree the
    * lazy frame would still read). */
  private def sinkDrive(s: SparkSession, d: String)(
      body: (DataFrame, java.nio.file.Path) => DataFrame): DataFrame = {
    val (inDir, schema) = sharedEpochFixture(s, d)
    val out = java.nio.file.Files.createTempDirectory("graft_sink_out")
    try body(epochStream(s, inDir, schema), out)
    finally removeRecursive(out)
  }

  /** [[upsertSink]] driven end to end: replay the epoch files through
    * the copy-on-write keyed upsert, return the final table. */
  def streamUpsertSink(s: SparkSession, d: String): DataFrame =
    sinkDrive(s, d) { (updates, base) =>
      val table = base.resolve("table").toString
      upsertSink(updates, table, "user_id", "event_type",
        base.resolve("ckpt").toString).awaitTermination()
      s.read.parquet(table)
        .select(col("user_id"), col("event_type"), col("last_event_id"),
          col("last_cents"))
        .orderBy(col("user_id"), col("event_type"))
        .localCheckpoint()
    }

  /** [[versionedSink]] driven end to end: one manifest version per
    * epoch; the output is the UNION of every version's snapshot tagged
    * by its commit index, so the oracle certifies the whole
    * time-travel history (state after epochs 0..i), not just the final
    * table. */
  def streamVersionedSink(s: SparkSession, d: String): DataFrame =
    sinkDrive(s, d) { (updates, base) =>
      val table = base.resolve("table").toString
      versionedSink(updates, table, "user_id", "event_type",
        base.resolve("ckpt").toString).awaitTermination()
      graft.sources.Versioned.versions(s, table).zipWithIndex
        .map { case (v, i) =>
          graft.sources.Versioned.snapshot(s, table, v)
            .select(lit(i.toLong).as("epoch"), col("user_id"), col("event_type"),
              col("last_event_id"), col("last_cents"))
        }
        .reduce(_ unionByName _)
        .orderBy(col("epoch"), col("user_id"), col("event_type"))
        .localCheckpoint()
    }

  /** [[cdcSink]] driven end to end: each epoch row is a DELETE
    * tombstone when its last_event_id ≡ 0 (mod 5), else an upsert —
    * so some keys die and are later re-upserted, exercising the
    * tombstone anti-join and re-insert paths. The op column derives
    * on the stream (per micro-batch), which is what lets this drive
    * share the base fixture. Output is the final snapshot (deleted
    * keys absent). */
  def streamCdcSink(s: SparkSession, d: String): DataFrame =
    sinkDrive(s, d) { (updates, base) =>
      val changes = updates.withColumn("op",
        when(pmod(col("last_event_id"), lit(5)) === 0, lit("delete"))
          .otherwise(lit("upsert")))
      val table = base.resolve("table").toString
      cdcSink(changes, table, "user_id", "event_type", "op",
        base.resolve("ckpt").toString).awaitTermination()
      // manifest-log table: the LIVE file set is the latest manifest's,
      // never a raw directory read (old versions' files stay on disk
      // for time travel)
      graft.sources.Versioned.snapshot(s, table)
        .select(col("user_id"), col("event_type"), col("last_event_id"),
          col("last_cents"))
        .orderBy(col("user_id"), col("event_type"))
        .localCheckpoint()
    }

  /** Crash-recovery drive of the CoW upsert sink (round 15 — the
    * production contract the fresh-checkpoint drives above never
    * exercise): run 1 replays the epoch files, but an injected fault
    * kills the query AFTER epoch 0's table merge and BEFORE its
    * streaming offset commit — the worst-case crash point, where the
    * sink's work is on disk while the checkpoint says the epoch never
    * ran. Run 2 restarts from the SAME checkpoint: Spark re-executes
    * the torn epoch with its logged file set (the offset log records
    * the plan before execution), the idempotent keyed merge converges
    * the re-applied epoch to the same table, and the remaining epoch
    * then applies once. The final table is held to the SAME
    * last-writer-wins oracle as [[streamUpsertSink]] — the restarted
    * stream is hash-certified to converge to the identical state,
    * which is exactly-once delivery in the only sense a foreachBatch
    * sink has (effectively-once into an idempotent writer).
    */
  def streamRestartSink(s: SparkSession, d: String): DataFrame =
    sinkDrive(s, d) { (updates, base) =>
      val table = base.resolve("table").toString
      val ckpt = base.resolve("ckpt").toString
      // foreachBatch bodies run on the driver, so plain local state
      // works for one-shot fault injection
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = updates.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sources.Sinks.upsert(batch.sparkSession, table, batch,
            "user_id", "event_type")
          if (!crashed.getAndSet(true))
            throw new RuntimeException(
              "injected crash: epoch written, offsets not committed")
          ()
        }
        .start()
      val failure =
        try { q1.awaitTermination(); None }
        catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Some(e)
        }
      def chain(t: Throwable): List[String] = Iterator.iterate(t)(_.getCause)
        .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
        .take(10).toList
      require(failure.exists(e => chain(e).exists(_.contains("injected crash"))),
        s"restart drive: run 1 must die on the injected crash, got " +
          failure.fold("clean termination")(e => chain(e).mkString(" <- ")))
      // run 2: a clean restart of the SAME sink from the same
      // checkpoint — the replayed epoch and the remaining one both
      // land through the normal production path
      upsertSink(updates, table, "user_id", "event_type", ckpt)
        .awaitTermination()
      s.read.parquet(table)
        .select(col("user_id"), col("event_type"), col("last_event_id"),
          col("last_cents"))
        .orderBy(col("user_id"), col("event_type"))
        .localCheckpoint()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_restart_sink" -> streamRestartSink _,
    "stream_neardup_probe" -> streamNeardupProbe _,
    "stream_session_stateful" -> streamSessionStateful _,
    "stream_upsert_sink" -> streamUpsertSink _,
    "stream_versioned_sink" -> streamVersionedSink _,
    "stream_cdc_sink" -> streamCdcSink _,
    "stream_sliding_agg" -> streamSlidingAgg _,
    "stream_windowed_agg" -> streamWindowedAgg _,
    "stream_session_state" -> sessionizeBatch _,
    "stream_session_window" -> streamSessionWindow _,
    "stream_dedup" -> streamDedup _,
    "stream_topk" -> streamTopK _,
    "stream_interval_join" -> streamIntervalJoin _,
    "stream_interval_join_outer" -> streamIntervalJoinOuter _,
    "stream_decontaminate" -> streamDecontaminate _,
    "stream_neardup" -> streamNeardup _,
    "stream_cms" -> streamCms _,
    "stream_quantile" -> streamQuantile _)

  /** Shared epoch/agg CTE for the sink-drive oracles — the DuckDB
    * restatement of [[sinkEpochFrame]]. */
  private val sinkEpochCte =
    s"""WITH e AS (SELECT event_id, user_id, event_type,
       |   CAST(round(value * 100, 0) AS BIGINT) AS cents,
       |   event_id % $SinkEpochs AS ep
       |  FROM events WHERE user_id % 7 = 0),
       |agg AS (SELECT ep, user_id, event_type,
       |   max(event_id) AS last_event_id,
       |   arg_max(cents, event_id) AS last_cents
       |  FROM e GROUP BY 1, 2, 3)""".stripMargin

  /** Last-writer-wins per (key, partition): the row from the max
    * epoch containing the key — exactly the CoW upsert's contract.
    * Shared by the clean drive and the crash-restart drive: recovery
    * MUST converge to the state a never-crashed run reaches. */
  private val upsertSinkOracle =
    s"""$sinkEpochCte
       |SELECT user_id, event_type,
       | arg_max(last_event_id, ep) AS last_event_id,
       | arg_max(last_cents, ep) AS last_cents
       |FROM agg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "stream_upsert_sink" -> upsertSinkOracle,
    // crash mid-epoch + restart from the same checkpoint must be
    // indistinguishable from the clean run in the final table
    "stream_restart_sink" -> upsertSinkOracle,
    // the whole time-travel history: state after epochs 0..i for each
    // commit index i
    "stream_versioned_sink" ->
      s"""$sinkEpochCte
         |SELECT CAST(i.epoch AS BIGINT) AS epoch, a.user_id, a.event_type,
         | arg_max(a.last_event_id, a.ep) AS last_event_id,
         | arg_max(a.last_cents, a.ep) AS last_cents
         |FROM (SELECT unnest(generate_series(0, ${SinkEpochs - 1})) AS epoch) i
         |JOIN agg a ON a.ep <= i.epoch
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // last op wins; keys whose final op is a tombstone are absent
    "stream_cdc_sink" ->
      s"""$sinkEpochCte,
         |fin AS (SELECT user_id, event_type,
         |  arg_max(last_event_id, ep) AS last_event_id,
         |  arg_max(last_cents, ep) AS last_cents,
         |  arg_max(CASE WHEN last_event_id % 5 = 0 THEN 'delete' ELSE 'upsert' END, ep) AS last_op
         | FROM agg GROUP BY 1, 2)
         |SELECT user_id, event_type, last_event_id, last_cents FROM fin
         |WHERE last_op <> 'delete' ORDER BY 1, 2""".stripMargin,
    // each event contributes to exactly two half-hour-aligned windows
    // (width 1h, slide 30m); Spark's epoch-aligned window start equals
    // hour truncation plus the half-hour step
    "stream_sliding_agg" ->
      """WITH e AS (SELECT event_type,
        |   CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |   date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
        |     THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS w0
        |  FROM events),
        |x AS (SELECT event_type, cents, w0 AS ws FROM e
        |      UNION ALL
        |      SELECT event_type, cents, w0 - INTERVAL 30 MINUTE FROM e)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        | CAST(count(*) AS BIGINT) AS n,
        | round(sum(cents) / 100.0, 2) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same exact pair-set oracle as dedup_incremental_minhash — the
    // stream-shaped plan must agree with the batch pipeline.
    "stream_neardup" -> graft.operators.Dedup.incrementalMinhashOracle,
    // the MemoryStream execution of the same probe must reproduce the
    // identical exact pair set
    "stream_neardup_probe" -> graft.operators.Dedup.incrementalMinhashOracle,
    "stream_decontaminate" ->
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split(text, ' ')) - 4),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||
        |        string_split(text, ' ')[i+2] || ' ' || string_split(text, ' ')[i+3] || ' ' ||
        |        string_split(text, ' ')[i+4])) AS g5 FROM documents),
        |ev AS (SELECT DISTINCT unnest(g5) AS g FROM t WHERE doc_id % 20 = 0)
        |SELECT DISTINCT doc_id, CAST(1 AS BIGINT) AS contaminated
        |FROM (SELECT doc_id, unnest(g5) AS g FROM t WHERE doc_id % 20 <> 0) tr
        |JOIN ev ON tr.g = ev.g
        |ORDER BY doc_id""".stripMargin,
    "stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c
        | ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    // purchase-side filter in WHERE (an ON-clause predicate would not
    // restrict the preserved side of a LEFT JOIN)
    "stream_interval_join_outer" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        | CAST(CASE WHEN c.event_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched
        |FROM events p LEFT JOIN events c
        | ON c.event_type = 'click' AND p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, click_id""".stripMargin,
    "stream_windowed_agg" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "stream_dedup" ->
      """SELECT doc_id, fingerprint FROM (
        | SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        |  row_number() OVER (
        |    PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    ORDER BY doc_id) AS rn
        | FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "stream_cms" -> {
      import graft.operators.TextAnalysis.{CmsRows, CmsWidth}
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |rs AS (SELECT unnest([${(0 until CmsRows).mkString(", ")}]) AS r)
         |SELECT r,
         | CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 12) AS BIGINT)
         |   % $CmsWidth AS b,
         | CAST(count(*) AS BIGINT) AS n
         |FROM toks, rs GROUP BY 1, 2 ORDER BY r, b""".stripMargin
    },
    // exact-regime replay: same discrete-quantile order statistic as
    // q51, over per-type event values (the streaming build's state is
    // the sketch; at gate capacity it is exact)
    "stream_quantile" -> {
      import graft.operators.Relational.QsProbes
      s"""WITH p AS (SELECT unnest([${QsProbes.mkString(", ")}]::DOUBLE[]) AS p),
         |s AS (SELECT event_type, value AS v,
         |   row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |   count(*) OVER (PARTITION BY event_type) AS n
         |  FROM events)
         |SELECT event_type, p, min(v) AS q
         |FROM s JOIN p ON rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
         |GROUP BY 1, 2 ORDER BY event_type, p""".stripMargin
    },
    "stream_topk" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, CAST(rk AS BIGINT) AS rank, event_id
        |FROM (SELECT ts, event_type, event_id,
        |  row_number() OVER (
        |    PARTITION BY time_bucket(INTERVAL '1 hour', ts), event_type
        |    ORDER BY value DESC, event_id) AS rk
        | FROM events)
        |WHERE rk <= 3
        |ORDER BY window_start, event_type, rank""".stripMargin,
    // session_window boundary rule: an event at EXACTLY prev + gap
    // MERGES into the running session (UpdatingSessionsIterator starts
    // a new session only when start > currentEnd, i.e. windows touch
    // at equality and touching sessions merge) — hence the oracle's
    // gap test is strictly greater, the SAME rule as the stateful
    // sessionizer. Verified on Spark 4.1.2: two events exactly 30 min
    // apart yield one session with n=2.
    "stream_session_window" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CAST(round(value * 100, 0) AS BIGINT) AS cents,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS new_sess
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, cents,
        |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM e)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        | CAST(count(*) AS BIGINT) AS n_events,
        | round(sum(cents) / 100.0, 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // The MemoryStream-driven flatMapGroupsWithState execution must
    // reproduce the same per-user gap counts over its user slice —
    // including sessions spanning the two-trigger split.
    "stream_session_stateful" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        | FROM (SELECT user_id, epoch_us(ts) AS us,
        |   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events WHERE user_id % 7 = 0))
        |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // Same gap rule as q13 — the stateful path must agree with the
    // declarative window-function formulation.
    "stream_session_state" ->
      """WITH g AS (
        | SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_sess
        | FROM (SELECT user_id, epoch_us(ts) AS us,
        |   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events))
        |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
        | CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)
}
