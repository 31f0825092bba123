package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** §2.5 text analysis over the documents table.
  *
  * All token work happens in higher-order array functions on a single
  * `split` — one pass over the text, no UDFs, fully codegen'd, and no
  * shuffle at all for the per-document operators (they stay map-side
  * even at 100 TB; only the summary aggregations shuffle).
  */
object TextAnalysis {

  /** Misra-Gries summary capacity for [[textFreqItems]]. The sketch's
    * counts (and therefore the DuckDB oracle hash-match) are EXACT
    * only while the corpus vocabulary fits the summary — the driver
    * corpus draws from a ~31-word vocabulary, and
    * FreqItemsSpec asserts `distinct tokens <= FreqItemsCapacity` at
    * the test SF so a data-generator change surfaces as a named spec
    * failure, not a confusing oracle mismatch. Beyond the bound the
    * sketch degrades gracefully to its ±N/(capacity+1) guarantee,
    * which is the intended 100 TB behavior.
    */
  val FreqItemsCapacity = 64

  /** Whitespace tokens of `text` as an array column. */
  def tokens(c: Column): Column = split(c, " ")

  /** Distinct word 3-gram shingles (used by Dedup too). */
  val shingleExpr: String =
    """array_distinct(CASE WHEN size(toks) < 3 THEN cast(array() AS array<string>)
      |ELSE transform(sequence(1, size(toks) - 2),
      |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
      |END)""".stripMargin

  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", tokens(col("text")))

  /** (doc_id, text) globally sorted by doc_id. Every per-document map
    * query in this module sorts FIRST and projects its heavy
    * regex/HOF work above the range exchange: the exchange samples its
    * child to pick partition bounds, so anything computed below the
    * sort runs twice (see Curation.curPiiRedact's Scaladoc for the
    * measured effect).
    */
  private def sortedDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace split + a BPE-ish word/punct regex. */
  def textTokenCount(s: SparkSession, d: String): DataFrame =
    withToks(sortedDocs(s, d))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)")).cast("long").as("n_re_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"))

  // Deterministic stopword groups for the heuristic language-ID.
  val stopEn: Seq[String] = Seq("the", "a")
  val stopSql: Seq[String] = Seq("join", "group", "order", "sort")
  val stopData: Seq[String] = Seq("row", "column", "table", "data")

  private[graft] def hitCount(group: Seq[String]): Column = {
    val inList = group.map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(toks, t -> t IN ($inList)))").cast("long")
  }

  /** n-gram/stopword-profile language ID: score three deterministic
    * profiles, argmax with a fixed priority tie-break. (The corpus
    * vocabulary is language-independent, so this is a self-consistent
    * deterministic classifier, not a model.)
    */
  def textLangid(s: SparkSession, d: String): DataFrame =
    withToks(sortedDocs(s, d))
      .select(col("doc_id"),
        hitCount(stopEn).as("c_en"),
        hitCount(stopSql).as("c_sql"),
        hitCount(stopData).as("c_data"))
      .withColumn("predicted_lang",
        when(col("c_en") >= col("c_sql") && col("c_en") >= col("c_data"), "en")
          .when(col("c_sql") >= col("c_data"), "sql")
          .otherwise("data"))

  /** Paragraph-level language ID + per-document mixture entropy — the
    * code-switching / mixed-language detection pass: a multilingual
    * curation pipeline scores language per PARAGRAPH (not per doc)
    * because boilerplate/navigation blocks routinely disagree with
    * the body, and routes documents by the mixture, not the majority.
    * Blocks are [[graft.operators.Dedup.paraBlocks]] (the shared
    * "paragraph" extraction); each block votes with the same
    * three-profile argmax as [[textLangid]]; per doc we emit the
    * block-language counts, the majority language (same fixed
    * tie-break), and the Shannon entropy of the block-language
    * distribution (0 = monolingual; > 0 = mixed). Entropy terms are
    * exact rationals of integer counts combined in a fixed written
    * order on both engines, so no FP-order nondeterminism.
    *
    * Scale shape: block extraction and scoring are one map-side pass;
    * the only shuffle is the doc_id aggregation (map-side partial).
    */
  def textLangidParagraph(s: SparkSession, d: String): DataFrame = {
    val scored = Dedup.paraBlocks(s, d)
      .withColumn("toks", tokens(col("block")))
      .select(col("doc_id"),
        hitCount(stopEn).as("c_en"),
        hitCount(stopSql).as("c_sql"),
        hitCount(stopData).as("c_data"))
      .withColumn("blang",
        when(col("c_en") >= col("c_sql") && col("c_en") >= col("c_data"), "en")
          .when(col("c_sql") >= col("c_data"), "sql")
          .otherwise("data"))
    def ent(c: Column, n: Column): Column =
      when(c > 0, -(c.cast("double") / n) * log2(c.cast("double") / n))
        .otherwise(lit(0.0))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("blang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("blang") === "sql", 1L).otherwise(0L)).as("n_sql"),
        sum(when(col("blang") === "data", 1L).otherwise(0L)).as("n_data"))
      .select(col("doc_id"), col("n_blocks"), col("n_en"), col("n_sql"), col("n_data"),
        when(col("n_en") >= col("n_sql") && col("n_en") >= col("n_data"), "en")
          .when(col("n_sql") >= col("n_data"), "sql")
          .otherwise("data").as("doc_lang"),
        round(ent(col("n_en"), col("n_blocks"))
          + ent(col("n_sql"), col("n_blocks"))
          + ent(col("n_data"), col("n_blocks")), 6).as("mix_entropy"))
      .withColumn("is_mixed", (col("mix_entropy") > 0).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length score, stopword ratio, distinct-token
    * ratio, and a weighted composite.
    */
  def textQualityScore(s: SparkSession, d: String): DataFrame =
    withToks(
      Tables.documents(s, d).select(col("doc_id"), col("text"), col("n_chars"))
        .orderBy(col("doc_id")))
      .withColumn("nt", size(col("toks")).cast("double"))
      .withColumn("len_score", least(col("n_chars") / lit(500.0), lit(1.0)))
      .withColumn("stop_ratio", hitCount(stopEn) / col("nt"))
      .withColumn("uniq_ratio", size(array_distinct(col("toks"))) / col("nt"))
      // Per-row scalar floats are emitted unrounded: the expression
      // tree is identical on both engines, so the doubles are
      // bit-identical — rounding would only reintroduce half-boundary
      // representation mismatches.
      .select(col("doc_id"),
        col("len_score"),
        col("stop_ratio"),
        col("uniq_ratio"),
        (lit(0.4) * col("len_score") + lit(0.3) * (lit(1.0) - col("stop_ratio"))
          + lit(0.3) * col("uniq_ratio")).as("quality_score"))

  /** Document fingerprinting: md5 over the sorted distinct token bag
    * (order-insensitive content identity), plus a 16-bit bucket prefix
    * usable as a shard key at scale.
    */
  def textFingerprint(s: SparkSession, d: String): DataFrame =
    withToks(sortedDocs(s, d))
      .withColumn("fingerprint", md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))))
      .select(col("doc_id"), col("fingerprint"),
        substring(col("fingerprint"), 1, 4).as("bucket"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"))

  /** Corpus n-gram statistics: document frequency of every distinct
    * 3-gram, top 50 (deterministic tie-break on the shingle text) —
    * the frequency-dictionary shape used for stop-shingle detection
    * at scale.
    *
    * Shingling is a typed per-document kernel (one pass, doc-local
    * HashSet dedup), not the shared `shingled()` + explode subtree:
    * that subtree's materialization barrier ships every document's
    * FULL shingle array (≈3× the text bytes) through an exchange
    * before exploding, which the pair-join consumers need (they probe
    * the array twice) but a pure counting pass does not. The kernel
    * explodes in place, so the only exchange is the count
    * aggregation's — and that one moves only per-partition DISTINCT
    * grams after the partial agg. Gram text and order match
    * [[shingleExpr]] exactly (split-on-space incl. empties, first-
    * occurrence dedup), so the oracle is unchanged. The remaining cost
    * (~2.3s warm at sf0.1 vs DuckDB's 1.0s) IS the gram-count
    * shuffle — the grams are mostly corpus-unique, so no partial
    * aggregation can shrink it; a ~2x gap on a full string
    * aggregation is engine overhead, not a plan defect.
    */
  def textNgramFreq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      // split-parallelism for the single-file local scan, on the raw
      // (doc_id, text) rows — the cheapest form the corpus has
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        // null-text docs contribute no grams (mirrors shingleArrays'
        // null ⇒ null guard; current corpora have none, but a kernel
        // must not NPE the task on one bad row)
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < 3) Iterator.empty
        else {
          val seen = new java.util.HashSet[String]()
          (0 to t.length - 3).iterator
            .map(i => t(i) + " " + t(i + 1) + " " + t(i + 2))
            .filter(seen.add)
        }
      }
      .toDF("ngram")
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram").asc)
      .limit(50)
  }

  /** OOV cut for [[textLmScore]], as a fraction of the mean token
    * frequency (self-calibrating across SFs: the threshold is computed
    * from the corpus's own totals, not a row-count constant).
    */
  val OovMeanFrac = 0.5

  /** Unigram-LM document scoring — the C4/CCNet-style "perplexity
    * filter" signal: fit a unigram language model on the corpus itself
    * (token → corpus frequency), then score every document by its
    * cross-entropy under that model, `xent = log2(N) − avg(log2 c)` =
    * −avg log2 p(tok). High xent = rare-token-heavy document (garbled
    * or off-distribution); low = boilerplate. Also emits the exact
    * integer/rational signals a keep-rule would actually cut on:
    * `rarest_c` (corpus frequency of the doc's rarest token) and
    * `oov_frac` (fraction of tokens rarer than [[OovMeanFrac]] × the
    * corpus mean frequency — an exact ratio of counts, no float
    * drift).
    *
    * Scale shape: the model is the token-frequency table — vocabulary-
    * sized, aggregated with map-side partials, and BROADCAST back onto
    * the exploded token stream (a 100 TB corpus's vocabulary is
    * megabytes; ship the model to the data, never shuffle the corpus
    * by token). The only corpus-sized shuffle is the per-document
    * re-aggregation on `doc_id`. `xent` is rounded to 6 decimals: the
    * division/multiplication chain is bit-identical across engines but
    * `log2` is correctly-rounded only per-libm, and the doc-level
    * float sum runs in engine-specific order.
    */
  def textLmScore(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    // the corpus totals ride the broadcast-destined vocab table as
    // unpartitioned window sums (single-node by definition once it
    // broadcasts) instead of a separate scalar aggregate + crossJoin —
    // two fewer scheduled jobs; long-integer sums, so bit-identical
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .withColumn("n_total", sum(col("c")).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
      .withColumn("vocab", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
    toks.join(broadcast(freq), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        min(col("c")).as("rarest_c"),
        (sum(when(col("c") < lit(OovMeanFrac) * col("n_total") / col("vocab"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("oov_frac"),
        round(log2(max(col("n_total"))) - avg(log2(col("c"))), 6).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Absolute discount for [[textLmKnScore]] — the standard 0.75 of
    * the interpolated Kneser-Ney literature (Chen & Goodman 1998). */
  val KnDiscount = 0.75

  /** Interpolated Kneser-Ney bigram LM scoring — the standard n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1998) behind
    * KenLM-style quality filters (CCNet buckets documents by exactly
    * this kind of LM perplexity). Complements [[textLmScore]]'s
    * unigram cross-entropy with a real conditional model:
    *
    *   P(w2|w1) = (c(w1 w2) − D)⁺ / c(w1 ·)
    *            + D · N₁₊(w1 ·) / c(w1 ·) · N₁₊(· w2) / T
    *
    * where N₁₊ are distinct-continuation / distinct-context type
    * counts and T the total bigram type count — the "how many contexts
    * has w2 appeared in" continuation probability that makes KN the
    * empirically best fixed-discount smoother. The model is fit on the
    * corpus itself and every document scored by mean −log₂ P over its
    * bigrams (positions 2..n).
    *
    * Scale shape: bigram extraction is the [[textPmiBigrams]] typed
    * kernel (one pass, all occurrences); the model tables are ONE
    * bigram-type aggregation (the only corpus-sized shuffle) from
    * which both N₁₊ tables and c(w1 ·) derive as vocabulary-sized
    * aggregates (broadcast); scoring joins the token stream to the
    * per-TYPE probability table — shuffled-hash on (w1, w2) with the
    * type table as the per-partition build side (measured 1.44 →
    * 1.12 s warm at sf0.1 vs sort-merge: the corpus-stream sort was
    * the cost), never a broadcast of the bigram-type table, which at
    * web scale is far larger than the vocabulary — then re-aggregates
    * per doc_id.
    */
  def textLmKnScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stream = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < 2) Iterator.empty
        else (0 until t.length - 1).iterator.map(i => (id, t(i), t(i + 1)))
      }
      .toDF("doc_id", "w1", "w2")
      // the bigram stream feeds BOTH the model fit and the scoring
      // join; materialize the kernel's output once (multi-consumer
      // lambda intermediates can't be canonicalized by ReuseExchange);
      // lazy so no job is scheduled at plan-construction time
      .localCheckpoint(eager = false)
    val bc = stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    // T = |bigram types| = Σ_w1 N₁₊(w1 ·), so it rides the broadcast
    // fwd table as an unpartitioned window sum (exact long arithmetic)
    // instead of a separate count + crossJoin
    val fwd = bc.groupBy(col("w1"))
      .agg(sum(col("c_ab")).as("c1"), count(lit(1)).as("n1f"))
      .withColumn("t_types", sum(col("n1f")).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
    val rev = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val ptype = bc
      .join(broadcast(fwd), "w1")
      .join(broadcast(rev), "w2")
      .select(col("w1"), col("w2"),
        ((greatest(col("c_ab") - lit(KnDiscount), lit(0.0)) +
          lit(KnDiscount) * col("n1f") * (col("n1r") / col("t_types"))) / col("c1"))
          .as("p_kn"))
    stream.join(ptype.hint("shuffle_hash"), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log2(col("p_kn"))), 6).as("xent_kn"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated TRIGRAM Kneser-Ney with backoff through the bigram
    * level to the unigram continuation distribution — the order
    * production perplexity filters actually run (CCNet/KenLM are
    * 5-gram; order 3 exercises every backoff mechanism — highest-order
    * counts, continuation counts at the middle level, type-based
    * backoff weights — with one recursion step instead of three):
    *
    *   P(w3|w1 w2) = (c(w1w2w3) − D)⁺ / c(w1w2·)
    *               + D · N₁₊(w1w2·) / c(w1w2·) · P(w3|w2)
    *   P(w3|w2)    = (N₁₊(·w2w3) − D)⁺ / N₁₊(·w2·)
    *               + D · N₁₊(w2·) / N₁₊(·w2·) · N₁₊(·w3) / T
    *
    * (Chen & Goodman 1998 eq. 4.17-4.19; lower orders use TYPE
    * counts, not token counts — the Kneser-Ney insight.)
    *
    * Scale shape: the trigram kernel stream is extracted once and
    * checkpointed (the [[textLmKnScore]] pattern); the ONLY
    * corpus-sized shuffle is the trigram-TYPE aggregation. Every
    * model table derives from that type table: the bigram type set is
    * the union of the trigram types' (w1,w2) and (w2,w3) projections
    * (type-table-sized distinct — any bigram occurrence in a ≥3-token
    * document sits inside some trigram, so only 2-token documents are
    * invisible, and those produce no scoreable trigram anyway), the
    * continuation/context tables are type- or vocabulary-sized
    * aggregates, vocabulary-sized ones broadcast, type-sized ones
    * join shuffled-hash. Scoring joins the token stream to the
    * per-TYPE probability table — shuffled-hash, never a broadcast of
    * a table that is far larger than the vocabulary at web scale.
    *
    * Boundary note: no sentence padding (like [[textLmKnScore]]), so
    * backoff mass at document edges is approximate — the standard
    * trade of unpadded corpus filters; docs with < 3 tokens have no
    * trigram and are absent from the output.
    */
  /** xxhash64 of each space-delimited token, computed directly over
    * the document's UTF-8 bytes — `split(" ", -1)` semantics (single
    * space delimiter, empty tokens kept) WITHOUT allocating a String
    * and a re-encoded byte[] per token: 0x20 never occurs inside a
    * multi-byte UTF-8 sequence, so byte-level splitting is exact, and
    * each token hashes as the same byte slice the per-String path
    * hashed (identical values, so the DuckDB oracles are unaffected).
    * Returns null when the document has fewer than `minTokens` tokens
    * (callers emit no grams for it). */
  private[graft] def tokenHashes(text: String, minTokens: Int): Array[Long] = {
    // the legacy single-channel API: the primary channel of the pair
    // kernel (spec-anchored against a per-String reference hash in
    // TextCurationSpec, which therefore also anchors the pair path)
    val tp = tokenHashPairs(text, minTokens)
    if (tp == null) null else tp._1
  }

  /** Second-channel seed for the 128-bit token keys (an arbitrary odd
    * constant; any seed ≠ 42 gives an independent xxhash64 channel).
    */
  private[graft] val TokenSalt = 1337L

  /** [[tokenHashes]] widened to a 128-bit key per token: ONE byte
    * scan computing TWO independently-seeded xxhash64 channels (seeds
    * 42 and [[TokenSalt]]). Two distinct tokens collide only when
    * BOTH 64-bit channels collide simultaneously (~2⁻¹²⁸ per pair) —
    * at web-scale vocabularies (10⁹-10¹⁰ types) a single 64-bit
    * channel collides with probability ~3-270%, which is why every
    * type table keys on the pair. Returns (primary, salted) arrays,
    * or null below `minTokens`.
    */
  private[graft] def tokenHashPairs(
      text: String, minTokens: Int): (Array[Long], Array[Long]) = {
    if (text == null) return null
    val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val n = spaces + 1
    if (n < minTokens) return null
    val th = new Array[Long](n)
    val ts = new Array[Long](n)
    var start = 0
    var k = 0
    i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        th(k) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
        ts(k) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, i - start, TokenSalt)
        k += 1
        start = i + 1
      }
      i += 1
    }
    (th, ts)
  }

  /** (primary, salt) column-name groups → columns, shared by the
    * kn3/kn5 fits. */
  private def knCols(ks: Seq[String]*): Seq[Column] = ks.flatten.map(col)

  def textLmKn3Score(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = KnDiscount
    // tokens leave the kernel as 128-bit (primary wᵢ, salted sᵢ)
    // xxhash64 PAIRS carried as two primitive long columns per
    // position (see [[textLmKn5Score]] — the string-keyed type
    // aggregation and projections were the dominant cost; the pair
    // retires the 64-bit type-collision caveat, and flat longs rather
    // than one struct keep HashAggregate's codegen'd fast hash map,
    // which struct grouping keys skip — measured +19% here)
    val stream = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val tp = tokenHashPairs(text, 3)
          if (tp == null) Iterator.empty
          else {
            val (a, b) = tp
            (0 until a.length - 2).iterator.map(i =>
              (id, a(i), b(i), a(i + 1), b(i + 1), a(i + 2), b(i + 2)))
          }
        }
      }
      .toDF("doc_id", "w1", "s1", "w2", "s2", "w3", "s3")
      .localCheckpoint(eager = false)
    val k1 = Seq("w1", "s1"); val k2 = Seq("w2", "s2"); val k3 = Seq("w3", "s3")
    def cols(ks: Seq[String]*): Seq[Column] = knCols(ks: _*)
    // the one corpus-sized shuffle: trigram types — materialized once
    // (six consumers would each re-run the corpus aggregation; the
    // kn5 measurement showed the cascade multiplying)
    val tc = stream.groupBy(cols(k1, k2, k3): _*).agg(count(lit(1)).as("c_abc"))
      .localCheckpoint(eager = false)
    // The kn5 exchange economy applied one order down (two tagged
    // aggregations, explode fan-out — see [[textLmKn5Score]]): the
    // token-count tables (ctx/mid/midctx) and the bigram TYPE SET
    // (both trigram projections under one tag, so the groupBy dedups
    // across them) ride ONE stage-1 aggregation over one scan of tc;
    // the set-derived fan2/rev continuation counts ride ONE stage-2
    // aggregation over the deduped set. r11 paid a btypes distinct()
    // + checkpoint + five separate aggregation exchanges.
    val nl = lit(null).cast("long")
    val KL = Seq("g1", "h1", "g2", "h2")
    def tagged(tg: Int, ks: Seq[Seq[String]], wt: Column): Column = {
      val flat = ks.flatten.map(col) ++ Seq.fill(4 - 2 * ks.length)(nl)
      struct(lit(tg).as("tg") +: flat.zip(KL).map { case (c, n) => c.as(n) } :+
        wt.as("wt"): _*)
    }
    val cnts1 = tc.select(explode(array(
        tagged(1, Seq(k1, k2), col("c_abc")),
        tagged(2, Seq(k2, k3), lit(1L)),
        tagged(3, Seq(k2), lit(1L)),
        tagged(4, Seq(k1, k2), lit(1L)),
        tagged(4, Seq(k2, k3), lit(1L)))).as("r"))
      .select(col("r.*"))
      .groupBy(col("tg") +: KL.map(col): _*)
      .agg(count(lit(1)).as("c"), sum(col("wt")).as("s"))
      .localCheckpoint(eager = false)
    def reproj(tg: Int, i: Int): Column =
      struct(lit(tg).as("tg"), col(s"g$i").as("g1"), col(s"h$i").as("h1"),
        nl.as("g2"), nl.as("h2"))
    val cnts2 = cnts1.filter(col("tg") === 4)
      .select(explode(array(reproj(11, 1), reproj(12, 2))).as("r"))
      .select(col("r.*"))
      .groupBy(col("tg"), col("g1"), col("h1"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    def slice2(from: DataFrame, tg: Int, names: Seq[String], cName: String): DataFrame =
      from.filter(col("tg") === tg)
        .select(names.zipWithIndex.flatMap { case (n, i) =>
          Seq(col(s"g${i + 1}").as(n), col(s"h${i + 1}").as("s" + n.drop(1))) } :+
          col("c").as(cName): _*)
    // T = |bigram types| = Σ N₁₊(w2 ·) rides the broadcast fan2 slice
    // as an unpartitioned window sum (exact long arithmetic) instead
    // of a separate scalar aggregate + crossJoin
    val fan2 = slice2(cnts2, 11, Seq("w2"), "n1f2")  // N₁₊(w2 ·)
      .withColumn("t_types", sum(col("n1f2")).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
    val rev = slice2(cnts2, 12, Seq("w3"), "n1r")    // N₁₊(· w3)
    val ctx = cnts1.filter(col("tg") === 1)          // c(w1w2·), N₁₊(w1w2·)
      .select(col("g1").as("w1"), col("h1").as("s1"),
        col("g2").as("w2"), col("h2").as("s2"),
        col("s").as("c12"), col("c").as("n1f12"))
    val mid = slice2(cnts1, 2, Seq("w2", "w3"), "n1l")   // N₁₊(· w2w3)
    val midctx = slice2(cnts1, 3, Seq("w2"), "nmid")     // N₁₊(· w2 ·)
    val ptype = tc
      .join(ctx.hint("shuffle_hash"), k1 ++ k2)
      .join(mid.hint("shuffle_hash"), k2 ++ k3)
      .join(broadcast(midctx), k2)
      .join(broadcast(fan2), k2)
      .join(broadcast(rev), k3)
      .select(cols(k1, k2, k3) :+
        ((greatest(col("c_abc") - lit(D), lit(0.0)) +
          lit(D) * col("n1f12") *
            ((greatest(col("n1l") - lit(D), lit(0.0)) +
              lit(D) * col("n1f2") * (col("n1r") / col("t_types"))) / col("nmid"))) /
          col("c12")).as("p_kn3"): _*)
    stream.join(ptype.hint("shuffle_hash"), k1 ++ k2 ++ k3)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        round(-avg(log2(col("p_kn3"))), 6).as("xent_kn3"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated 5-GRAM Kneser-Ney with backoff through orders
    * 4 → 3 → 2 to the unigram continuation distribution — the order
    * production perplexity filters ACTUALLY run (CCNet's KenLM models
    * are 5-gram; [[textLmKn3Score]] exercises the recursion with one
    * step, this is the full production depth):
    *
    *   P₅(w₅|w₁..₄) = (c(w₁..₅) − D)⁺ / c(w₁..₄·)
    *                + D · N₁₊(w₁..₄·) / c(w₁..₄·) · P₄(w₅|w₂..₄)
    *   Pₖ(w|ctx)    = (N₁₊(·ctx w) − D)⁺ / N₁₊(·ctx ·)
    *                + D · N₁₊(ctx ·) / N₁₊(·ctx ·) · Pₖ₋₁(w|ctx')
    *     for k = 4, 3, 2 (lower orders use TYPE counts throughout —
    *     Chen & Goodman 1998 eq. 4.17-4.19)
    *
    * Scale shape (the [[textLmKn3Score]] posture extended): the ONLY
    * corpus-sized shuffle is the 5-gram-TYPE aggregation; every model
    * table derives from it — the order-k type sets are the two
    * projections of the order-(k+1) type set (any lower-order gram in
    * a ≥5-token document sits inside some 5-gram; shorter documents
    * produce no scoreable 5-gram and are absent, the standard
    * unpadded-filter trade), continuation/context tables keyed by ≥2
    * tokens join shuffled-hash (at web scale they are far larger than
    * the vocabulary), single-token tables broadcast. Scoring joins
    * the token stream to the per-TYPE probability table on the full
    * 5-gram key — shuffled-hash, type table build side — then
    * re-aggregates per doc_id.
    *
    * Measured floor: a 4-level backoff fit is inherently a dozen-plus
    * Spark stages (the two tagged fit aggregations + per-level joins);
    * the r12 explode-fan-out form (ALL type sets ride stage 1, ALL
    * set-derived counts plus the three N₁₊(·ctx·) middles ride
    * stage 2 — r11 paid a 3-deep distinct() cascade plus three nmid
    * re-aggregations) measures 2.7 s warm at sf0.1 vs the ~1.3 s
    * single-process DuckDB oracle, and AMORTIZES with data: at 10×
    * (tmp/sf1probe, idle host) the engine crosses below the oracle —
    * the same crossover the repo's other multi-stage designs (q37,
    * dedup_substring) show at scale.
    */
  def textLmKn5Score(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = KnDiscount
    // Tokens leave the kernel as 128-bit (primary wᵢ, salted sᵢ)
    // xxhash64 PAIRS, never strings (the shuffle-key discipline of
    // the dedup family): ten model joins and three type-set distincts
    // all key on fixed-width longs — with string keys the t5
    // aggregation alone cost 1.1 s and the b4 projection 2.6 s at
    // sf0.1. Two word types merge only on a simultaneous two-channel
    // collision (~2⁻¹²⁸ per pair — negligible at any corpus size),
    // retiring the single-channel 64-bit caveat. The channels ride as
    // two PRIMITIVE long columns per position, not one struct: struct
    // grouping keys skip HashAggregate's codegen'd fast hash map
    // (A/B at sf0.1: struct keys +28% on this row, flat longs within
    // noise of the old single-channel key).
    val stream = Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val tp = tokenHashPairs(text, 5)
          if (tp == null) Iterator.empty
          else {
            val (a, b) = tp
            (0 until a.length - 4).iterator.map(i =>
              (id, a(i), b(i), a(i + 1), b(i + 1), a(i + 2), b(i + 2),
                a(i + 3), b(i + 3), a(i + 4), b(i + 4)))
          }
        }
      }
      .toDF("doc_id", "w1", "s1", "w2", "s2", "w3", "s3", "w4", "s4", "w5", "s5")
      // deliberately NOT checkpointed (unlike [[textLmKnScore]]): the
      // two consumers (the t5 fit and the scoring join) each re-run
      // the tokenizer in their own map side (~0.3 s at sf0.1), but the
      // r11 checkpoint was a SERIAL job on the critical path before
      // any model stage could start — the re-tokenize rides INSIDE
      // already-scheduled exchange map stages, so wall-clock wins.
      // (A collect_list(doc_id) payload on t5 — which would drop the
      // second pass entirely — measured slower still: the list
      // aggregation forces ObjectHashAggregate's sort-based fallback
      // on the one corpus-sized exchange.)
    // (primary, salt) column-name pairs per position / projection slot
    val K1 = Seq("w1", "s1"); val K2 = Seq("w2", "s2"); val K3 = Seq("w3", "s3")
    val K4 = Seq("w4", "s4"); val K5 = Seq("w5", "s5")
    def cols(ks: Seq[String]*): Seq[Column] = knCols(ks: _*)
    // the one corpus-sized shuffle: 5-gram types with token counts.
    // Each model table below is MATERIALIZED once: t5 feeds ~6
    // consumers and each projection level feeds 4-5 more, so without
    // the checkpoints the recompute cascades multiplicatively
    // (b2 → b3 → b4 → t5 re-aggregates the corpus per consumer —
    // measured 16 s vs 3 s at sf0.1). All four are TYPE-sized model
    // tables, the thing a production fit would persist anyway.
    // THIRD rejected exchange-economy design (r13, same-process
    // min-of-3): building t5 on a (K1..K4)-prefix exchange and
    // stamping that partitioning on the checkpoint
    // (GraftColumnBridge.localCheckpointHashPartitioned) does make
    // ctx4's aggregation and the ptype join exchange-free, but
    // measured 4.03 s vs 3.46 s — the prefix repartition exchanges
    // RAW occurrences (forfeiting the groupBy's map-side partial
    // collapse) and the stamped checkpoint must build EAGERLY as a
    // serial job before any consumer starts. With the two earlier
    // rejected designs documented below, the row is closed as
    // floor-bound at sf0.1; its sub-baseline 10x crossover (0.59x)
    // is the scale evidence.
    val t5 = stream.groupBy(cols(K1, K2, K3, K4, K5): _*)
      .agg(count(lit(1)).as("c5"))
      .localCheckpoint(eager = false)
    // Exchange economy, the whole game at this table count — the r12
    // TWO-STAGE form (r11 paid a three-deep distinct() cascade b4 →
    // b3 → b2 plus the count union: four serial exchanges and four
    // checkpoint barriers). Key insight: every order-k TYPE SET
    // derives from t5 DIRECTLY — a k-gram inside a 5-gram type sits
    // at one of its 6−k positions — so all three sets ride ONE
    // tagged-union aggregation over projections of t5 (groupBy(tg,
    // slots) IS the per-level distinct; map-side partials collapse
    // the 11 projections before the wire), and all six set-derived
    // N₁₊ count tables ride ONE second tagged aggregation over the
    // deduped sets (exact type counts need the dedup first — two
    // exchanges is the floor without count-distinct Expands). Each
    // N₁₊(·ctx·) then derives from its level's N₁₊(·ctx w) slice by
    // a small second aggregation, and the backoff P tables build
    // BOTTOM-UP (P₂ → P₃ → P₄) so the growing ptype chain
    // re-partitions only twice instead of once per lookup.
    // Projection fan-out by EXPLODE, not union: each stage scans its
    // input exactly ONCE and emits all its tagged projections
    // map-side (the Expand pattern Spark itself uses for grouping
    // sets) — an 11-branch union would re-scan the lazily
    // checkpointed t5 once per branch inside one job, and the
    // concurrent block-lock convoy measured 2-10x on this row under
    // suite memory pressure. Key slots: (k1, l1) … (k4, l4) —
    // primary + salt per slot.
    val nl = lit(null).cast("long")
    val KL = Seq("k1", "l1", "k2", "l2", "k3", "l3", "k4", "l4")
    def tagged(tg: Int, ks: Seq[Seq[String]]): Column = {
      val flat = ks.flatten.map(col) ++ Seq.fill(8 - 2 * ks.length)(nl)
      struct(lit(tg).as("tg") +: flat.zip(KL).map { case (c, n) => c.as(n) }: _*)
    }
    // stage 1: ONLY the three type SETS explode (tags 3-5; each tag
    // carries ALL of its level's t5 projections, so the groupBy dedups
    // across projections in the same exchange). The token-COUNT tables
    // (ctx4 / n1l4 / nmid4) don't need the dedup, so they left the
    // explode (r12: −25% fan-out volume) and aggregate straight off
    // the t5 checkpoint as three independent exchanges that the final
    // DAG schedules CONCURRENTLY — and with them gone the set table
    // has a single consumer (stage 2), so its checkpoint (a serial
    // job on the critical path) disappears too.
    val u1 = t5.select(explode(array(
        tagged(3, Seq(K1, K2, K3, K4)),
        tagged(3, Seq(K2, K3, K4, K5)),
        tagged(4, Seq(K1, K2, K3)),
        tagged(4, Seq(K2, K3, K4)),
        tagged(4, Seq(K3, K4, K5)),
        tagged(5, Seq(K1, K2)),
        tagged(5, Seq(K2, K3)),
        tagged(5, Seq(K3, K4)),
        tagged(5, Seq(K4, K5)))).as("r"))
      .select(col("r.*"))
    val cnts1 = u1.groupBy(col("tg") +: KL.map(col): _*)
      .agg(count(lit(1)).as("nproj"))
    // stage 2: the six set-derived N₁₊ tables — prefix/suffix
    // projections of the three deduped sets, one tagged aggregation
    // over ONE scan of cnts1 (conditional explode per source tag)
    // ch: same-KEY tables ride the same group and land as two count
    // COLUMNS of one row (tg 23: N₁₊(w3w4 ·) / N₁₊(· w3w4 ·); tg 24:
    // N₁₊(w4 ·) / N₁₊(· w4 ·)) — each pair previously joined as two
    // separate tables (one extra shuffled join in p3, one extra
    // broadcast build in p2). Every key reachable from the n1l frame
    // that drives the consuming inner join provably has BOTH channels
    // (its 3-gram/4-gram witness contains the pair/middle), so the
    // pivot cannot change join cardinality.
    def reproj(tg: Int, ch: Int, idx: Seq[Int]): Column = {
      val slots = idx.map(i => col(s"k$i")) ++ Seq.fill(4 - idx.length)(nl)
      val salts = idx.map(i => col(s"l$i")) ++ Seq.fill(4 - idx.length)(nl)
      val flat = slots.zip(salts).flatMap { case (k, l) => Seq(k, l) }
      struct(lit(tg).as("tg") +: lit(ch).as("ch") +:
        flat.zip(KL).map { case (c, n) => c.as(n) }: _*)
    }
    val u2 = cnts1
      .select(explode(
        when(col("tg") === 3,
            array(reproj(11, 0, Seq(1, 2, 3)), reproj(12, 0, Seq(2, 3, 4)),
              reproj(23, 1, Seq(2, 3))))
          .when(col("tg") === 4,
            array(reproj(23, 0, Seq(1, 2)), reproj(14, 0, Seq(2, 3)),
              reproj(24, 1, Seq(2))))
          .otherwise(array(reproj(24, 0, Seq(1)), reproj(16, 0, Seq(2))))).as("r"))
      .select(col("r.*"))
    val cnts2 = u2.groupBy(col("tg") +: KL.map(col): _*)
      .agg(count(when(col("ch") === 0, 1)).as("c"),
        count(when(col("ch") === 1, 1)).as("c1"))
      .localCheckpoint(eager = false)
    // slice(frame, tg, primary names): selects each slot's (kᵢ, lᵢ)
    // pair back to its (wᵢ, sᵢ) position names
    def slice(from: DataFrame, tg: Int, names: Seq[String]): DataFrame =
      from.filter(col("tg") === tg)
        .select(names.zipWithIndex.flatMap { case (n, i) =>
          Seq(col(s"k${i + 1}").as(n), col(s"l${i + 1}").as("s" + n.drop(1))) } :+
          col("c"): _*)
    // level 5 (token counts): c(w1..4 ·), N₁₊(w1..4 ·) — plain
    // aggregations of the t5 checkpoint (no dedup needed), scheduled
    // concurrently by the final DAG
    val ctx4 = t5.groupBy(cols(K1, K2, K3, K4): _*)
      .agg(sum(col("c5")).as("c1234"), count(lit(1)).as("n1f1234"))
    // level 4 (type counts): N₁₊(· w2345); N₁₊(· w234 ·) = |t5 types
    // per middle triple| (same value as Σ_w5 N₁₊(·w2345))
    val n1l4 = t5.groupBy(cols(K2, K3, K4, K5): _*)
      .agg(count(lit(1)).as("n1l4"))
    val nmid4 = t5.groupBy(cols(K2, K3, K4): _*)
      .agg(count(lit(1)).as("nmid4"))
    val n1f234 = slice(cnts2, 11, Seq("w2", "w3", "w4"))
      .withColumnRenamed("c", "n1f234")
    // level 3
    val n1l3 = slice(cnts2, 12, Seq("w3", "w4", "w5"))
      .withColumnRenamed("c", "n1l3")
    // (w3,w4)-keyed pair: c = N₁₊(w3w4 ·), c1 = N₁₊(· w3w4 ·)
    val m34 = cnts2.filter(col("tg") === 23)
      .select(col("k1").as("w3"), col("l1").as("s3"),
        col("k2").as("w4"), col("l2").as("s4"),
        col("c").as("n1f34"), col("c1").as("nmid3"))
    // level 2 (the w4-keyed tables are vocabulary-sized → broadcast);
    // pivoted pair: c = N₁₊(w4 ·), c1 = N₁₊(· w4 ·)
    val n1l2 = slice(cnts2, 14, Seq("w4", "w5"))
      .withColumnRenamed("c", "n1l2")
    // T = |bigram types| = Σ N₁₊(w ·) rides the SAME broadcast as the
    // per-w4 pair, as an unpartitioned window sum: the table is
    // vocabulary-sized and broadcast anyway (i.e. single-node by
    // definition), so the one-partition window costs nothing extra and
    // retires the separate scalar aggregate + its broadcast +
    // crossJoin (two scheduled jobs). sum() skips the null channel
    // rows, so t_types equals the old tag-15-slice total exactly.
    val w4tab = cnts2.filter(col("tg") === 24)
      .select(col("k1").as("w4"), col("l1").as("s4"),
        col("c").as("n1f4"), col("c1").as("nmid2"))
      .withColumn("t_types", sum(col("n1f4"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
    val n1r = slice(cnts2, 16, Seq("w5")).withColumnRenamed("c", "n1r")
    val dd = lit(D)
    def disc(c: Column): Column = greatest(c - dd, lit(0.0))
    // bottom-up backoff tables: P₂ needs no shuffled join at all
    val p2 = n1l2
      .join(broadcast(w4tab), K4)
      .join(broadcast(n1r), K5)
      .select(cols(K4, K5) :+
        ((disc(col("n1l2")) + dd * col("n1f4") * (col("n1r") / col("t_types"))) /
          col("nmid2")).as("p2"): _*)
    val p3 = n1l3
      .join(m34.hint("shuffle_hash"), K3 ++ K4)
      .join(p2.hint("shuffle_hash"), K4 ++ K5)
      .select(cols(K3, K4, K5) :+
        ((disc(col("n1l3")) + dd * col("n1f34") * col("p2")) / col("nmid3")).as("p3"): _*)
    val p4 = n1l4
      .join(nmid4.hint("shuffle_hash"), K2 ++ K3 ++ K4)
      .join(n1f234.hint("shuffle_hash"), K2 ++ K3 ++ K4)
      .join(p3.hint("shuffle_hash"), K3 ++ K4 ++ K5)
      .select(cols(K2, K3, K4, K5) :+
        ((disc(col("n1l4")) + dd * col("n1f234") * col("p3")) / col("nmid4")).as("p4"): _*)
    val ptype = t5
      .join(ctx4.hint("shuffle_hash"), K1 ++ K2 ++ K3 ++ K4)
      .join(p4.hint("shuffle_hash"), K2 ++ K3 ++ K4 ++ K5)
      .select(cols(K1, K2, K3, K4, K5) :+
        ((disc(col("c5")) + dd * col("n1f1234") * col("p4")) / col("c1234")).as("p_kn5"): _*)
    stream.join(ptype.hint("shuffle_hash"), K1 ++ K2 ++ K3 ++ K4 ++ K5)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams5"),
        round(-avg(log2(col("p_kn5"))), 6).as("xent_kn5"))
      .orderBy(col("doc_id"))
  }

  val PmiMinCount = 5 // min bigram occurrences for a collocation row
  val PmiTopK = 40

  /** Bigram collocations by pointwise mutual information —
    * `pmi = log2( p(w1 w2) / (p(w1)·p(w2)) )` over corpus unigram and
    * bigram counts — the classic collocation/phrase-mining signal
    * (Church & Hanks 1990) used to decide which token pairs merge into
    * phrase units. Top [[PmiTopK]] by (rounded pmi desc, w1, w2) among
    * bigrams seen ≥ [[PmiMinCount]] times.
    *
    * Bigram extraction is a typed per-document kernel (one pass,
    * all occurrences — NOT distinct, unlike the shingle path): a
    * higher-order-function form would stay interpreted forever (HOF
    * lambdas never enter codegen, SURVEY §8a). Both count tables are
    * vocabulary²-bounded aggregates with map-side partials; the two
    * probability joins broadcast the unigram table (vocabulary-sized),
    * so nothing corpus-sized shuffles except the bigram count
    * aggregation itself.
    */
  def textPmiBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val uni = docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val bi = docs.select(col("doc_id"), col("text"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < 2) Iterator.empty
        else (0 until t.length - 1).iterator.map(i => (t(i), t(i + 1)))
      }
      .toDF("w1", "w2")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    // Σ c_ab needs no job of its own: every document contributes
    // exactly (n_tokens − 1) bigrams (split(" ") is never empty, so
    // len ≥ 1 and the identity is exact for len = 1 docs too), hence
    // n_bi = n_uni − n_docs with n_docs a driver-side parquet-footer
    // count — one scheduled aggregation instead of two.
    val nDocs = Tables.parquetRowCount(s, d, "documents").toDouble
    // n_uni (and n_bi = n_uni − n_docs) ride the w1-side broadcast
    // vocab table as an unpartitioned window sum (exact long
    // arithmetic) instead of a separate scalar aggregate + crossJoin
    val uniA = uni.select(col("tok").as("w1"), col("c").as("ca"))
      .withColumn("n_uni", sum(col("ca")).over(org.apache.spark.sql.expressions.Window.partitionBy()).cast("double"))
      .withColumn("n_bi", col("n_uni") - lit(nDocs))
    bi.filter(col("c_ab") >= PmiMinCount)
      .join(broadcast(uniA), Seq("w1"))
      .join(broadcast(uni.select(col("tok").as("w2"), col("c").as("cb"))), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log2((col("c_ab") / col("n_bi")) /
          ((col("ca") / col("n_uni")) * (col("cb") / col("n_uni")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val LlrMinCount = 5 // min bigram occurrences for an LLR row
  val LlrTopK = 40

  /** Bigram collocations by Dunning's log-likelihood ratio (Dunning
    * 1993) — the collocation test production phrase miners prefer
    * over [[textPmiBigrams]]'s PMI because it does not over-reward
    * rare pairs (PMI is maximal for two hapaxes that co-occur once;
    * LLR weighs the evidence mass). The 2×2 contingency per bigram
    * (w1w2 / w1¬w2 / ¬w1w2 / ¬w1¬w2) uses the EXACT bigram-margin
    * counts — k1• = bigrams starting with w1, k•2 = bigrams ending
    * with w2 — not the unigram approximation, so all four cells are
    * non-negative integers by construction and
    * `llr = 2·(Σ xlx(k_ij) − Σ xlx(rowsum) − Σ xlx(colsum) + xlx(N))`
    * is a per-row scalar over exact integers (xlx(x) = x·ln x,
    * xlx(0) = 0) — both engines evaluate the identical expression
    * tree on identical integers, same discipline as the PMI row's
    * rounded log2.
    *
    * Scale shape: ONE corpus-sized shuffle (the bigram count
    * aggregation, typed one-pass kernel extraction exactly like PMI);
    * both margin tables are vocabulary-bounded re-aggregations OF THE
    * BIGRAM COUNT TABLE (at 100 TB that table is the persisted model
    * artifact and the margins are cheap rollups of it, never corpus
    * rescans) and broadcast into the scoring join; N = Σ c_ab rides
    * the broadcast mA margin table as an unpartitioned window sum —
    * no extra corpus pass for the total either.
    */
  def textLlrBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val bi = docs.select(col("doc_id"), col("text"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .as[(Long, String)]
      .flatMap { case (_, text) =>
        val t = if (text == null) Array.empty[String] else text.split(" ", -1)
        if (t.length < 2) Iterator.empty
        else (0 until t.length - 1).iterator.map(i => (t(i), t(i + 1)))
      }
      .toDF("w1", "w2")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      // three consumers (margins + the scored join) — materialize the
      // bigram-type aggregation once instead of re-running the kernel
      // scan per consumer
      .localCheckpoint(eager = false)
    // n_bi = Σ c_ab = Σ_w1 ka (every document of length L contributes
    // exactly L−1 bigrams), so the grand total rides the broadcast mA
    // table as an unpartitioned window sum — this retires the entire
    // unigram corpus pass (tokenize + explode + aggregate) that
    // previously existed only to compute n_uni − n_docs, plus the
    // scalar aggregate and crossJoin; exact long arithmetic
    val mA = bi.groupBy(col("w1")).agg(sum(col("c_ab")).as("ka"))
      .withColumn("n_bi", sum(col("ka")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val mB = bi.groupBy(col("w2")).agg(sum(col("c_ab")).as("kb"))
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    bi.filter(col("c_ab") >= LlrMinCount)
      .join(broadcast(mA), Seq("w1"))
      .join(broadcast(mB), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"),
        col("c_ab").as("k11"),
        (col("ka") - col("c_ab")).as("k12"),
        (col("kb") - col("c_ab")).as("k21"),
        (col("n_bi") - col("ka") - col("kb") + col("c_ab")).as("k22"),
        col("n_bi"))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(lit(2.0) * (xlx(col("k11")) + xlx(col("k12")) + xlx(col("k21"))
          + xlx(col("k22"))
          - xlx(col("k11") + col("k12")) - xlx(col("k21") + col("k22"))
          - xlx(col("k11") + col("k21")) - xlx(col("k12") + col("k22"))
          + xlx(col("n_bi"))), 4).as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(LlrTopK)
  }

  /** Corpus top-k frequent tokens via the Misra-Gries sketch
    * ([[graft.functions.FreqItems]], a TypedImperativeAggregate).
    *
    * The classic form (`groupBy(token).count()` + global top-k)
    * shuffles one row per DISTINCT token; over a 100 TB corpus the
    * vocabulary makes that a heavy full aggregation when only the
    * head of the distribution is wanted. The sketch keeps an
    * O(capacity) summary per partition and ships `capacity` entries
    * per partition through the shuffle regardless of corpus size.
    * [[FreqItemsCapacity]] >= the corpus vocabulary here, so counts
    * are exact and the query hash-matches the DuckDB groupBy oracle
    * (the same exact-at-test-scale / approximate-at-100TB posture as
    * LSH recall in Dedup).
    */
  def textFreqItems(s: SparkSession, d: String): DataFrame =
    withToks(Tables.documents(s, d))
      .select(explode(col("toks")).as("tok"))
      .agg(graft.functions.FreqItems.freqItems(col("tok"), FreqItemsCapacity, 10).as("top"))
      .select(posexplode(col("top")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).cast("long").as("rank"),
        col("e.item").as("token"), col("e.cnt").as("cnt"))

  val JsdTopK = 20

  /** Token-distribution DRIFT between two corpus slices by per-token
    * Jensen-Shannon divergence contribution — the monitoring report a
    * production pipeline runs between crawls/snapshots to catch
    * vocabulary shift before it poisons a training mix (doc_id parity
    * stands in for the old/new slice split). For token t with slice
    * probabilities p, q and mixture m = (p+q)/2:
    *
    *   contrib(t) = ½·p·log₂(p/m) + ½·q·log₂(q/m)   (0 terms for p,q=0)
    *
    * and Σ_t contrib = JSD(P‖Q) ∈ [0, 1]. The row reports the
    * [[JsdTopK]] highest-contribution tokens with both probabilities —
    * the actionable artifact (WHICH tokens drifted), not just the
    * scalar.
    *
    * Scale shape: ONE corpus-token aggregation (map-side partials)
    * keyed by token with both slice counts as conditional sums; the
    * grand totals are a broadcast scalar pair; the contribution math
    * is pure map-side double arithmetic on exact count ratios.
    * Division is correctly rounded IEEE on both engines (the q34
    * discipline) but log₂ is only ~1-ulp-accurate (java.lang.Math.log
    * vs DuckDB's libm), so a contribution lying exactly on a
    * 6-decimal rounding boundary could round differently cross-engine
    * — the gate is green on the test corpora, and the top-k cut
    * orders by the ROUNDED contribution with EXACT integer (ca, cb)
    * count tie-breaks ahead of the token so equal-rounded rows can
    * never reorder on the float alone.
    */
  def textDriftJsd(s: SparkSession, d: String): DataFrame = {
    val cnt = withToks(Tables.documents(s, d))
      .select((pmod(col("doc_id"), lit(2)) === 0).as("grp"),
        explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("grp"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("grp"), 1L).otherwise(0L)).as("cb"))
      .localCheckpoint(eager = false)
    val tot = cnt.agg(sum(col("ca")).cast("double").as("ta"),
      sum(col("cb")).cast("double").as("tb"))
    def term(p: Column, q: Column): Column =
      when(p > 0, lit(0.5) * p * log2(lit(2.0) * p / (p + q))).otherwise(lit(0.0))
    cnt.crossJoin(broadcast(tot))
      .select(col("token"), col("ca"), col("cb"),
        (col("ca") / col("ta")).as("pa"), (col("cb") / col("tb")).as("pb"))
      .select(col("token"), col("ca"), col("cb"),
        round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
        round(term(col("pa"), col("pb")) + term(col("pb"), col("pa")), 6).as("jsd_contrib"))
      .orderBy(col("jsd_contrib").desc, col("ca").desc, col("cb").desc, col("token"))
      .limit(JsdTopK)
  }

  val CmsRows = 4      // d: independent hash rows (error prob ~ e^-d)
  val CmsWidth = 2048  // w: buckets per row (overestimate ~ N_tokens/w)
  val CmsTopK = 20

  /** Per-row CMS bucket of a token: the md5-hex-prefix hash both
    * engines compute identically (the q38_kmv convention), salted by
    * the row index so the [[CmsRows]] hash functions are independent. */
  private[graft] def cmsBucket(r: Int, tok: Column): Column =
    pmod(conv(substring(md5(concat(lit(s"$r|"), tok)), 1, 12), 16, 10).cast("long"),
      lit(CmsWidth.toLong))

  /** Typed per-partition CMS partial-sketch kernel, shared by the
    * batch build ([[textCmsTopk]]) and the streaming build
    * ([[graft.streaming.Streams.cmsCellsStream]], which runs it per
    * micro-batch): each task counts its tokens locally, hashes each
    * DISTINCT token once (not once per occurrence — the expression
    * form computed d md5s per token occurrence and dominated both
    * rows' cost), accumulates its own d×w partial sketch, and emits
    * at most d·w (r, b, n) cells. Callers merge the partials with a
    * cell-wise `groupBy(r, b).sum(n)` — the cross-shard merge IS the
    * aggregation, and nothing corpus-sized ever reaches the exchange.
    * The 48-bit bucket value is the md5 digest's first 6 bytes
    * big-endian ≡ [[cmsBucket]] ≡ the oracle's
    * CAST('0x' || substring(md5(…), 1, 12) AS BIGINT).
    */
  private[graft] def cmsPartialCells(
      toks: org.apache.spark.sql.Dataset[String]): DataFrame = {
    import toks.sparkSession.implicits._
    toks.mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long]()
      it.foreach(t => counts.put(t, counts.getOrDefault(t, 0L) + 1L))
      val cells = Array.ofDim[Long](CmsRows, CmsWidth)
      val md = java.security.MessageDigest.getInstance("MD5")
      counts.forEach { (t, c) =>
        var r = 0
        while (r < CmsRows) {
          md.reset()
          val dg = md.digest(s"$r|$t".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var h = 0L
          var i = 0
          while (i < 6) { h = (h << 8) | (dg(i) & 0xffL); i += 1 }
          cells(r)((h % CmsWidth).toInt) += c
          r += 1
        }
      }
      for {
        r <- (0 until CmsRows).iterator
        b <- (0 until CmsWidth).iterator
        if cells(r)(b) != 0L
      } yield (r, b.toLong, cells(r)(b))
    }.toDF("r", "b", "n")
  }

  /** Count-Min sketch heavy-hitter estimates (Cormode & Muthukrishnan
    * 2005) — the streaming/sharded counterpart of exact token counts:
    * a fixed d×w count matrix whose cell (r, h_r(x)) accumulates every
    * occurrence of x, with count(x) estimated as min_r over the x's
    * cells — an OVERESTIMATE by construction (collisions only add),
    * within N/w with probability 1-e^-d. Completes the mergeable
    * sketch family (KMV q38, HLL q47/q49, Bloom cur_decontaminate_bloom,
    * Misra-Gries text_freq_items): two CMS matrices built on disjoint
    * shards merge by cell-wise ADDITION, so a 100 TB corpus builds one
    * sketch per shard and reduces — the (d·w)-cell matrix is the only
    * state that ever crosses shard boundaries.
    *
    * The row reports the corpus head (exact top-k via the Misra-Gries
    * bounded-heap aggregate, the [[textFreqItems]] idiom) next to its
    * CMS estimates, the production sanity report for a sketch-counted
    * pipeline. Scale shape: ONE corpus pass emits d skinny (r, bucket)
    * rows per token occurrence into one count aggregation whose
    * map-side partial collapses to ≤ d×w cells per task regardless of
    * corpus size; the finished sketch is d×w rows → broadcast to the
    * k probe tokens. Nothing vocabulary-sized shuffles except the
    * Misra-Gries per-partition summaries (capacity-bounded).
    */
  def textCmsTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // token stream feeds both the sketch build and the exact head;
    // materialize the kernel output once (the kn-family discipline),
    // spread over tasks (the small-SF corpus is one parquet split)
    val toks = withToks(Tables.documents(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id")))
      .select(explode(col("toks")).as("tok"))
      .localCheckpoint(eager = false)
    // Distributed CMS build via the shared typed per-partition kernel
    // ([[cmsPartialCells]]): per-task distinct-token hashing into d×w
    // partial sketches, merged here by cell-wise addition.
    val cms = cmsPartialCells(toks.as[String])
      .groupBy(col("r"), col("b")).agg(sum(col("n")).as("n"))
    val top = toks
      .agg(graft.functions.FreqItems.freqItems(col("tok"), FreqItemsCapacity, CmsTopK).as("top"))
      .select(posexplode(col("top")).as(Seq("rank0", "e")))
      .select((col("rank0") + 1).cast("long").as("rank"),
        col("e.item").as("token"), col("e.cnt").as("true_count"))
    top
      .select(col("rank"), col("token"), col("true_count"),
        explode(array((0 until CmsRows).map(r =>
          struct(lit(r).as("r"), cmsBucket(r, col("token")).as("b"))): _*)).as("rb"))
      .select(col("rank"), col("token"), col("true_count"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cms), Seq("r", "b"))
      .groupBy(col("rank"), col("token"), col("true_count"))
      .agg(min(col("n")).as("cms_est"))
      .select(col("rank"), col("token"), col("true_count"), col("cms_est"),
        (col("cms_est") - col("true_count")).as("overestimate"))
      .orderBy(col("rank"))
  }

  /** Light suffix-stripping stemmer over every token (plural / -ing),
    * rejoined in order — one regexp per token via a transform over the
    * split, no UDF.
    */
  def textStem(s: SparkSession, d: String): DataFrame =
    withToks(sortedDocs(s, d))
      .select(col("doc_id"),
        array_join(expr(
          raw"transform(toks, t -> regexp_replace(t, '(ing|es|s)$$', ''))"), " ").as("stemmed"))

  /** Fixed query-term set for [[textBm25Topk]] (a user's search terms;
    * at scale the per-query state is always this dimension-sized).
    */
  val Bm25Terms: Seq[String] = Seq("spark", "join", "window")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** BM25 retrieval scoring — rank documents against a query-term set
    * with the Okapi BM25 function (Robertson & Zaragoza 2009; idf in
    * the Lucene `ln(1 + (N - df + 0.5)/(df + 0.5))` form, k1=1.2,
    * b=0.75). In a curation stack this is the lexical half of data
    * selection / targeted decontamination: score the corpus against a
    * probe query, inspect or drop the head.
    *
    * Scale shape: the corpus never shuffles at document granularity —
    * the explode keeps ONLY query-term hits (a `filter` inside the
    * array before explode), so the exchanged rows are (matching doc,
    * term) pairs, a tiny fraction of the corpus. df and avgdl are
    * term-count- and scalar-sized aggregates broadcast back; the final
    * ranking aggregates per matching doc and takes a global top-k
    * through a limit (partial top-k per partition, no full sort
    * materialization).
    */
  def textBm25Topk(s: SparkSession, d: String): DataFrame = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val n = graft.sources.Tables.parquetRowCount(s, d, "documents").toDouble
    val docs = withToks(Tables.documents(s, d).select(col("doc_id"), col("text")))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(expr(s"filter(toks, t -> t IN ($inList))")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfTab = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val avgdl = docs.agg(avg(size(col("toks"))).as("avgdl"))
    tf.join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(avgdl))
      .withColumn("contrib",
        log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * (lit(Bm25K1) + 1.0) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Low-entropy bar for [[textEntropy]]'s flag (bits/token). */
  val EntropyLowBar = 3.0

  /** Token-distribution Shannon entropy per document — the
    * random-sequence / degenerate-repetition filter signal (CCNet-
    * family pipelines cut both tails: near-zero entropy = boilerplate
    * or repetition; max entropy at long length = machine noise).
    * Computed as `log2(n) − Σ c·log2(c) / n`, the algebraic form of
    * `−Σ (c/n)·log2(c/n)` that keeps every aggregate a plain sum.
    *
    * Scale shape: two hash aggregations with map-side partials — the
    * (doc, token) count then the per-doc reduction; shuffle volume is
    * per-doc distinct tokens, not corpus tokens.
    */
  def textEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_toks"),
        count(lit(1)).as("n_distinct"),
        round(log2(sum(col("c"))) - sum(col("c") * log2(col("c"))) / sum(col("c")), 6)
          .as("entropy"))
      .select(col("doc_id"), col("n_toks"), col("n_distinct"), col("entropy"),
        when(col("entropy") < EntropyLowBar, 1L).otherwise(0L).as("low_entropy"))
      .orderBy(col("doc_id"))

  // Flesch reading-ease coefficients (Flesch 1948; public formula).
  val FleschBase = 206.835
  val FleschSent = 1.015
  val FleschSyll = 84.6

  /** Readability scoring — Flesch reading ease over (words, sentences,
    * syllables), the classic document-difficulty signal curation
    * stacks bucket corpora by. The corpus has no sentence punctuation,
    * so a "sentence" is a fixed 16-token span (ceil(words/16) —
    * documented stand-in, same plumbing); syllables are vowel-group
    * counts per token with a minimum of one (the standard heuristic
    * syllable counter). Everything is a ratio of integer counts
    * through one map-side regexp pass — no shuffle beyond the
    * presentation sort, bit-stable across engines.
    */
  def textReadability(s: SparkSession, d: String): DataFrame =
    withToks(sortedDocs(s, d))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_sents", expr("cast(ceil(size(toks) / 16.0) as bigint)"))
      .withColumn("n_syll",
        expr("""aggregate(transform(toks,
          t -> greatest(size(regexp_extract_all(t, '[aeiouy]+', 0)), 1)),
          0L, (acc, x) -> acc + x)"""))
      .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
        round(lit(FleschBase)
          - lit(FleschSent) * (col("n_words").cast("double") / col("n_sents"))
          - lit(FleschSyll) * (col("n_syll").cast("double") / col("n_words")), 4)
          .as("flesch"))

  /** A block is boilerplate once it appears in this many DISTINCT
    * documents (trafilatura/RefinedWeb-style pipelines use 2–10 over
    * much larger windows; the semantics don't change with the bar).
    */
  val BoilerMinDf = 3

  /** Cross-document boilerplate removal — the RefinedWeb/trafilatura
    * "drop lines repeated across many pages" pass (nav bars, cookie
    * banners, footers). Distinct from [[Dedup.dedupParagraph]]'s
    * keep-FIRST semantics: here a block whose document frequency
    * reaches [[BoilerMinDf]] is dropped from EVERY document including
    * the first — boilerplate has no canonical owner. Blocks are the
    * shared [[Dedup.paraBlocks]] fixed-token stand-in (real data:
    * newline-split lines; only the splitter changes). Per doc we emit
    * block counts, the boilerplate fraction, and an md5 over the
    * kept-blocks-in-order concatenation so the oracle certifies the
    * cleaned reconstruction, not just counts.
    *
    * Scale shape: [[Dedup.dedupParagraph]]'s exact topology with the
    * keep-first argmax swapped for a distinct-doc df count. Blocks
    * are keyed by [[Dedup.paraBlockHashes]]'s 128-bit two-channel
    * rolling-hash pair in one typed map-side kernel — the block
    * STRING never leaves the scan (the r12 form built every block
    * string through an interpreted transform/slice/concat_ws lambda
    * and then hashed it; the lambda ran once PER CONSUMER and was the
    * row's dominant cost). The df estimate is one hash aggregation
    * over the 16-byte keys; the flagged set (df ≥ bar) marks
    * occurrences through the salted [[Dedup.markJoin]] (never a
    * broadcast assumption on an unbounded side), and reassembly is
    * the same typed kernel over (toks, flagged block indices) —
    * blocks derive deterministically from the token stream, so the
    * kept-block concatenation recomputes locally with no block
    * strings shuffled anywhere.
    */
  def textBoilerplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val b = Dedup.ParaBlockTokens
    // localCheckpoint: the hash-block kernel feeds BOTH the df
    // aggregation and the mark-join probe side, and ReuseExchange
    // cannot canonicalize the typed-kernel subtree (§5 note), so
    // without it the kernel scan runs once per consumer.
    val blocks = Dedup.paraBlockHashes(s, d).localCheckpoint(eager = false)
    val flagged = blocks.groupBy(col("bh"), col("bh2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerMinDf)
      .select(col("bh"), col("bh2"))
    // unlike dedupParagraph, EVERY occurrence of a flagged block is
    // boilerplate — no canonical owner, the first document loses its
    // copy too
    val boil = Dedup.markJoin(blocks, flagged, Seq("bh", "bh2"), col("doc_id"))
      .select(col("doc_id"), col("block_idx"))
    val byDoc = boil.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("block_idx"))).as("boils"))
    // NULL-text docs produce no row: the oracle's block CTE unnests an
    // empty list for them (string_split(NULL) is NULL ⇒ no blk rows ⇒
    // no group), so emitting an (n_blocks=0, frac=0) row here would be
    // a latent row-set mismatch the moment a corpus carries NULL text.
    // Non-null text always yields ≥1 token (split keeps empties), so
    // isNotNull alone pins the row sets equal.
    Dedup.substrDocs(s, d).select(col("doc_id"), col("toks"))
      .filter(col("toks").isNotNull)
      .join(byDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .as[(Long, Seq[String], Seq[Int])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, toksIn, boilsIn) =>
          val toks = if (toksIn == null) Seq.empty[String] else toksIn
          val n = toks.length
          val nBlocks = (n + b - 1) / b
          val boils: Set[Int] =
            if (boilsIn == null) Set.empty else boilsIn.toSet
          val kept = new StringBuilder
          var keptCount = 0
          var blk = 1
          while (blk <= nBlocks) {
            if (!boils.contains(blk)) {
              var i = (blk - 1) * b
              val end = math.min(blk * b, n)
              while (i < end) {
                if (keptCount > 0) kept.append(' ')
                kept.append(toks(i))
                keptCount += 1
                i += 1
              }
            }
            blk += 1
          }
          val nBoil = boils.size.toLong
          val frac =
            if (nBlocks == 0) 0.0
            else java.math.BigDecimal.valueOf(nBoil.toDouble / nBlocks)
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          val keptMd5 =
            if (keptCount == 0) null
            else {
              md.reset()
              md.digest(kept.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                .map("%02x".format(_)).mkString
            }
          (id, nBlocks.toLong, nBoil, frac, keptMd5)
        }
      }
      .toDF("doc_id", "n_blocks", "n_boiler_blocks", "boiler_frac", "kept_md5")
      .orderBy(col("doc_id"))
  }

  /** Subword vocabulary size per gram length for [[textBpeTokens]]. */
  val BpeVocabPerLen = 16
  /** Longest subword the greedy matcher tries. */
  val BpeMaxLen = 4

  /** BPE-style subword tokenization, UDF-free and fully oracle-gated.
    * FIT: a deterministic subword vocabulary — the
    * top-[[BpeVocabPerLen]] most frequent character n-grams of each
    * length 2..[[BpeMaxLen]] over all word occurrences (count desc,
    * gram asc tie-break) — the deterministic, SQL-reproducible
    * stand-in for learned BPE merges. APPLY: greedy
    * longest-match-first segmentation of every word (the WordPiece
    * decode rule), reporting per-document word and subword counts.
    *
    * Scale shape: segmentation runs once per DISTINCT word — the
    * dictionary, not the corpus — and joins back onto per-doc word
    * counts; a subword vocab is small by construction (real BPE
    * merges are 32k-100k entries), so it rides as a broadcast-sized
    * literal exactly like the IVF centroids (bounded model state, the
    * same driver-collect convention), and the corpus is touched by
    * nothing but the word explode and two hash aggregations. The
    * greedy scan is one `aggregate` HOF carrying a (pos, n) struct —
    * no UDF, no per-character shuffle, O(len · vocab) per distinct
    * word.
    */
  def textBpeTokens(s: SparkSession, d: String): DataFrame = {
    val ex = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    // distinct-word occurrence table: dictionary-sized; checkpointed
    // because the gram fit and the tokenize step both read it
    val occ = ex.groupBy(col("w")).agg(count(lit(1)).as("occ")).localCheckpoint()
    val grams = (2 to BpeMaxLen).map { l =>
      occ.filter(length(col("w")) >= l)
        .select(lit(l).as("l"),
          explode(expr(
            s"transform(sequence(1, length(w) - ${l - 1}), i -> substring(w, i, $l))")).as("gm"),
          col("occ"))
    }.reduce(_ unionByName _)
    val topGrams = grams.groupBy(col("l"), col("gm")).agg(sum(col("occ")).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("l")).orderBy(col("cnt").desc, col("gm"))))
      .filter(col("rk") <= BpeVocabPerLen)
    val vocab: Map[Int, Seq[String]] = topGrams.select(col("l"), col("gm")).collect()
      .groupBy(_.getInt(0)).map { case (l, rows) => l -> rows.map(_.getString(1)).toSeq }
    val v = (2 to BpeMaxLen)
      .map(l => l -> typedLit(vocab.getOrElse(l, Seq.empty[String]))).toMap
    val w = col("w")
    val nsub = aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), lit(0).as("n")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val n = acc.getField("n")
        def hit(l: Int) = array_contains(v(l), w.substr(pos, lit(l)))
        def adv(l: Int) = struct((pos + l).as("pos"), (n + 1).as("n"))
        when(pos > length(w), acc)
          .when(hit(4), adv(4))
          .when(hit(3), adv(3))
          .when(hit(2), adv(2))
          .otherwise(adv(1))
      },
      acc => acc.getField("n").cast("long"))
    val tok = occ.select(col("w"), nsub.as("nsub"))
    val per = ex.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val res = per.join(broadcast(tok), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), sum(col("c") * col("nsub")).as("n_subwords"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(res, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_tokens" -> textBpeTokens _,
    "text_boilerplate" -> textBoilerplate _,
    "text_readability" -> textReadability _,
    "text_bm25_topk" -> textBm25Topk _,
    "text_entropy" -> textEntropy _,
    "text_lm_score" -> textLmScore _,
    "text_lm_kn" -> textLmKnScore _,
    "text_lm_kn3" -> textLmKn3Score _,
    "text_lm_kn5" -> textLmKn5Score _,
    "text_pmi_bigrams" -> textPmiBigrams _,
    "text_llr_bigrams" -> textLlrBigrams _,
    "text_stem" -> textStem _,
    "text_freq_items" -> textFreqItems _,
    "text_cms_topk" -> textCmsTopk _,
    "text_drift_jsd" -> textDriftJsd _,
    "text_ngram_freq" -> textNgramFreq _,
    "text_token_count" -> textTokenCount _,
    "text_langid" -> textLangid _,
    "text_langid_paragraph" -> textLangidParagraph _,
    "text_quality_score" -> textQualityScore _,
    "text_fingerprint" -> textFingerprint _)

  private def hitSql(group: Seq[String]): String = {
    val inList = group.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($inList))) AS BIGINT)"
  }

  val oracleSql: Map[String, String] = Map(
    "text_boilerplate" ->
      raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |blk0 AS (SELECT doc_id, unnest(list_transform(
           |   generate_series(1, CAST(ceil(len(l) / ${Dedup.ParaBlockTokens}.0) AS BIGINT)),
           |   i -> {'block_idx': i,
           |         'block': array_to_string(l[(i - 1) * ${Dedup.ParaBlockTokens} + 1 : i * ${Dedup.ParaBlockTokens}], ' ')})) AS u
           | FROM t),
           |blk AS (SELECT doc_id, u.block_idx AS block_idx, u.block AS block FROM blk0),
           |df AS (SELECT block, count(DISTINCT doc_id) AS df FROM blk GROUP BY 1
           |       HAVING count(DISTINCT doc_id) >= $BoilerMinDf)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           | CAST(sum(CASE WHEN df IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_blocks,
           | round(CAST(sum(CASE WHEN df IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS boiler_frac,
           | md5(string_agg(CASE WHEN df IS NULL THEN blk.block END, ' ' ORDER BY block_idx)) AS kept_md5
           |FROM blk LEFT JOIN df USING (block)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_readability" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CAST(ceil(len(toks) / 16.0) AS BIGINT) AS n_sents,
         |  CAST(list_sum(list_transform(toks,
         |    t -> greatest(len(regexp_extract_all(t, '[aeiouy]+')), 1))) AS BIGINT) AS n_syll
         | FROM t)
         |SELECT doc_id, n_words, n_sents, n_syll,
         | round($FleschBase
         |   - $FleschSent * (CAST(n_words AS DOUBLE) / n_sents)
         |   - $FleschSyll * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
         |FROM m ORDER BY doc_id""".stripMargin,
    "text_bm25_topk" -> {
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |a AS (SELECT CAST(avg(len(toks)) AS DOUBLE) AS avgdl FROM docs),
         |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf FROM
         |  (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         |     unnest(list_filter(toks, t -> t IN ($inList))) AS term FROM docs)
         |  GROUP BY doc_id, dl, term),
         |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id,
         |  ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0) * tf.tf * ($Bm25K1 + 1.0) /
         |    (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * tf.dl / a.avgdl)) AS contrib
         |  FROM tf JOIN df USING (term) CROSS JOIN a CROSS JOIN n)
         |SELECT doc_id, round(sum(contrib), 6) AS bm25,
         | CAST(count(*) AS BIGINT) AS n_terms
         |FROM sc GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    },
    "text_entropy" ->
      s"""WITH c AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok)
         |SELECT doc_id,
         | CAST(sum(c) AS BIGINT) AS n_toks,
         | CAST(count(*) AS BIGINT) AS n_distinct,
         | round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy,
         | CAST(CASE WHEN round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) < $EntropyLowBar
         |   THEN 1 ELSE 0 END AS BIGINT) AS low_entropy
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total,
         |               CAST(count(*) AS DOUBLE) AS vocab FROM freq)
         |SELECT t.doc_id,
         | CAST(count(*) AS BIGINT) AS n_toks,
         | min(f.c) AS rarest_c,
         | CAST(sum(CASE WHEN f.c < $OovMeanFrac * tot.n_total / tot.vocab
         |   THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_frac,
         | round(log2(max(tot.n_total)) - avg(log2(CAST(f.c AS DOUBLE))), 6) AS xent
         |FROM toks t JOIN freq f USING (tok) CROSS JOIN tot
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "text_lm_kn" ->
      raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |s0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
           |   i -> {'w1': l[i], 'w2': l[i + 1]})) AS u FROM t WHERE len(l) >= 2),
           |st AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM s0),
           |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM st GROUP BY 1, 2),
           |fwd AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c1,
           |   CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY 1),
           |rev AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM bc GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t_types FROM bc),
           |pt AS (SELECT w1, w2,
           |   (greatest(c_ab - $KnDiscount, CAST(0 AS DOUBLE))
           |    + $KnDiscount * n1f * (n1r / t_types)) / c1 AS p_kn
           | FROM bc JOIN fwd USING (w1) JOIN rev USING (w2) CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           | round(-avg(log2(p_kn)), 6) AS xent_kn
           |FROM st JOIN pt USING (w1, w2)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_kn3" ->
      raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2),
           |   i -> {'w1': l[i], 'w2': l[i + 1], 'w3': l[i + 2]})) AS u FROM t WHERE len(l) >= 3),
           |g AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3 FROM g0),
           |tc AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c_abc FROM g GROUP BY 1, 2, 3),
           |bt AS (SELECT DISTINCT a, b FROM
           |  (SELECT w1 AS a, w2 AS b FROM tc UNION ALL SELECT w2, w3 FROM tc)),
           |fan2 AS (SELECT a AS w2, CAST(count(*) AS BIGINT) AS n1f2 FROM bt GROUP BY 1),
           |rev AS (SELECT b AS w3, CAST(count(*) AS BIGINT) AS n1r FROM bt GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t_types FROM bt),
           |ctx AS (SELECT w1, w2, CAST(sum(c_abc) AS BIGINT) AS c12,
           |   CAST(count(*) AS BIGINT) AS n1f12 FROM tc GROUP BY 1, 2),
           |mid AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1l FROM tc GROUP BY 1, 2),
           |midctx AS (SELECT w2, CAST(count(*) AS BIGINT) AS nmid FROM tc GROUP BY 1),
           |pt AS (SELECT w1, w2, w3,
           |   (greatest(c_abc - $KnDiscount, CAST(0 AS DOUBLE))
           |    + $KnDiscount * n1f12 *
           |      ((greatest(n1l - $KnDiscount, CAST(0 AS DOUBLE))
           |        + $KnDiscount * n1f2 * (n1r / t_types)) / nmid)) / c12 AS p_kn3
           | FROM tc JOIN ctx USING (w1, w2) JOIN mid USING (w2, w3)
           |  JOIN midctx USING (w2) JOIN fan2 USING (w2) JOIN rev USING (w3) CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           | round(-avg(log2(p_kn3)), 6) AS xent_kn3
           |FROM g JOIN pt USING (w1, w2, w3)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_lm_kn5" ->
      raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 4),
           |   i -> {'w1': l[i], 'w2': l[i + 1], 'w3': l[i + 2],
           |         'w4': l[i + 3], 'w5': l[i + 4]})) AS u FROM t WHERE len(l) >= 5),
           |g AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2, u.w3 AS w3,
           |   u.w4 AS w4, u.w5 AS w5 FROM g0),
           |t5 AS (SELECT w1, w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS c5
           |  FROM g GROUP BY 1, 2, 3, 4, 5),
           |b4 AS (SELECT DISTINCT g1, g2, g3, g4 FROM
           |  (SELECT w1 AS g1, w2 AS g2, w3 AS g3, w4 AS g4 FROM t5
           |   UNION ALL SELECT w2, w3, w4, w5 FROM t5)),
           |b3 AS (SELECT DISTINCT g1, g2, g3 FROM
           |  (SELECT g1, g2, g3 FROM b4 UNION ALL SELECT g2, g3, g4 FROM b4)),
           |b2 AS (SELECT DISTINCT g1, g2 FROM
           |  (SELECT g1, g2 FROM b3 UNION ALL SELECT g2, g3 FROM b3)),
           |ctx4 AS (SELECT w1, w2, w3, w4, CAST(sum(c5) AS BIGINT) AS c1234,
           |   CAST(count(*) AS BIGINT) AS n1f1234 FROM t5 GROUP BY 1, 2, 3, 4),
           |n1l4 AS (SELECT w2, w3, w4, w5, CAST(count(*) AS BIGINT) AS n1l4
           |  FROM t5 GROUP BY 1, 2, 3, 4),
           |nmid4 AS (SELECT w2, w3, w4, CAST(count(*) AS BIGINT) AS nmid4
           |  FROM t5 GROUP BY 1, 2, 3),
           |n1f234 AS (SELECT g1 AS w2, g2 AS w3, g3 AS w4,
           |   CAST(count(*) AS BIGINT) AS n1f234 FROM b4 GROUP BY 1, 2, 3),
           |n1l3 AS (SELECT g2 AS w3, g3 AS w4, g4 AS w5,
           |   CAST(count(*) AS BIGINT) AS n1l3 FROM b4 GROUP BY 1, 2, 3),
           |nmid3 AS (SELECT g2 AS w3, g3 AS w4, CAST(count(*) AS BIGINT) AS nmid3
           |  FROM b4 GROUP BY 1, 2),
           |n1f34 AS (SELECT g1 AS w3, g2 AS w4, CAST(count(*) AS BIGINT) AS n1f34
           |  FROM b3 GROUP BY 1, 2),
           |n1l2 AS (SELECT g2 AS w4, g3 AS w5, CAST(count(*) AS BIGINT) AS n1l2
           |  FROM b3 GROUP BY 1, 2),
           |nmid2 AS (SELECT g2 AS w4, CAST(count(*) AS BIGINT) AS nmid2 FROM b3 GROUP BY 1),
           |n1f4 AS (SELECT g1 AS w4, CAST(count(*) AS BIGINT) AS n1f4 FROM b2 GROUP BY 1),
           |rev AS (SELECT g2 AS w5, CAST(count(*) AS BIGINT) AS n1r FROM b2 GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS DOUBLE) AS t_types FROM b2),
           |pt AS (SELECT w1, w2, w3, w4, w5,
           |   (greatest(c5 - $KnDiscount, CAST(0 AS DOUBLE))
           |    + $KnDiscount * n1f1234 *
           |      ((greatest(n1l4 - $KnDiscount, CAST(0 AS DOUBLE))
           |        + $KnDiscount * n1f234 *
           |          ((greatest(n1l3 - $KnDiscount, CAST(0 AS DOUBLE))
           |            + $KnDiscount * n1f34 *
           |              ((greatest(n1l2 - $KnDiscount, CAST(0 AS DOUBLE))
           |                + $KnDiscount * n1f4 * (n1r / t_types)) / nmid2)) / nmid3))
           |        / nmid4)) / c1234 AS p_kn5
           | FROM t5 JOIN ctx4 USING (w1, w2, w3, w4)
           |  JOIN n1l4 USING (w2, w3, w4, w5)
           |  JOIN nmid4 USING (w2, w3, w4) JOIN n1f234 USING (w2, w3, w4)
           |  JOIN n1l3 USING (w3, w4, w5)
           |  JOIN nmid3 USING (w3, w4) JOIN n1f34 USING (w3, w4)
           |  JOIN n1l2 USING (w4, w5)
           |  JOIN nmid2 USING (w4) JOIN n1f4 USING (w4) JOIN rev USING (w5)
           |  CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams5,
           | round(-avg(log2(p_kn5)), 6) AS xent_kn5
           |FROM g JOIN pt USING (w1, w2, w3, w4, w5)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_pmi_bigrams" ->
      s"""WITH docs_l AS (SELECT string_split(text, ' ') AS l FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(l) AS w FROM docs_l) GROUP BY w),
         |big0 AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
         |  i -> l[i] || ' ' || l[i + 1])) AS bg FROM docs_l),
         |big AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         |  CAST(count(*) AS BIGINT) AS c_ab FROM big0 GROUP BY 1, 2),
         |tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uni) AS n_uni,
         |               (SELECT CAST(sum(c_ab) AS DOUBLE) FROM big) AS n_bi)
         |SELECT w1, w2, c_ab,
         | round(log2((c_ab / tot.n_bi) /
         |   ((ua.c / tot.n_uni) * (ub.c / tot.n_uni))), 6) AS pmi
         |FROM big JOIN uni ua ON big.w1 = ua.w
         |         JOIN uni ub ON big.w2 = ub.w
         |         CROSS JOIN tot
         |WHERE c_ab >= $PmiMinCount
         |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin,
    "text_llr_bigrams" ->
      s"""WITH docs_l AS (SELECT string_split(text, ' ') AS l FROM documents),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(l) AS w FROM docs_l) GROUP BY w),
         |big0 AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
         |  i -> l[i] || ' ' || l[i + 1])) AS bg FROM docs_l),
         |big AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         |  CAST(count(*) AS BIGINT) AS c_ab FROM big0 GROUP BY 1, 2),
         |ma AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS ka FROM big GROUP BY w1),
         |mb AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS kb FROM big GROUP BY w2),
         |tot AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM big),
         |cell AS (SELECT big.w1, big.w2, c_ab,
         |   c_ab AS k11, ka - c_ab AS k12, kb - c_ab AS k21,
         |   tot.n_bi - ka - kb + c_ab AS k22, tot.n_bi AS n_bi
         |  FROM big JOIN ma ON big.w1 = ma.w1 JOIN mb ON big.w2 = mb.w2
         |  CROSS JOIN tot WHERE c_ab >= $LlrMinCount)
         |SELECT w1, w2, c_ab,
         | round(2.0 * (
         |   (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
         | + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
         | + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
         | + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
         | - (CASE WHEN k11 + k12 > 0 THEN (k11 + k12) * ln(CAST(k11 + k12 AS DOUBLE)) ELSE 0.0 END)
         | - (CASE WHEN k21 + k22 > 0 THEN (k21 + k22) * ln(CAST(k21 + k22 AS DOUBLE)) ELSE 0.0 END)
         | - (CASE WHEN k11 + k21 > 0 THEN (k11 + k21) * ln(CAST(k11 + k21 AS DOUBLE)) ELSE 0.0 END)
         | - (CASE WHEN k12 + k22 > 0 THEN (k12 + k22) * ln(CAST(k12 + k22 AS DOUBLE)) ELSE 0.0 END)
         | + n_bi * ln(CAST(n_bi AS DOUBLE))), 4) AS llr
         |FROM cell
         |ORDER BY llr DESC, w1, w2 LIMIT $LlrTopK""".stripMargin,
    "text_stem" ->
      raw"""SELECT doc_id,
           | array_to_string(list_transform(string_split(text, ' '),
           |   t -> regexp_replace(t, '(ing|es|s)$$', '')), ' ') AS stemmed
           |FROM documents ORDER BY doc_id""".stripMargin,
    "text_freq_items" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        | c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
        |       token, cnt
        |FROM c ORDER BY cnt DESC, token LIMIT 10""".stripMargin,
    "text_drift_jsd" ->
      s"""WITH t AS (SELECT doc_id % 2 = 0 AS grp,
        |   unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token,
        |   CAST(sum(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |   CAST(sum(CASE WHEN grp THEN 0 ELSE 1 END) AS BIGINT) AS cb
        | FROM t GROUP BY token),
        |tt AS (SELECT CAST(sum(ca) AS DOUBLE) AS ta, CAST(sum(cb) AS DOUBLE) AS tb FROM c),
        |p AS (SELECT token, ca, cb, ca / ta AS pa, cb / tb AS pb FROM c, tt)
        |SELECT token, ca, cb, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        | round(CASE WHEN pa > 0 THEN 0.5 * pa * log2(2.0 * pa / (pa + pb)) ELSE 0 END
        |     + CASE WHEN pb > 0 THEN 0.5 * pb * log2(2.0 * pb / (pb + pa)) ELSE 0 END,
        |   6) AS jsd_contrib
        |FROM p
        |ORDER BY jsd_contrib DESC, ca DESC, cb DESC, token LIMIT $JsdTopK""".stripMargin,
    "text_cms_topk" ->
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |rs AS (SELECT unnest([${(0 until CmsRows).mkString(", ")}]) AS r),
        |cms AS (SELECT r,
        |   CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|' || tok), 1, 12) AS BIGINT)
        |     % $CmsWidth AS b,
        |   CAST(count(*) AS BIGINT) AS n
        | FROM toks, rs GROUP BY 1, 2),
        |cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
        |topk AS (SELECT tok, c,
        |   CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rank
        | FROM cnt ORDER BY c DESC, tok LIMIT $CmsTopK),
        |est AS (SELECT t.rank, t.tok, t.c, min(m.n) AS cms_est
        | FROM topk t JOIN cms m
        |   ON m.b = CAST('0x' || substring(md5(CAST(m.r AS VARCHAR) || '|' || t.tok), 1, 12)
        |            AS BIGINT) % $CmsWidth
        | GROUP BY 1, 2, 3)
        |SELECT rank, tok AS token, c AS true_count, cms_est,
        | cms_est - c AS overestimate
        |FROM est ORDER BY rank""".stripMargin,
    "text_ngram_freq" ->
      """WITH t AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |   generate_series(1, len(string_split(text, ' ')) - 2),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |        || ' ' || string_split(text, ' ')[i+2]))) AS ngram FROM documents)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS doc_freq
        |FROM t GROUP BY ngram
        |ORDER BY doc_freq DESC, ngram LIMIT 50""".stripMargin,
    // full fit+apply recompute: DuckDB re-derives the same top-16
    // gram vocab (integer counts, total order) and re-runs the greedy
    // longest-match via list_reduce with a (pos, n) struct — the
    // list_prepend carries the initial accumulator, and a NULL vocab
    // level (impossible here, but type-safe) simply never matches.
    // The greedy apply is a RECURSIVE CTE over plain equi-joins
    // against the vocab table, NOT a list_reduce lambda: DuckDB
    // 1.0.0 mis-evaluates a list_reduce whose lambda captures
    // cross-joined list columns plus an outer scalar when the input
    // has many rows (observed: the same `tok` CTE segments
    // 'customer' as 5 pieces when filtered to one row — the correct
    // greedy trace — but 4 in whole-table vectorized evaluation, a
    // silent wrong answer the engine then "mismatches" against).
    // Relational joins have no such failure mode on either engine.
    "text_bpe_tokens" ->
      s"""WITH RECURSIVE wx AS (SELECT doc_id, w FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |occ AS (SELECT w, count(*) AS occ FROM wx GROUP BY w),
         |g AS (
         |  SELECT 2 AS l, unnest(list_transform(generate_series(1, length(w) - 1),
         |    i -> substring(w, i, 2))) AS gm, occ FROM occ WHERE length(w) >= 2
         |  UNION ALL
         |  SELECT 3 AS l, unnest(list_transform(generate_series(1, length(w) - 2),
         |    i -> substring(w, i, 3))) AS gm, occ FROM occ WHERE length(w) >= 3
         |  UNION ALL
         |  SELECT 4 AS l, unnest(list_transform(generate_series(1, length(w) - 3),
         |    i -> substring(w, i, 4))) AS gm, occ FROM occ WHERE length(w) >= 4),
         |gc AS (SELECT l, gm, sum(occ) AS cnt FROM g GROUP BY 1, 2),
         |top AS (SELECT l, gm FROM (SELECT l, gm,
         |    row_number() OVER (PARTITION BY l ORDER BY cnt DESC, gm) AS rk FROM gc)
         |  WHERE rk <= $BpeVocabPerLen),
         |walk AS (
         |  SELECT w, 1 AS pos, 0 AS n FROM occ
         |  UNION ALL
         |  SELECT walk.w,
         |    walk.pos + CASE WHEN t4.gm IS NOT NULL THEN 4
         |      WHEN t3.gm IS NOT NULL THEN 3
         |      WHEN t2.gm IS NOT NULL THEN 2 ELSE 1 END,
         |    walk.n + 1
         |  FROM walk
         |  LEFT JOIN top t4 ON t4.l = 4 AND t4.gm = substring(walk.w, walk.pos, 4)
         |  LEFT JOIN top t3 ON t3.l = 3 AND t3.gm = substring(walk.w, walk.pos, 3)
         |  LEFT JOIN top t2 ON t2.l = 2 AND t2.gm = substring(walk.w, walk.pos, 2)
         |  WHERE walk.pos <= length(walk.w)),
         |tok AS (SELECT w, max(n) AS nsub FROM walk GROUP BY w),
         |per AS (SELECT doc_id, w, count(*) AS c FROM wx GROUP BY 1, 2),
         |res AS (SELECT doc_id, sum(c) AS n_words, sum(c * nsub) AS n_subwords
         |        FROM per JOIN tok USING (w) GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
         | CAST(coalesce(n_subwords, 0) AS BIGINT) AS n_subwords
         |FROM documents d LEFT JOIN res USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "text_token_count" ->
      raw"""SELECT doc_id,
           | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_re_tokens,
           | CAST(length(text) AS BIGINT) AS n_chars_measured
           |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id,
         | ${hitSql(stopEn)} AS c_en,
         | ${hitSql(stopSql)} AS c_sql,
         | ${hitSql(stopData)} AS c_data,
         | CASE WHEN ${hitSql(stopEn)} >= ${hitSql(stopSql)}
         |        AND ${hitSql(stopEn)} >= ${hitSql(stopData)} THEN 'en'
         |      WHEN ${hitSql(stopSql)} >= ${hitSql(stopData)} THEN 'sql'
         |      ELSE 'data' END AS predicted_lang
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid_paragraph" -> {
      def hit(group: Seq[String]) = {
        val inList = group.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(blk, t -> t IN ($inList))) AS BIGINT)"
      }
      def entTerm(c: String) =
        s"(CASE WHEN $c > 0 THEN -(CAST($c AS DOUBLE) / n_blocks) * log2(CAST($c AS DOUBLE) / n_blocks) ELSE CAST(0 AS DOUBLE) END)"
      raw"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
           |blk0 AS (SELECT doc_id, unnest(list_transform(
           |   generate_series(1, CAST(ceil(len(l) / ${Dedup.ParaBlockTokens}.0) AS BIGINT)),
           |   i -> l[(i - 1) * ${Dedup.ParaBlockTokens} + 1 : i * ${Dedup.ParaBlockTokens}])) AS blk FROM t),
           |sc AS (SELECT doc_id, ${hit(stopEn)} AS c_en, ${hit(stopSql)} AS c_sql,
           |   ${hit(stopData)} AS c_data FROM blk0),
           |bl AS (SELECT doc_id, CASE WHEN c_en >= c_sql AND c_en >= c_data THEN 'en'
           |       WHEN c_sql >= c_data THEN 'sql' ELSE 'data' END AS blang FROM sc),
           |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
           |   CAST(sum(CASE WHEN blang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           |   CAST(sum(CASE WHEN blang = 'sql' THEN 1 ELSE 0 END) AS BIGINT) AS n_sql,
           |   CAST(sum(CASE WHEN blang = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS n_data
           | FROM bl GROUP BY 1),
           |r AS (SELECT doc_id, n_blocks, n_en, n_sql, n_data,
           |   CASE WHEN n_en >= n_sql AND n_en >= n_data THEN 'en'
           |        WHEN n_sql >= n_data THEN 'sql' ELSE 'data' END AS doc_lang,
           |   round(${entTerm("n_en")} + ${entTerm("n_sql")} + ${entTerm("n_data")}, 6) AS mix_entropy
           | FROM a)
           |SELECT doc_id, n_blocks, n_en, n_sql, n_data, doc_lang, mix_entropy,
           | CAST(CASE WHEN mix_entropy > 0 THEN 1 ELSE 0 END AS BIGINT) AS is_mixed
           |FROM r ORDER BY doc_id""".stripMargin
    },
    "text_quality_score" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  ${hitSql(stopEn)} AS stop_hits,
         |  len(list_distinct(string_split(text, ' '))) AS uniq,
         |  least(n_chars / 500.0, 1.0) AS len_score
         | FROM documents)
         |SELECT doc_id,
         | len_score,
         | stop_hits / nt AS stop_ratio,
         | uniq / nt AS uniq_ratio,
         | 0.4 * len_score + 0.3 * (1.0 - stop_hits / nt) + 0.3 * (uniq / nt) AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
        | substring(md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')), 1, 4) AS bucket,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)
}
