package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** §2.4 embedding similarity + §2.3's embedding near-dup.
  *
  * Dot products / norms are sequential left-to-right double sums
  * (`aggregate` over `zip_with`), mirrored exactly by `list_reduce`
  * in the DuckDB oracles so float results are bit-identical and the
  * rounded-threshold filters agree.
  *
  * Scale posture: the brute-force pair scan is the correctness
  * baseline (and is still shuffle-free: small side broadcast). The
  * scale path is the hyperplane-LSH variant, whose candidate set is a
  * bucket-equality join.
  */
object Similarity {

  val CosineThreshold = 0.4
  val TopK = 5
  val NumQueryVecs = 10

  /** LSH family geometry, calibrated to the corpus (measured via the
    * exact oracle): the true top-5 neighbors sit at cosine 0.26–0.49 —
    * near-random geometry, where the per-plane agreement probability
    * is only 1 − acos(c)/π ≈ 0.58–0.66. Fewer planes per table and
    * more tables buys recall where single-table selectivity cannot:
    * 8 tables × 4 planes gives per-neighbor catch ≈ 0.62–0.69 at the
    * worst observed cosine vs 0.15 for the previous 4 × 6. On a
    * clustered corpus (real embedding near-dups at cosine ≥ 0.9, where
    * catch per table is 0.9⁶) the same machinery prunes aggressively;
    * the constants are per-deployment tuning, and [[annLshRecall]]
    * gates the achieved recall/prune trade in CORRECTNESS.
    */
  val NumTables = 8 // independent hash tables (union of candidates)
  val NumPlanes = 4 // bits per table: 16 buckets => ~n/16 mates each

  /** CORRECTNESS bars for [[annLshRecall]] / [[annIvfRecall]],
    * calibrated from the gate rows' own measured recall/prune columns
    * (all three SFs; `tools/recallprobe.py` re-runs the self-checking
    * gates at 10x into `recallgates_10x.json`;
    * seeded hyperplanes/quantizer + fixed data ⇒ deterministic, so the
    * driver re-verifies constants). Macro-recall (hit fraction over
    * all query×top-5 pairs) is the gated quantity: per-query floors
    * are statistically meaningless here — with true neighbors at
    * cosine 0.26–0.49 a single query's 5 neighbors can all land
    * outside any sub-scan probe set (observed: one sf0.1 IVF query at
    * recall 0), and recall@5 ≥ 0.9 per query would require scanning
    * the corpus several times over (~40+ tables at the worst observed
    * cosine). Measured macro-recall: LSH 0.64–0.80, IVF 0.80–0.92;
    * max per-query candidate fraction: LSH 0.47, IVF 0.40. A
    * regression in either direction (lost recall OR candidate
    * blow-up) flips a flag and fails the driver hash.
    */
  val LshRecallBar = 0.6 // min macro-recall@5 vs exact
  val LshPruneBar = 0.6 // max per-query candidate fraction of corpus
  val IvfRecallBar = 0.7
  val IvfPruneBar = 0.5

  import graft.functions.DotProduct.dot

  /** embeddings with double-cast vector and L2 norm (norm computed
    * once per vector, not per candidate pair).
    */
  private def withNorm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Codegen'd [[graft.functions.DotProduct]]: sequential accumulation,
    * bit-compatible with `aggregate(zip_with(...))` and the DuckDB
    * `list_reduce` oracle, but allocation-free per pair.
    */
  private def pairDot = dot(col("va"), col("vb"))

  /** Block-pair decomposition factor for the exact all-pairs scan: 8
    * blocks ⇒ 36 unordered block pairs, each an independent task. At
    * cluster scale B is chosen so one block fits an executor's memory
    * (B ≈ corpusBytes / blockBytes); shuffle volume is O(n·(B+1)/2)
    * rows — each vector is replicated once per block it must meet.
    */
  val NumBlocks = 8

  /** Embedding near-dup pairs: cosine ≥ τ on the rounded value.
    *
    * Exact all-pairs at τ = 0.4 is inherently O(n²) compute — measured
    * on this corpus the qualifying pairs sit at cosine 0.40–0.60 (no
    * high-cosine cluster), where random-hyperplane LSH recall per
    * 6-plane table is (1 − acos(0.4)/π)⁶ ≈ 6%, i.e. ~200 tables for
    * recall ≈ 1 — so an LSH candidate path cannot hold the exact
    * oracle and the honest scale shape is a DISTRIBUTED block matrix
    * product (A·Aᵀ thresholded): vectors are assigned to [[NumBlocks]]
    * blocks and each unordered block pair (i ≤ j) is one shuffle
    * bucket. No driver collect, no corpus broadcast, no nested-loop
    * join — a shuffle-hash join on the block-pair key whose compute is
    * the unavoidable n²/2 codegen'd dot products, evenly spread across
    * B(B+1)/2 tasks. [[annLshTopk]] remains the approximate scale path
    * for top-k search where recall < 1 is acceptable.
    *
    * Pair uniqueness: for i < j a pair (x∈i, y∈j) meets exactly once
    * (x on the row side, y on the column side); for i = j both orders
    * meet, so the id filter keeps one. Division order matches the
    * oracle's `dot / nrm_a / nrm_b` with a = smaller id, so rounding
    * at 4 decimals is bit-identical.
    */
  def dedupEmbeddingCosine(s: SparkSession, d: String): DataFrame = {
    val b = NumBlocks
    val e = withNorm(s, d).withColumn("blk", pmod(col("vec_id"), lit(b)).cast("int"))
    val rows = e.select(col("blk").as("bi"),
      explode(expr(s"sequence(blk, ${b - 1})")).as("bj"),
      col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
    val cols = e.select(explode(expr("sequence(0, blk)")).as("bi"),
      col("blk").as("bj"),
      col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
    rows.hint("shuffle_hash").join(cols, Seq("bi", "bj"))
      .filter(col("bi") < col("bj") || col("ida") < col("idb"))
      .withColumn("cosine", round(
        dot(col("va"), col("vb")) /
          when(col("ida") < col("idb"), col("na")).otherwise(col("nb")) /
          when(col("ida") < col("idb"), col("nb")).otherwise(col("na")), 4))
      .filter(col("cosine") >= CosineThreshold)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact cosine top-k per query vector (queries = vec_id < 10),
    * query side broadcast, rank deterministic on (rounded cosine desc,
    * neighbor id asc).
    */
  def annBruteforceTopk(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Dimensions kept by the Matryoshka truncation (of 64). */
  val MatryoshkaDims = 16

  /** Matryoshka (MRL-style) truncated-embedding retrieval: rank by
    * cosine over only the first [[MatryoshkaDims]] of 64 dimensions —
    * the cheap-first-pass representation MRL-trained embedding models
    * expose (prefix dims carry most of the signal; a 4x dimension cut
    * is a 4x cut in scan bytes, memory AND dot-product FLOPs at
    * 100 TB) — and report each truncated top-k hit with an
    * `in_full_topk` flag against the full-dimension exact ranking, so
    * the row doubles as the truncation's recall report. Same
    * broadcast-query exact-scan shape as [[annBruteforceTopk]]; both
    * rankings come out of ONE scan (two window functions over the
    * same partition). Truncation is pure SQL, so unlike the
    * LSH/IVF/PQ rows this needs no candidate dump: the oracle
    * recomputes everything from the embeddings table.
    *
    * NOTE (production-path caveat): the full-dimension cosine per pair
    * exists HERE only to compute the `in_full_topk` recall flag — the
    * flag is the point of this row. A production truncated retrieval
    * never runs the full-dim scan: see [[annMatryoshkaRerank]], which
    * scans only the 16-dim prefix (the 4× byte/FLOP cut for real) and
    * touches full vectors solely for the candidate re-rank.
    */
  def annMatryoshkaTopk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $MatryoshkaDims), x -> cast(x AS double))")
          .as("vt"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
      .withColumn("nf", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("vt").as("qt"), col("v").as("qv"),
        col("nt").as("qnt"), col("nf").as("qnf"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("vt").as("ct"),
      col("v").as("cv"), col("nt").as("cnt_"), col("nf").as("cnf"))
    val w16 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine16").desc, col("neighbor_id").asc)
    val w64 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine64").desc, col("neighbor_id").asc)
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine16", round(dot(col("qt"), col("ct")) / col("qnt") / col("cnt_"), 4))
      .withColumn("cosine64", round(dot(col("qv"), col("cv")) / col("qnf") / col("cnf"), 4))
      .withColumn("rank", row_number().over(w16).cast("long"))
      .withColumn("rank64", row_number().over(w64).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine16"),
        (col("rank64") <= TopK).cast("long").as("in_full_topk"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Candidates per query the truncated first pass hands to the exact
    * re-rank (3× the final k — the standard refine multiple).
    */
  val MatryoshkaRerankDepth = 3 * TopK

  /** The PRODUCTION Matryoshka retrieval path (the
    * [[annMatryoshkaTopk]] recall report told us the truncation is
    * good; this row actually banks the savings): pass 1 scans ONLY
    * the [[MatryoshkaDims]]-dim prefix — at 100 TB that is 1/4 of the
    * bytes, memory and dot-product FLOPs of the full scan — and keeps
    * the truncated top-[[MatryoshkaRerankDepth]] per query; pass 2
    * joins those q·3k candidate ids back to the corpus (broadcast of
    * the candidate list — the full vectors of candidates are the ONLY
    * full-dim data ever read) and re-ranks them by exact full-dim
    * cosine into the final top-k. Fully SQL-expressible, so the
    * oracle replays both passes closed-form from the embeddings
    * table — no candidate dump.
    */
  def annMatryoshkaRerank(s: SparkSession, d: String): DataFrame = {
    val t = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(s"transform(slice(embedding, 1, $MatryoshkaDims), x -> cast(x AS double))")
          .as("vt"))
      .withColumn("nt", sqrt(dot(col("vt"), col("vt"))))
    val q16 = t.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("vt").as("qt"), col("nt").as("qnt"))
    val n16 = t.select(col("vec_id").as("neighbor_id"), col("vt").as("ct"),
      col("nt").as("cnt_"))
    val w16 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine16").desc, col("neighbor_id").asc)
    val cands = broadcast(q16).join(n16, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine16", round(dot(col("qt"), col("ct")) / col("qnt") / col("cnt_"), 4))
      .withColumn("crank", row_number().over(w16))
      .filter(col("crank") <= MatryoshkaRerankDepth)
      .select(col("query_id"), col("neighbor_id"))
    val full = withNorm(s, d)
    val qf = full.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    full.join(broadcast(cands), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
      .join(broadcast(qf), Seq("query_id"))
      .withColumn("cosine", round(dot(col("qv"), col("cv")) / col("qn") / col("cn"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Relevance weight in the MMR objective (Carbonell & Goldstein
    * 1998): score(c) = λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s). */
  val MmrLambda = 0.7
  /** Results kept per query by [[annMmrDiversify]]. */
  val MmrK = 5
  /** Relevance-ranked candidate pool the greedy selection runs over. */
  val MmrCandidates = 20

  /** Maximal Marginal Relevance diversification — re-rank a query's
    * top-[[MmrCandidates]] candidates so each pick balances relevance
    * against redundancy with what's already picked (the classic
    * retrieval/RAG-context diversifier; for training-data selection
    * it's the "don't fill the batch with near-identical positives"
    * pass). Greedy: first pick = argmax relevance; each next pick
    * maximizes λ·rel − (1−λ)·maxSimToSelected, ties broken by
    * neighbor id.
    *
    * Determinism across engines: candidate relevance is the rounded-4
    * cosine of the gated exact scan, but the candidate-candidate
    * similarities stay RAW doubles — both engines compute the same
    * sequential dot / na / nb in IEEE order, so greedy comparisons
    * are bitwise-identical with no rounding semantics inside the
    * loop; scores are rounded only at output. The (1 − λ) factor is
    * written as the same expression on both sides (0.3 ≠ 1 − 0.7 in
    * binary).
    *
    * Scale shape: candidate generation is the broadcast-query exact
    * scan (swap in any gated index row at scale); everything after is
    * per-QUERY local — ≤ [[MmrCandidates]] vectors per group, O(N²·k)
    * FLOPs with N constant — as one typed kernel over
    * groupByKey(query_id), i.e. bounded state per group, queries
    * distribute freely, no pairwise table ever shuffles.
    */
  def annMmrDiversify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = withNorm(s, d)
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id").asc)
    val cand = broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= MmrCandidates)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("vb"), col("nrmb"))
    val lam = MmrLambda
    val k = MmrK
    val picked = cand.as[(Long, Long, Double, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Double], Double)]) =>
        val cs = it.toArray.sortBy(c => (-c._3, c._2))
        def rawCos(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
          var acc = 0.0
          var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }
          acc / na / nb
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
        var rank = 1L
        while (rank <= k && selected.length < cs.length) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          var ci = 0
          while (ci < cs.length) {
            if (!selected.contains(ci)) {
              val c = cs(ci)
              // max over selected of the RAW pairwise cosine — a true
              // max (can be negative); 0 only for the empty set, where
              // the diversity term vanishes by definition
              var ms = Double.NegativeInfinity
              selected.foreach { si =>
                val sim = rawCos(c._4, c._5, cs(si)._4, cs(si)._5)
                if (sim > ms) ms = sim
              }
              if (selected.isEmpty) ms = 0.0
              val score = lam * c._3 - (1 - lam) * ms
              if (score > bestScore ||
                (score == bestScore && bestIdx >= 0 && c._2 < cs(bestIdx)._2)) {
                bestIdx = ci; bestScore = score
              }
            }
            ci += 1
          }
          val b = cs(bestIdx)
          out += ((qid, rank, b._2, b._3, bestScore))
          selected += bestIdx
          rank += 1L
        }
        out.iterator
      }
      .toDF("query_id", "mmr_rank", "neighbor_id", "cosine", "mmr_score_raw")
    picked
      .select(col("query_id"), col("mmr_rank"), col("neighbor_id"), col("cosine"),
        round(col("mmr_score_raw"), 6).as("mmr_score"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** Hard-negative mining for contrastive training: per query vector,
    * the top-k most-similar vectors with a DIFFERENT label — the
    * highest-cosine wrong-class examples that make the strongest
    * negatives for two-tower/embedding training. Same broadcast-query
    * exact-scan shape as [[annBruteforceTopk]] (the correctness
    * baseline; the IVF/PQ candidate generators compose with the label
    * predicate the same way [[annFilteredTopk]] composes its filter),
    * with the label inequality applied inside the scan so only
    * wrong-class pairs are ever scored.
    */
  def annHardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("va"), col("nrm").as("nrma"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
      col("v").as("vb"), col("nrm").as("nrmb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(n, col("qlabel") =!= col("nlabel"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("nlabel").cast("long").as("neighbor_label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Radius bar for [[annRangeSearch]]. */
  val RangeBar = 0.35

  /** Exact cosine RANGE (radius) search — every neighbor within the
    * similarity bar per query vector, the "all matches above
    * threshold" retrieval mode (candidate recall sets, near-dup
    * sweeps around probe points) that top-k cannot express because k
    * is unknown a priori. Same broadcast-query scan shape as
    * [[annBruteforceTopk]]; the predicate replaces the rank window,
    * so the per-query result is unbounded by design and ordered
    * deterministically by (query, cosine desc, neighbor).
    */
  def annRangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .filter(col("cosine") >= RangeBar)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
  }

  /** Rank candidate (query_id, neighbor_id, cosine) rows into the
    * per-query top-k, deterministic on (cosine desc, neighbor asc).
    */
  private def topkOf(cand: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** LSH candidate set: distinct (query_id, neighbor_id, cosine)
    * pairs sharing a bucket in ANY of the [[NumTables]] tables.
    */
  private[graft] def lshCandidates(s: SparkSession, d: String): DataFrame = {
    val rng = new scala.util.Random(42)
    val planes: Seq[Seq[Seq[Double]]] =
      Seq.fill(NumTables, NumPlanes)(Seq.fill(64)(rng.nextGaussian()))
    val e = withNorm(s, d)
    // (table, bucket) pairs per vector — explode over the tables. The
    // hyperplane dot uses the codegen'd DotProduct against a literal
    // plane array (an aggregate/zip_with lambda is interpreted and
    // costs both runtime and janino compile).
    val bucketStructs = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val bits = tablePlanes.zipWithIndex.map { case (p, i) =>
        when(dot(col("v"), typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bits.as("bkt"))
    }
    // q derives from the SAME bucketed subtree as n, filter applied
    // AFTER the hash columns: a filter-first build (hash only the 10
    // query vectors) was measured SLOWER at sf0.1 AND 10x (1.16 vs
    // 1.04 s / 1.86 vs 1.70 s, same-process min-of-3 pairs) — the
    // shared subtree keeps both sides on one generated codegen unit,
    // and the corpus-side dot work it would save is codegen'd and
    // cheap at any probed SF.
    val eb = e.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(bucketStructs: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val q = eb.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"),
        col("nrm").as("nrma"), col("tbl"), col("bkt"))
    val n = eb.select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
      col("nrm").as("nrmb"), col("tbl"), col("bkt"))
    broadcast(q).join(n, Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Random-hyperplane LSH ANN: [[NumTables]] tables of [[NumPlanes]]
    * deterministic pseudo-random hyperplanes each; a vector's bucket
    * per table is the sign pattern of its hyperplane dots. Candidates
    * = pairs sharing a bucket in ANY table (bucket-equality join,
    * union over tables), then exact cosine top-k within the candidate
    * set. Full hash oracle via [[candTopkOracle]] (DuckDB recomputes
    * cosine + ranking over the dumped candidate pairs);
    * [[annLshRecall]] is the oracle-gated quality row.
    */
  def annLshTopk(s: SparkSession, d: String): DataFrame =
    topkOf(lshCandidates(s, d))

  val MpPlanes = 6 // bits in the single multi-probe table (64 buckets)
  val MpProbes = 24 // buckets probed per query, cheapest-perturbation first
  // Measured across sf0.001/0.01/0.1: macro-recall@5 0.60/0.72/0.76,
  // max per-query candidate fraction 0.40/0.42/0.40 — one table at
  // 24 probes matches the 8-table classic-LSH recall floor (0.64-0.80)
  // at lower candidate volume and 1/8 the index footprint. Bars carry
  // the house margin (classic LSH: bar 0.6 under measured 0.64).
  val MpRecallBar = 0.55 // min macro-recall@5 vs exact
  val MpPruneBar = 0.5 // max per-query candidate fraction of corpus

  /** QUERY-DIRECTED multi-probe LSH candidates (Lv et al., VLDB 2007):
    * ONE hyperplane table instead of [[NumTables]] copies; each query
    * probes the [[MpProbes]] buckets whose signatures are cheapest to
    * reach from its own — the cost of flipping bit i is the query's
    * |margin| to hyperplane i (a near neighbor most plausibly landed
    * across the planes the query barely cleared), and a probe set's
    * cost is the sum of its flipped margins. The INDEX side stays one
    * bucket id per vector — the probe fan-out lives entirely on the
    * query side, the tiny dimension — which is exactly the trade
    * multi-probe exists for at billion-vector scale: every extra
    * classic LSH table is another full copy of the index, while an
    * extra probe is one more bucket lookup. The per-query probe
    * selection is a codegen'd sort of the 2^[[MpPlanes]] (cost, mask)
    * structs — constant work per query, no shuffle. Same candidate
    * shape as [[lshCandidates]] afterwards: bucket-equality join,
    * exact cosine, per-query top-k.
    */
  private[graft] def multiprobeCandidates(s: SparkSession, d: String): DataFrame = {
    val rng = new scala.util.Random(43)
    val planes: Seq[Seq[Double]] = Seq.fill(MpPlanes)(Seq.fill(64)(rng.nextGaussian()))
    val e = withNorm(s, d)
    val withMargins = e.select(col("vec_id") +: col("v") +: col("nrm") +:
      planes.zipWithIndex.map { case (p, i) =>
        dot(col("v"), typedLit(p)).as(s"m$i")
      }: _*)
    val bits = (0 until MpPlanes).map(i =>
      when(col(s"m$i") >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    val eb = withMargins.withColumn("bkt", bits)
    val n = eb.select(col("vec_id").as("neighbor_id"), col("v").as("vb"),
      col("nrm").as("nrmb"), col("bkt"))
    // (cost, flip-mask) structs for every perturbation of the home
    // bucket; array_sort orders by cost then mask (deterministic),
    // slice keeps the MpProbes cheapest
    val maskStructs = (0L until (1L << MpPlanes)).map { mask =>
      val cost = (0 until MpPlanes).filter(i => (mask & (1L << i)) != 0L)
        .map(i => abs(col(s"m$i")))
        .reduceOption[Column](_ + _).getOrElse(lit(0.0))
      struct(cost.as("cost"), lit(mask).as("mask"))
    }
    val q = eb.filter(col("vec_id") < NumQueryVecs)
      .withColumn("probe",
        explode(slice(array_sort(array(maskStructs: _*)), 1, MpProbes)))
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"),
        col("bkt").bitwiseXOR(col("probe.mask")).as("bkt"))
    broadcast(q).join(n, Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Multi-probe LSH ANN top-k. Full hash oracle via
    * [[candTopkOracle]]; [[annMultiprobeRecall]] is the quality row.
    */
  def annMultiprobeTopk(s: SparkSession, d: String): DataFrame =
    topkOf(multiprobeCandidates(s, d))

  def annMultiprobeRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, multiprobeCandidates(s, d), MpRecallBar, MpPruneBar)

  val NumCells = 8 // IVF coarse-quantizer cells
  val NumProbe = 3 // cells probed per query
  val KmeansIters = 3 // Lloyd's iterations for the coarse quantizer

  /** Per-vector (cosine-to-centroid, -cell) structs against literal
    * centroids — every centroid dot is codegen'd, assignment is pure
    * map-side. array_max picks (max sim, ties → smaller cell).
    */
  private def centroidSims(cents: Seq[Seq[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((dot(col("v"), typedLit(c)) / col("nrm") / lit(cn)).as("sim"),
        lit(-i).as("negcell"))
    }: _*)

  /** Spherical k-means coarse quantizer: Lloyd's iterations expressed
    * on DataFrames (no MLlib dependency in this build). Assignment is
    * a map-side argmax over [[NumCells]] codegen'd literal-centroid
    * dots — no join, no shuffle of the corpus; the update step is one
    * posexplode + groupBy(cell, dim) avg, a bounded aggregation whose
    * result — the k × 64 centroid matrix, the standard driver-resident
    * model state of every distributed k-means incl. MLlib's — is all
    * that is ever collected. Deterministic: seeded by the first k
    * vectors, fixed [[KmeansIters]], ties toward the smaller cell id.
    */
  /** Trained quantizers, keyed by (application, dataset): the
    * centroid matrix is a fitted MODEL — [[annIvfTopk]] and
    * [[annIvfRecall]] must share one fit rather than re-running
    * Lloyd's per query, exactly as a production index shares its
    * trained quantizer across searches. Deterministic fit ⇒ caching
    * cannot change any result.
    */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Seq[Seq[Double]]]

  private[graft] def kmeansCentroids(s: SparkSession, d: String): Seq[Seq[Double]] =
    centroidCache.getOrElseUpdate((s.sparkContext.applicationId, d),
      fitCentroidsOn(withNorm(s, d)))

  private def fitCentroidsOn(e: DataFrame): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = e
      .orderBy(col("vec_id")).select(col("v")).limit(NumCells).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to KmeansIters) {
      val means = e
        .withColumn("cell", (-array_max(centroidSims(cents)).getField("negcell")).cast("int"))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      cents = cents.indices.map { c =>
        // empty cells keep their previous centroid
        if (means.contains((c, 0))) (0 until 64).map(p => means((c, p)))
        else cents(c)
      }
    }
    cents
  }

  /** IVF candidate set over the k-means quantizer: assign every vector
    * to its nearest cell (map-side argmax), probe each query's
    * [[NumProbe]] nearest cells, candidates = cell-equality join — the
    * inverted-file shape that scales to billions of vectors.
    */
  private[graft] def ivfCandidates(s: SparkSession, d: String): DataFrame = {
    val cents = kmeansCentroids(s, d)
    val e = withNorm(s, d).withColumn("sims", centroidSims(cents))
    val cells = e
      .withColumn("cell", (-array_max(col("sims")).getField("negcell")).cast("int"))
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("v").as("vb"), col("nrm").as("nrmb"))
    val probes = e.filter(col("vec_id") < NumQueryVecs)
      .withColumn("cell", explode(expr(
        s"transform(slice(reverse(array_sort(sims)), 1, $NumProbe), e -> cast(-e.negcell AS int))")))
      .select(col("vec_id").as("query_id"), col("cell"),
        col("v").as("va"), col("nrm").as("nrma"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** IVF (inverted-file) ANN over the [[kmeansCentroids]] quantizer.
    * Full hash oracle via [[candTopkOracle]]; [[annIvfRecall]] is the
    * oracle-gated quality row.
    */
  def annIvfTopk(s: SparkSession, d: String): DataFrame =
    topkOf(ivfCandidates(s, d))

  /** Cell count for a corpus of `n` vectors on the SCALED-k path:
    * k ≈ √n keeps the expected cell size at √n, so a probe touches
    * `nprobe·√n` vectors instead of `nprobe·n/k_fixed` — the
    * difference between O(q·√n) and O(q·n) total search work. The
    * fixed [[NumCells]] geometry of [[annIvfTopk]] is kept there for
    * its 10-query benchmark shape; the incremental path's queries
    * scale WITH the corpus (a shard is a fraction of it), so fixed k
    * would be quadratic — measured: the 100× probe with k = 8 ran
    * minutes-long on ~700M candidate pairs before this re-plan.
    */
  private def scaledCells(n: Long): Int =
    math.max(NumCells, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Per-vector nearest-cell assignment against a broadcast centroid
    * matrix as a typed `mapPartitions` KERNEL — at k ≈ √n centroids a
    * literal-expression argmax ([[centroidSims]]) would blow past the
    * janino/JIT method limits exactly as [[pqAssign]] documents, so
    * assignment is plain JIT'd JVM code: same sequential double
    * arithmetic, ties toward the smaller cell, bit-identical to the
    * expression form. Emits (vec_id, cell, v, nrm).
    */
  private def assignCellsKernel(s: SparkSession, e: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    val cn = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    e.select(col("vec_id"), col("v"), col("nrm")).as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.map { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          var bestK = 0
          var best = Double.NegativeInfinity
          var k = 0
          while (k < cents.length) {
            var dp = 0.0
            var i = 0
            while (i < 64) { dp += v(i) * cents(k)(i); i += 1 }
            val sim = dp / nrm / cn(k)
            if (sim > best) { best = sim; bestK = k }
            k += 1
          }
          (id, bestK, vSeq, nrm)
        }
      }.toDF("vec_id", "cell", "v", "nrm")
  }

  /** Top-`nprobe` cells per query vector (desc sim, ties toward the
    * smaller cell) — same kernel discipline as [[assignCellsKernel]];
    * one output row per (vector, probed cell).
    */
  private def probeCellsKernel(s: SparkSession, e: DataFrame,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    import s.implicits._
    val cn = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    e.select(col("vec_id"), col("v"), col("nrm")).as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          val sims = new Array[Double](cents.length)
          var k = 0
          while (k < cents.length) {
            var dp = 0.0
            var i = 0
            while (i < 64) { dp += v(i) * cents(k)(i); i += 1 }
            sims(k) = dp / nrm / cn(k)
            k += 1
          }
          val chosen = new Array[Int](math.min(nprobe, cents.length))
          var p = 0
          while (p < chosen.length) {
            var bestK = -1
            var best = Double.NegativeInfinity
            var c = 0
            while (c < sims.length) {
              var taken = false
              var q = 0
              while (q < p) { if (chosen(q) == c) taken = true; q += 1 }
              if (!taken && sims(c) > best) { best = sims(c); bestK = c }
              c += 1
            }
            chosen(p) = bestK
            p += 1
          }
          chosen.iterator.map(c => (id, c, vSeq, nrm))
        }
      }.toDF("vec_id", "cell", "v", "nrm")
  }

  /** Spherical k-means fit at an arbitrary k via the kernel
    * assignment — [[fitCentroidsOn]]'s exact recipe (seed = first k
    * vectors, [[KmeansIters]] Lloyd's rounds, empty cells keep their
    * centroid) with the assignment step swapped for
    * [[assignCellsKernel]] so k ≈ √n fits don't hit expression-size
    * limits. Collected state is the k × 64 centroid matrix only.
    */
  private def fitCentroidsKernelOn(s: SparkSession, e: DataFrame, k: Int): Seq[Seq[Double]] = {
    var cents: Array[Array[Double]] = e
      .orderBy(col("vec_id")).select(col("v")).limit(k).collect()
      .map(_.getSeq[Double](0).toArray)
    for (_ <- 1 to KmeansIters) {
      val means = assignCellsKernel(s, e, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
        .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      cents = Array.tabulate(cents.length) { c =>
        if (means.contains((c, 0))) Array.tabulate(64)(p => means((c, p)))
        else cents(c)
      }
    }
    cents.map(_.toSeq).toSeq
  }

  /** Scaled-k quantizer fitted on the BASE corpus only (vec_id % 20
    * ≠ 0) — the index that existed before the incremental shard
    * arrived. Cached like [[kmeansCentroids]]: one fit per dataset.
    */
  private[graft] def baseCentroids(s: SparkSession, d: String): Seq[Seq[Double]] = {
    val base = withNorm(s, d).filter(pmod(col("vec_id"), lit(20)) =!= 0)
    centroidCache.getOrElseUpdate((s.sparkContext.applicationId, d + "#base"),
      fitCentroidsKernelOn(s, base, scaledCells(base.count())))
  }

  /** Candidates for [[annIvfIncrementalTopk]]: every NEW-shard vector
    * (vec_id % 20 = 0, the same holdout convention as the dedup
    * family's incremental shard) probes its [[NumProbe]] nearest
    * cells OF THE FITTED BASE INDEX and meets only the base-corpus
    * vectors in those cells. With k ≈ √n cells the candidate volume
    * is O(shard · nprobe · √n) — linear-ish in corpus growth, not
    * the quadratic fixed-k shape.
    */
  private[graft] def incrementalCandidates(s: SparkSession, d: String): DataFrame = {
    val cents = baseCentroids(s, d).map(_.toArray).toArray
    val e = withNorm(s, d)
    val cells = assignCellsKernel(s, e.filter(pmod(col("vec_id"), lit(20)) =!= 0), cents)
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("v").as("vb"), col("nrm").as("nrmb"))
    val probes = probeCellsKernel(s, e.filter(pmod(col("vec_id"), lit(20)) === 0),
        cents, NumProbe)
      .select(col("vec_id").as("query_id"), col("cell"),
        col("v").as("va"), col("nrm").as("nrma"))
    probes.join(cells, Seq("cell"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Incremental ANN ingestion — the search-on-ingest shape of a
    * production vector index (the ANN mirror of dedup_incremental /
    * dedup_incremental_minhash): a NEW shard of vectors arrives, the
    * quantizer fitted on the EXISTING corpus is NOT refit (re-running
    * Lloyd's per shard would re-shuffle the whole index; production
    * IVF indexes refresh their coarse quantizer rarely and offline),
    * each new vector is assigned to its nearest fitted cells and
    * searched against only the base vectors in those cells — top-k
    * per new vector. Unlike the 10-query [[annIvfTopk]] benchmark,
    * the shard's query count scales WITH the corpus, so this path
    * uses the scaled-k quantizer (k ≈ √n, [[scaledCells]]) and the
    * janino-safe kernel assignment. At 100 TB the arriving shard is
    * the only data that moves: cell assignment is a map-side kernel
    * against the broadcast centroid matrix (O(n·k·d) flops — at
    * billion-vector scale production indexes accelerate THIS step
    * with an ANN over the centroids themselves; the data movement
    * shape is unchanged), and the cell-equality join touches the
    * base corpus's matching cells only (cell-partitioned layout ⇒
    * partition pruning). Full hash oracle via [[candTopkOracle]] —
    * DuckDB recomputes cosine + ranking over the dumped candidate
    * pairs; the shard convention (vec_id % 20) is the dedup family's
    * holdout split, so queries and corpus are disjoint by
    * construction.
    */
  def annIvfIncrementalTopk(s: SparkSession, d: String): DataFrame =
    topkOf(incrementalCandidates(s, d))

  // min macro-recall@5 of the stale-quantizer grown index vs exact
  // truth over the grown corpus (measured 0.90 recall at 0.168 max
  // candidate fraction at sf0.01 — scaled-k probes touch
  // ~nprobe·√n vectors, hence the tight prune bar)
  val UpsertRecallBar = 0.6
  val UpsertPruneBar = 0.35

  /** Candidates for the MAINTAINED (upserted) IVF index
    * ([[annIvfUpsertTopk]]): the index after ingesting the new shard
    * WITHOUT refitting the quantizer — every vector of the grown
    * corpus (base + shard) is assigned map-side to the centroids
    * fitted on the base corpus alone ([[baseCentroids]], the stale
    * production quantizer), and the standard query set probes its
    * [[NumProbe]] nearest cells of that grown index. This is the
    * other half of the incremental-ANN story next to
    * [[incrementalCandidates]] (which searches the shard AGAINST the
    * base): here the shard has been ABSORBED and ordinary queries
    * must find both old and new vectors through the unchanged cell
    * geometry — the production vector-store maintenance loop (assign
    * on ingest map-side, refit rarely and offline as a separate batch
    * op, which in this engine is just re-running the
    * [[fitCentroidsKernelOn]] fit). [[annIvfUpsertRecall]] gates that
    * the STALE geometry still clears the recall bar on the grown
    * corpus — the measurement that tells a production operator when a
    * refit is actually due.
    */
  private[graft] def upsertCandidates(s: SparkSession, d: String): DataFrame = {
    val cents = baseCentroids(s, d).map(_.toArray).toArray
    val e = withNorm(s, d)
    // the upsert: base AND shard assigned to the existing centroids
    // (one map-side kernel pass, no refit, no reshuffle of the base)
    val cells = assignCellsKernel(s, e, cents)
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        col("v").as("vb"), col("nrm").as("nrmb"))
    val probes = probeCellsKernel(s, e.filter(col("vec_id") < NumQueryVecs),
        cents, NumProbe)
      .select(col("vec_id").as("query_id"), col("cell"),
        col("v").as("va"), col("nrm").as("nrma"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Top-k over the maintained (post-upsert) IVF index — full hash
    * oracle via [[candTopkOracle]] over the dumped candidate pairs.
    */
  def annIvfUpsertTopk(s: SparkSession, d: String): DataFrame =
    topkOf(upsertCandidates(s, d))

  /** Recall/prune gate for the maintained index: macro-recall@[[TopK]]
    * vs the exact brute-force truth over the GROWN corpus (base +
    * absorbed shard) must clear [[UpsertRecallBar]] — i.e. the stale
    * quantizer is still serving the corpus it did not see. DuckDB
    * recomputes the gate from the dumped candidates. */
  def annIvfUpsertRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, upsertCandidates(s, d), UpsertRecallBar, UpsertPruneBar)

  /** Scaled-k quantizer for the SemDedup path, fitted on the FULL
    * corpus with k ≈ √n cells ([[scaledCells]] — the same discipline
    * as the incremental ANN index): expected cell size stays √n, so
    * the within-cell pair scan is O(n·√n) instead of the fixed-k
    * O(n²/k) that goes quadratic as the corpus grows under a frozen
    * geometry. Cached like [[kmeansCentroids]]; collected state is
    * the k × 64 centroid matrix only.
    */
  private[graft] def semCentroids(s: SparkSession, d: String): Seq[Seq[Double]] =
    centroidCache.getOrElseUpdate((s.sparkContext.applicationId, d + "#sem"),
      fitCentroidsKernelOn(s, withNorm(s, d),
        scaledCells(Tables.parquetRowCount(s, d, "embeddings"))))

  /** Every vector with its nearest-centroid cell (map-side kernel
    * argmax over the scaled [[semCentroids]] quantizer — no join, no
    * shuffle; at k ≈ √n centroids a literal-expression argmax would
    * blow the janino method limit, see [[assignCellsKernel]]).
    */
  private[graft] def cellAssigned(s: SparkSession, d: String): DataFrame = {
    val cents = semCentroids(s, d).map(_.toArray).toArray
    assignCellsKernel(s, withNorm(s, d), cents)
  }

  /** SemDedup-style semantic dedup: cluster the embedding space with
    * the spherical-k-means quantizer, then compare ONLY within-cell
    * pairs and drop every vector that has a smaller-id within-cell
    * neighbor at cosine ≥ [[CosineThreshold]] (`rep_id` = the smallest
    * such neighbor; greedy keep-first, exactly SemDedup's
    * drop-all-but-one-per-cluster-pair rule, made deterministic by the
    * id order). The cell-equality self-join bounds the compute at
    * Σ n_c² instead of n² — the entire point of SemDedup — and k
    * SCALES with the corpus (k ≈ √n via [[semCentroids]], the same
    * discipline as the incremental ANN index), so cells stay ~√n-sized
    * and the join-key cardinality grows with the data; the quality of
    * the trade is gated by [[dedupSemanticGate]]. Sort-merge join: both sides are the
    * corpus, a hash build is resident and a broadcast is corpus-sized.
    * Quantizer cells are a fitted model, not SQL — so Verify dumps
    * the cell assignment and the oracle recomputes the whole output
    * from it FOR REAL (within-cell join, exact cosines, threshold,
    * min-rep), while the GATE row separately certifies the
    * quantizer's recall/work quality — same split as the ANN
    * top-k/recall pairs.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val e = cellAssigned(s, d).localCheckpoint()
    val a = e.select(col("cell"), col("vec_id").as("ida"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("idb"),
      col("v").as("vb"), col("nrm").as("nb"))
    // division order matches dedupEmbeddingCosine (smaller id's norm
    // first — the a side is the smaller id by the filter), so the
    // rounded threshold agrees bit-exactly with the exact path.
    val drops = a.hint("merge").join(b, Seq("cell"))
      .filter(col("ida") < col("idb"))
      .withColumn("cosine", round(pairDot / col("na") / col("nb"), 4))
      .filter(col("cosine") >= CosineThreshold)
      .groupBy(col("idb")).agg(min(col("ida")).as("rep_id"))
      .select(col("idb").as("vec_id"), col("rep_id"))
    e.select(col("vec_id"), col("cell").cast("long").as("cell"))
      .hint("merge")
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rep_id").isNull, 1L).otherwise(0L).as("keep"), col("rep_id"))
      .orderBy(col("vec_id"))
  }

  /** CORRECTNESS bars for [[dedupSemanticGate]] — SELF-CALIBRATING to
    * the scaled k ≈ √n geometry (round 9; the fixed-k 0.25/0.2 bars
    * died with the fixed k=8 quantizer): a random balanced partition's
    * expected within-cell containment of the exact pair set EQUALS its
    * scan fraction, so `recall_ok` certifies the quantizer beats
    * random by ≥ [[SemRandomEdge]] at its ACTUAL scan cost
    * (n_within/n_exact ≥ edge · scan_pairs/all_pairs), and `work_ok`
    * bounds the scan at [[SemWorkSlack]] × the balanced 1/k — a
    * collapsed-cell quantizer (everything in one cell would ace
    * recall) fails work, a shattered one fails recall. Measured at
    * sf0.001/0.01/0.1 (k = 23/23/45): containment 0.199–0.212 of the
    * exact pairs at scan fractions 0.022–0.043 — a 4.7–9.0× edge over random
    * on this ANN-hostile corpus (qualifying pairs at cosine 0.40–0.60,
    * no tight clusters); on a clustered corpus (near-dups at cosine ≥
    * 0.9) containment approaches 1 and the bars hold with huge margin.
    */
  val SemRandomEdge = 2.0 // min quantizer-vs-random containment edge
  val SemWorkSlack = 4.0 // max scan as a multiple of the balanced 1/k

  /** Oracle-gated quality row for [[dedupSemantic]]: `n_exact_pairs`
    * (DuckDB-recomputable — a REAL oracle quantity, unlike the ANN
    * gates' query count), `recall_ok` = the within-cell scan sees at
    * least [[SemRandomEdge]] × its scan fraction of the exact cosine
    * pairs (the beats-random certificate), and `work_ok` = the
    * within-cell pair space is at most [[SemWorkSlack]]/k of
    * all-pairs. A quantizer regression (lost recall or collapsed
    * cells blowing up the scan) flips a flag and fails the hash.
    */
  /** The gate's ground truth — the exact cosine pair set — cached
    * per dataset like [[groundTruthCache]], but as a DISTRIBUTED
    * checkpoint rather than a driver collect: the pair set is
    * data-sized (unlike the q·k ANN ground truth), so it stays in
    * executor storage. Validation state only: the
    * `dedup_embedding_cosine` QUERY never reads this cache, so its
    * bench time keeps measuring the real block-pair scan.
    */
  private val exactPairCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  private def exactPairsFor(s: SparkSession, d: String): DataFrame =
    exactPairCache.getOrElseUpdate((s.sparkContext.applicationId, d),
      graft.StateRegistry.checkpointed("exactPairs",
        dedupEmbeddingCosine(s, d).select(col("vec_a"), col("vec_b"))))

  def dedupSemanticGate(s: SparkSession, d: String): DataFrame = {
    val k = semCentroids(s, d).length
    val cells = cellAssigned(s, d).select(col("vec_id"), col("cell")).localCheckpoint()
    val exact = exactPairsFor(s, d)
    val sameCell = exact
      .hint("merge").join(cells.select(col("vec_id").as("vec_a"), col("cell").as("ca")), "vec_a")
      .hint("merge").join(cells.select(col("vec_id").as("vec_b"), col("cell").as("cb")), "vec_b")
      .agg(count(lit(1)).as("n_exact_pairs"),
        sum((col("ca") === col("cb")).cast("long")).as("n_within"))
    val work = cells.groupBy(col("cell")).agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc") * (col("nc") - 1) / 2).as("scan_pairs"),
        (sum(col("nc")) * (sum(col("nc")) - 1) / 2).as("all_pairs"))
    sameCell.crossJoin(broadcast(work))
      .select(col("n_exact_pairs"),
        (col("n_within") * col("all_pairs") >=
          lit(SemRandomEdge) * col("n_exact_pairs") * col("scan_pairs"))
          .cast("long").as("recall_ok"),
        (col("scan_pairs") * k <= col("all_pairs") * SemWorkSlack)
          .cast("long").as("work_ok"))
  }

  /** Oracle-gated recall/prune row for an ANN path: did the
    * approximate top-k recover at least `recallBar` of all exact
    * query×top-k pairs (macro-recall), while no query generated more
    * than `pruneBar` × corpus candidates? One output row
    * (n_queries, recall_ok, prune_ok); the oracle asserts (10, 1, 1).
    * The ANN configuration is deterministic (seeded planes / seeded
    * quantizer), so the measured values are constants and any
    * regression in recall OR candidate volume flips a flag and fails
    * the driver's hash compare — the honest quality gate for a
    * probabilistic operator whose exact result set is not
    * SQL-reproducible.
    */
  /** Exact ground-truth top-k pairs per query, keyed like
    * [[centroidCache]]: the (query → true top-[[TopK]] neighbors) map
    * is EVALUATION state — ~q·k ids, computed once per dataset and
    * shared by all three recall gates, exactly as ANN benchmark
    * harnesses precompute and store ground truth rather than re-running
    * the exact scan per evaluated index. Deterministic (exact cosine,
    * deterministic tie-break) ⇒ caching cannot change any gate value.
    */
  private val groundTruthCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Map[Long, Seq[Long]]]

  /** Drop the EVALUATION-state caches (exact-pair set, ANN ground
    * truth) so a subsequent run pays their computation again. Bench
    * calls this between its two passes: without it the min-of-2 time
    * for the gate queries would exclude their dominant input entirely
    * (the ground truth would be a leftover from pass 1), and the
    * reported numbers would not measure the work the query performs.
    * Trained MODEL state (centroids, PQ codebooks, the eval-gram
    * bloom sketch) is deliberately NOT cleared — a production
    * deployment fits those once and serves many queries, and the
    * DuckDB baseline is not re-fitting a quantizer per query either.
    * Within one pass the ground truth is still shared across the
    * three recall gates (the standard ANN-benchmark posture: ground
    * truth is computed once per dataset, not once per index).
    */
  private[graft] def resetEvalCaches(): Unit = {
    dropDistributedEvalState()
    groundTruthCache.clear()
  }

  /** Drop only the DISTRIBUTED eval state (the checkpointed
    * exact-pair DataFrame), releasing its registered blocks (see
    * [[graft.StateRegistry]]). Bench calls this after every query:
    * exactPairsFor has exactly one caller per pass
    * (dedup_semantic_gate), so clearing it between queries costs zero
    * recomputation and keeps the pair-sized blocks out of storage.
    * Driver-side model/eval maps (ground truth, centroids, codebooks)
    * are untouched — they hold no executor storage.
    */
  private[graft] def dropDistributedEvalState(): Unit = {
    exactPairCache.values.headOption.foreach(df =>
      graft.StateRegistry.release(df.sparkSession, "exactPairs"))
    exactPairCache.clear()
  }

  private def groundTruth(s: SparkSession, d: String): Map[Long, Seq[Long]] =
    groundTruthCache.getOrElseUpdate((s.sparkContext.applicationId, d),
      annBruteforceTopk(s, d).select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSeq })

  /** Label-restricted truth for the filtered rows: the exact filtered
    * top-k ([[annFilteredTopk]]), cached like [[groundTruth]]. */
  private def filteredGroundTruth(s: SparkSession, d: String): Map[Long, Seq[Long]] =
    groundTruthCache.getOrElseUpdate((s.sparkContext.applicationId, d + "#filtered"),
      annFilteredTopk(s, d).select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSeq })

  private def recallGate(s: SparkSession, d: String, cand0: DataFrame,
      recallBar: Double, pruneBar: Double,
      gt: => Map[Long, Seq[Long]] = null): DataFrame = {
    // the candidate set feeds both the top-k ranking and the volume
    // accounting; materialize it once — it is already the size-bounded
    // object the prune flag certifies. (Measured: dropping this
    // checkpoint does NOT speed the gate — the candidate set is small,
    // so the barrier is cheap and keeps the lambda-bearing generation
    // subtree out of the window stage's map side.)
    val cand = cand0.localCheckpoint()
    // ground truth as an in-plan literal map (~q·k ids): hit-marking is
    // a codegen'd map lookup, not a join — one window + one aggregation
    // over the candidate set yields both gate scalars in a single job.
    val gtCol = typedLit(Option(gt).getOrElse(groundTruth(s, d)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val fromCand = cand
      .withColumn("rank", row_number().over(w))
      .withColumn("hit", when(col("rank") <= TopK &&
          array_contains(element_at(gtCol, col("query_id")), col("neighbor_id")),
        lit(1L)).otherwise(lit(0L)))
      .groupBy(col("query_id"))
      .agg(sum(col("hit")).as("q_hit"), count(lit(1)).as("n_cand"))
      .agg(sum(col("q_hit")).as("n_hit"), max(col("n_cand")).as("max_cand"))
    val corpus = withNorm(s, d).agg(
      count(lit(1)).as("n_total"),
      sum(when(col("vec_id") < NumQueryVecs, lit(1L)).otherwise(lit(0L))).as("n_queries"))
    corpus.crossJoin(broadcast(fromCand))
      .select(col("n_queries"),
        (col("n_hit") >= col("n_queries") * TopK * recallBar).cast("long").as("recall_ok"),
        (col("max_cand") <= col("n_total") * pruneBar).cast("long").as("prune_ok"))
  }

  def annLshRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, lshCandidates(s, d), LshRecallBar, LshPruneBar)

  def annIvfRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, ivfCandidates(s, d), IvfRecallBar, IvfPruneBar)

  // ---------------------------------------------------------------
  // Product quantization (PQ): the memory-compression ANN path.
  // A 64-float vector (256 B) becomes [[PqSubspaces]] 4-bit codes
  // (4 B with [[PqCodes]] = 16) — 64× compression — and search runs
  // over the codes via asymmetric distance computation (ADC): each
  // query precomputes a (subspace × code) partial-dot lookup table
  // against the codebooks, the corpus scan sums M table entries per
  // vector, and only the ADC top-[[PqRefine]] are re-ranked with
  // exact vectors. At 100 TB this is the shape that lets the index
  // live in memory when the raw vectors cannot (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011).
  // ---------------------------------------------------------------

  val PqSubspaces = 8 // M: subvectors per vector (64 dims → 8 dims each)
  val PqSubDim = 8 // dims per subspace
  val PqCodes = 16 // K: codebook entries per subspace (4-bit codes)
  val PqIters = 3 // Lloyd's iterations per subspace codebook
  val PqRefine = 64 // ADC candidates re-ranked exactly per query

  /** Per-vector PQ assignment: for every subspace m, the argmin-‖sv−c‖²
    * code (computed as argmax (sv·c − ‖c‖²/2), ties toward the smaller
    * code id) plus the subvector itself — emitted as (vec_id, m, code,
    * sv) rows from a typed mapPartitions KERNEL over the broadcast
    * M×K×[[PqSubDim]] codebook tensor. Pure map-side, no join, no
    * shuffle — and deliberately NOT a literal-expression argmax like
    * [[centroidSims]] (8 centroids): at M×K = 128 literal dot
    * expressions the generated projection blows past the JIT/janino
    * method limits, so every fresh plan paid a ~2s compile and then
    * ran INTERPRETED anyway (measured: the whole-stage codegen
    * disabled warning, 13s codebook fit / 2.3s encode at sf0.1's mere
    * 2000 vectors, both compile-bound). The kernel is plain JIT'd JVM
    * code with the same sequential left-to-right double arithmetic,
    * so assignments are bit-identical to the expression form.
    */
  private def pqAssign(s: SparkSession, d: String,
      books: Map[(Int, Int), Seq[Double]]): DataFrame = {
    import s.implicits._
    val bk: Array[Array[Array[Double]]] =
      Array.tabulate(PqSubspaces, PqCodes)((m, k) => books((m, k)).toArray)
    val half: Array[Array[Double]] = bk.map(_.map(c => c.map(x => x * x).sum / 2))
    val M = PqSubspaces; val K = PqCodes; val D = PqSubDim
    withNorm(s, d).select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq) =>
          val v = vSeq.toArray
          (0 until M).iterator.map { m =>
            (id, m, pqBestCode(bk, half, v, m, K, D),
              v.slice(m * D, (m + 1) * D).toSeq)
          }
        }
      }.toDF("vec_id", "m", "code", "sv")
  }

  /** The ONE PQ-encode inner loop (ADVICE r15: [[pqAssign]] and
    * [[pqAssignCell]] carried hand-written copies a future edit could
    * silently diverge; parity now holds by construction, on top of the
    * PropertySpec pin): argmax (sv·c − ‖c‖²/2) over subspace m's K
    * codes, strict >, ties toward the smaller code id, sequential
    * left-to-right double accumulation.
    */
  private def pqBestCode(bk: Array[Array[Array[Double]]],
      half: Array[Array[Double]], v: Array[Double], m: Int, K: Int, D: Int): Int = {
    var best = Double.NegativeInfinity
    var bestK = 0
    var k = 0
    while (k < K) {
      val c = bk(m)(k)
      var dp = 0.0
      var i = 0
      while (i < D) { dp += v(m * D + i) * c(i); i += 1 }
      val sim = dp - half(m)(k)
      if (sim > best) { best = sim; bestK = k }
      k += 1
    }
    bestK
  }

  /** The ONE coarse-cell argmax (ADVICE r15, same rationale as
    * [[pqBestCode]]): cosine argmax over the centroid matrix with the
    * exact [[centroidSims]] arithmetic — nrm = sqrt(Σv²) accumulated
    * sequentially, sim = (dot / nrm) / cn, strict >, ties toward the
    * smaller cell.
    */
  private def cellArgmax(cm: Array[Array[Double]], cn: Array[Double],
      v: Array[Double]): Int = {
    var nacc = 0.0
    var ni = 0
    while (ni < v.length) { nacc += v(ni) * v(ni); ni += 1 }
    val nrm = math.sqrt(nacc)
    var best = Double.NegativeInfinity
    var bestCell = 0
    var c = 0
    while (c < cm.length) {
      val cc = cm(c)
      val n = math.min(v.length, cc.length)
      var dp = 0.0
      var i = 0
      while (i < n) { dp += v(i) * cc(i); i += 1 }
      val sim = dp / nrm / cn(c)
      if (sim > best) { best = sim; bestCell = c }
      c += 1
    }
    bestCell
  }

  /** FUSED PQ-encode + coarse-cell assignment kernel (r15): one corpus
    * pass emitting (vec_id, label, cell, m, code) — the IVFPQ serving
    * paths previously ran TWO full passes (the [[pqAssign]] encode and
    * a separate centroid-argmax pass) and re-joined them on vec_id (a
    * corpus-sized M-row exchange). The cell computation is
    * BIT-IDENTICAL to the [[centroidSims]] expression form: v is the
    * same post-cast double array, nrm = sqrt(dot(v, v)) with the same
    * sequential accumulation as [[graft.functions.DotProduct]],
    * sim = (dot / nrm) / cn with cn = math.sqrt(Σc²) exactly as
    * centroidSims builds its literal, and the argmax replicates
    * array_max over (sim, −cell) structs (strict >, ties keep the
    * smaller cell) — pinned against the expression form in
    * PropertySpec. `label` rides through the kernel map-side for the
    * filtered variant (the unfiltered path feeds a zero literal).
    */
  private[graft] def pqAssignCell(s: SparkSession, in: DataFrame,
      books: Map[(Int, Int), Seq[Double]], cents: Seq[Seq[Double]]): DataFrame = {
    import s.implicits._
    val bk: Array[Array[Array[Double]]] =
      Array.tabulate(PqSubspaces, PqCodes)((m, k) => books((m, k)).toArray)
    val half: Array[Array[Double]] = bk.map(_.map(c => c.map(x => x * x).sum / 2))
    val cm: Array[Array[Double]] = cents.map(_.toArray).toArray
    val cn: Array[Double] = cents.map(c => math.sqrt(c.map(x => x * x).sum)).toArray
    val M = PqSubspaces; val K = PqCodes; val D = PqSubDim
    in.as[(Long, Option[Int], Seq[Double])]
      .mapPartitions { it =>
        it.flatMap { case (id, label, vSeq) =>
          val v = vSeq.toArray
          val cell = cellArgmax(cm, cn, v)
          (0 until M).iterator.map { m =>
            (id, label, cell, m, pqBestCode(bk, half, v, m, K, D))
          }
        }
      }.toDF("vec_id", "label", "cell", "m", "code")
  }

  /** Test accessors for the PropertySpec fused-kernel parity pin. */
  private[graft] def centroidSimsForTest(cents: Seq[Seq[Double]]): Column =
    centroidSims(cents)
  private[graft] def pqAssignForTest(s: SparkSession, d: String,
      books: Map[(Int, Int), Seq[Double]]): DataFrame = pqAssign(s, d, books)

  /** Fitted PQ codebooks, keyed like [[centroidCache]]: the M×K×8
    * centroid tensor is model state shared by the top-k and recall
    * queries, exactly as a deployed PQ index shares one training run.
    */
  private val codebookCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Map[(Int, Int), Seq[Double]]]

  private[graft] def pqCodebooks(s: SparkSession, d: String): Map[(Int, Int), Seq[Double]] =
    codebookCache.getOrElseUpdate((s.sparkContext.applicationId, d), fitCodebooks(s, d))

  /** Per-subspace k-means codebooks via Lloyd's on DataFrames (same
    * pattern as [[fitCentroids]]): assignment is the [[pqAssign]]
    * kernel; the update is one bounded groupBy(m, code, pos) avg over
    * the kernel's (m, code, sv) rows whose result — the
    * M×K×[[PqSubDim]] codebook tensor, ~4 KB of model state — is all
    * that is ever collected. Deterministic: seeded by the first
    * [[PqCodes]] vectors' subvectors, fixed iterations, ties toward
    * smaller code.
    */
  private def fitCodebooks(s: SparkSession, d: String): Map[(Int, Int), Seq[Double]] = {
    val e = withNorm(s, d)
    var books: Map[(Int, Int), Seq[Double]] =
      e.filter(col("vec_id") < PqCodes).orderBy(col("vec_id"))
        .select(col("v")).collect().zipWithIndex.flatMap { case (r, k) =>
          val v = r.getSeq[Double](0)
          (0 until PqSubspaces).map(m => (m, k) -> v.slice(m * PqSubDim, (m + 1) * PqSubDim).toSeq)
        }.toMap
    for (_ <- 1 to PqIters) {
      val means = pqAssign(s, d, books)
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("m"), col("code"), col("pos")).agg(avg(col("x")).as("mu"))
        .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
      books = books.map { case ((m, k), old) =>
        // empty codes keep their previous centroid
        if (means.contains((m, k, 0))) (m, k) -> (0 until PqSubDim).map(p => means((m, k, p)))
        else (m, k) -> old
      }
    }
    books
  }

  /** PQ/ADC candidate set with exact re-rank. Stages, each in its
    * scale-correct shape:
    *  1. encode — map-side typed-kernel argmax ([[pqAssign]]), corpus
    *     → (neighbor_id, m, code), M rows per vector, no shuffle;
    *  2. LUT — the 10 query vectors × M×K codebook entries = a
    *     bounded (q·M·K)-row partial-dot table, broadcast;
    *  3. ADC scan — broadcast hash join codes⋈LUT on (m, code) +
    *     partial-aggregated sum to (query, vector) approximate
    *     cosine: shuffle volume is one row per (query, vector) pair
    *     AFTER map-side combine, the codes table never re-shuffles;
    *  4. refine — the ADC top-[[PqRefine]] per query (bounded:
    *     q·R rows) re-ranked with exact cosines; both the candidate
    *     list and the query vectors broadcast against the corpus.
    * The approximate norm ‖x‖ ≈ √Σₘ‖c_m‖² uses the codebook, so the
    * scan touches only codes — the raw corpus is read once for encode
    * and once for the (bounded) refine join.
    */
  private[graft] def pqCandidates(s: SparkSession, d: String): DataFrame = {
    val books = pqCodebooks(s, d)
    val e = withNorm(s, d)
    val codes = pqAssign(s, d, books)
      .select(col("vec_id").as("neighbor_id"), col("m"), col("code"))
    val adc = codes.join(broadcast(pqLut(s, e, books)), Seq("m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("pdot")) / max(col("nrma")) / sqrt(sum(col("cnorm2")))).as("approx_cos"))
    refineExact(e, adcRefineCut(adc))
  }

  /** The (query × m × code) partial-dot LUT from the same typed-kernel
    * discipline as [[pqAssign]] (128 literal dot expressions per row
    * would pay the same janino-compile/interpret penalty); q·M·K rows,
    * broadcast by callers.
    */
  private def pqLut(s: SparkSession, e: DataFrame,
      books: Map[(Int, Int), Seq[Double]]): DataFrame = {
    import s.implicits._
    val bk: Array[Array[Array[Double]]] =
      Array.tabulate(PqSubspaces, PqCodes)((m, k) => books((m, k)).toArray)
    val cn2: Array[Array[Double]] = bk.map(_.map(c => c.map(x => x * x).sum))
    val M = PqSubspaces; val K = PqCodes; val D = PqSubDim
    e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          for (m <- (0 until M).iterator; k <- (0 until K).iterator) yield {
            var dp = 0.0
            var i = 0
            while (i < D) { dp += v(m * D + i) * bk(m)(k)(i); i += 1 }
            (id, nrm, m, k, dp, cn2(m)(k))
          }
        }
      }.toDF("query_id", "nrma", "m", "code", "pdot", "cnorm2")
  }

  /** Share of the scanned ADC pool the PERCENTILE refine cut keeps
    * (1/[[PqRefineShare]]): a fixed refine DEPTH decays as the probed
    * pool grows — a true neighbor's ADC rank is approximately
    * percentile-stable when the pool fills with i.i.d. crowding noise,
    * so the depth-64 cut that holds 8.5% of sf0.1's ~750-code pool
    * keeps it, while the same 64 is 0.085% of the 100x pool and the
    * gate MEASURABLY fails there (recall_ok = 0 at the r15 100x probe,
    * the first recall gate ever run at 100x). 1/12 ≈ the 64/750 share
    * the committed sf0.1 bars were calibrated at; the [[PqRefine]]
    * floor keeps every small-SF cut at least as deep as before (a
    * deeper cut can only add candidates ahead of the exact re-rank, so
    * recall is monotone in it) and the kept share is ≤ probed-mass/12
    * ≤ (NumProbe/NumCells)/12 ≈ 3.1% of the corpus — far inside the
    * 15% prune bar at any scale.
    */
  val PqRefineShare = 12

  /** ADC refine cut per query: fixed top-[[PqRefine]] depth
    * (`percentile = false`, flat PQ's corpus-wide-scan shape, whose
    * shrinking candidate FRACTION is the point of that baseline form),
    * or the scale-true percentile cut max([[PqRefine]],
    * pool/[[PqRefineShare]]) (`percentile = true`, the IVF-pruned
    * forms, whose pool is already bounded by the probed cells). Either
    * way a bounded q·R candidate list (the window ranks rows already
    * reduced to one per (query, vector); at 100 TB the ADC aggregation
    * bounds what reaches it).
    */
  private def adcRefineCut(adc: DataFrame, percentile: Boolean = false): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id").asc)
    // window expressions must be materialized as columns before the
    // filter (Spark disallows them in WHERE); both windows share the
    // query_id partitioning so this is one exchange, one sort
    val ranked = adc.withColumn("rk", row_number().over(wq))
      .withColumn("cut",
        if (!percentile) lit(PqRefine.toLong)
        else greatest(lit(PqRefine.toLong),
          ceil(count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("query_id")))
            .cast("double") / PqRefineShare)))
    ranked.filter(col("rk") <= col("cut"))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact-cosine re-rank of a bounded candidate list: both the list
    * and the query vectors broadcast against one corpus scan.
    */
  private def refineExact(e: DataFrame, cand: DataFrame): DataFrame = {
    val qv = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val nv = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    nv.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** IVF+PQ candidate set — the FAISS IVFPQ composition, the actual
    * billion-scale serving shape: the coarse quantizer restricts the
    * ADC scan to each query's [[NumProbe]] probed cells (an
    * inverted-file partition prune — at 100 TB with cell-partitioned
    * code storage this is a partition-pruned scan, reading
    * nprobe/k of the codes), PQ codes approximate the scoring inside
    * those cells, and the ADC top-[[PqRefine]] survivors re-rank
    * exactly. Against flat PQ the scan shrinks by ~k/nprobe; against
    * flat IVF the probed cells are read as M-byte codes, not raw
    * vectors. The probe list (q·nprobe rows) and LUT both broadcast;
    * the only corpus-sized exchange is the ADC partial-sum
    * aggregation, now on the pruned stream.
    */
  private[graft] def ivfpqCandidates(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d).withColumn("sims", centroidSims(kmeansCentroids(s, d)))
    refineExact(e, adcRefineCut(ivfpqAdc(s, d, e), percentile = true))
  }

  /** The IVFPQ ADC scores — one row per (query, vector-in-a-probed-
    * cell) with the PQ-approximated cosine, before the refine cut. */
  private def ivfpqAdc(s: SparkSession, d: String, e: DataFrame): DataFrame = {
    val books = pqCodebooks(s, d)
    // ONE fused corpus pass for (cell, code): see [[pqAssignCell]] —
    // replaces the former pqAssign pass + centroid-argmax pass +
    // their vec_id re-join
    val codes = pqAssignCell(s,
        withNorm(s, d).select(col("vec_id"),
          lit(null).cast("int").as("label"), col("v")),
        books, kmeansCentroids(s, d))
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("m"), col("code"))
    val probes = e.filter(col("vec_id") < NumQueryVecs)
      .withColumn("cell", explode(expr(
        s"transform(slice(reverse(array_sort(sims)), 1, $NumProbe), e -> cast(-e.negcell AS int))")))
      .select(col("vec_id").as("query_id"), col("cell"))
    codes.join(broadcast(probes), Seq("cell"))
      .join(broadcast(pqLut(s, e, books)), Seq("query_id", "m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("pdot")) / max(col("nrma")) / sqrt(sum(col("cnorm2")))).as("approx_cos"))
  }

  /** CORRECTNESS bars for [[annPqRecall]], calibrated like the
    * LSH/IVF bars (gate-row columns at all three SFs, 10x pinned by
    * `tools/recallprobe.py`; deterministic fit ⇒
    * constants the driver re-verifies). The exact re-rank means
    * precision within the candidate set is 1; recall is bounded by
    * whether the true neighbors survive the ADC top-[[PqRefine]] cut.
    * Measured macro-recall@5: 0.76 / 0.78 / 0.64 at sf0.001/0.01/0.1
    * (the corpus' near-random geometry is ANN-hostile — see the
    * [[NumTables]] note); max candidate fraction 0.128 / 0.128 /
    * 0.032 (= PqRefine/n, shrinking as the corpus grows — the whole
    * point of a fixed refine depth).
    */
  val PqRecallBar = 0.6 // min macro-recall@5 vs exact
  val PqPruneBar = 0.15 // max per-query candidate fraction (R/n at test SFs)

  /** PQ ANN top-k (full hash oracle via [[candTopkOracle]];
    * [[annPqRecall]] is the oracle-gated quality row).
    */
  def annPqTopk(s: SparkSession, d: String): DataFrame =
    topkOf(pqCandidates(s, d))

  def annPqRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, pqCandidates(s, d), PqRecallBar, PqPruneBar)

  /** CORRECTNESS bars for [[annIvfpqRecall]] (gate-row columns at all
    * three SFs, 10x pinned in `recallgates_10x.json`; deterministic
    * fit ⇒ constants the oracle gate re-verifies).
    * A true neighbor must sit in a probed cell AND survive the ADC
    * top-[[PqRefine]] cut — but the cell restriction also removes
    * ADC competitors, so the cut keeps more in-cell true neighbors
    * than flat PQ's corpus-wide cut. Measured macro-recall@5:
    * 0.84 / 0.82 / 0.58 at sf0.001/0.01/0.1 (vs flat PQ's
    * 0.76/0.78/0.64). Max candidate fraction 0.128 / 0.128 / 0.032
    * (≤ min(probed-cell mass, PqRefine/n)).
    */
  val IvfPqRecallBar = 0.5 // min macro-recall@5 vs exact
  val IvfPqPruneBar = 0.15 // max per-query candidate fraction

  /** IVFPQ ANN top-k (full hash oracle via [[candTopkOracle]];
    * [[annIvfpqRecall]] is the oracle-gated quality row).
    */
  def annIvfpqTopk(s: SparkSession, d: String): DataFrame =
    topkOf(ivfpqCandidates(s, d))

  def annIvfpqRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, ivfpqCandidates(s, d), IvfPqRecallBar, IvfPqPruneBar)

  /** FILTERED IVFPQ candidates — [[annFilteredTopk]]'s
    * predicate-as-join-key discipline composed with the
    * [[ivfpqCandidates]] generator: the filtered-vector-search shape
    * every RAG stack runs at scale ("top-k within my tenant/shard/
    * modality", served from the compressed index). The label enters
    * the ADC JOIN KEY alongside the probed cell — candidates are
    * restricted BEFORE scoring, so the ADC scan reads only
    * (probed cell ∩ query label) codes; post-filtering the unfiltered
    * top-k would return < k survivors and waste the scan. At 100 TB
    * with (cell, label)-partitioned code storage this is partition
    * pruning on both dimensions. The exact re-rank touches only the
    * bounded filtered candidate list.
    */
  private[graft] def ivfpqFilteredCandidates(s: SparkSession, d: String): DataFrame = {
    val cents = kmeansCentroids(s, d)
    val books = pqCodebooks(s, d)
    // label carried from the scan (map-side), never joined in
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("sims", centroidSims(cents))
    // ONE fused corpus pass for (cell, code) with label riding
    // map-side (see [[pqAssignCell]])
    val codes = pqAssignCell(s,
        e.select(col("vec_id"), col("label"), col("v")), books, cents)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("m"), col("code"),
        col("label"))
    val probes = e.filter(col("vec_id") < NumQueryVecs)
      .withColumn("cell", explode(expr(
        s"transform(slice(reverse(array_sort(sims)), 1, $NumProbe), e -> cast(-e.negcell AS int))")))
      .select(col("vec_id").as("query_id"), col("cell"), col("label"))
    val adc = codes.join(broadcast(probes), Seq("cell", "label"))
      .join(broadcast(pqLut(s, e, books)), Seq("query_id", "m", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((sum(col("pdot")) / max(col("nrma")) / sqrt(sum(col("cnorm2")))).as("approx_cos"))
    // percentile cut like the unfiltered row: the label-restricted
    // pool is smaller, so the PqRefine floor dominates through 10x and
    // the cut only deepens once the filtered pool itself outgrows
    // PqRefine·PqRefineShare codes — the same scale posture
    refineExact(e.drop("label", "sims"), adcRefineCut(adc, percentile = true))
  }

  /** CORRECTNESS bars for [[annFilteredIvfpqRecall]], calibrated like
    * the other ANN bars (gate-row columns at all three SFs, 10x pinned
    * in `recallgates_10x.json`;
    * deterministic fit ⇒ constants the driver re-verifies) — recall
    * here is against the FILTERED brute force ([[annFilteredTopk]]),
    * not the unfiltered truth. The label restriction removes ADC
    * competitors, so more in-label true neighbors survive the refine
    * cut than in the unfiltered row — measured macro-recall@5:
    * 0.78 / 0.74 / 0.80 at sf0.001/0.01/0.1 (vs unfiltered IVFPQ's
    * 0.84/0.82/0.58). Prune accounting stays corpus-relative: the
    * label cut alone caps candidates near the ~10% label-block mass,
    * measured max fraction 0.048 / 0.044 / 0.032.
    */
  val FilteredIvfPqRecallBar = 0.6 // min macro-recall@5 vs filtered exact
  val FilteredIvfPqPruneBar = 0.06 // max per-query candidate fraction

  /** Filtered IVFPQ top-k, labeled like [[annFilteredTopk]] (full
    * hash oracle via the dumped-candidates replay; the recall row is
    * the quality gate). */
  def annFilteredIvfpq(s: SparkSession, d: String): DataFrame = {
    val qLabels = Tables.embeddings(s, d)
      .filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("label"))
    topkOf(ivfpqFilteredCandidates(s, d))
      .join(broadcast(qLabels), Seq("query_id"))
      .select(col("query_id"), col("label"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annFilteredIvfpqRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, ivfpqFilteredCandidates(s, d),
      FilteredIvfPqRecallBar, FilteredIvfPqPruneBar,
      gt = filteredGroundTruth(s, d))

  /** Int8 embedding quantization: per-vector symmetric max-abs scale
    * (the storage-compression companion to PQ — 4× smaller vectors,
    * exact arithmetic recoverable up to the emitted reconstruction
    * cosine). Pure map-side projection, no shuffle beyond the output
    * sort; every quantity is deterministic double arithmetic mirrored
    * by the DuckDB oracle (scale cancels in the reconstruction cosine,
    * so the hash gates the quantized values themselves via q_sum /
    * q_l1 and the rounded cosine).
    */
  def embQuantizeInt8(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    e.select(col("vec_id"), col("v"), col("nrm"),
        (expr("array_max(transform(v, x -> abs(x)))") / lit(127.0)).as("scale"))
      .withColumn("q", expr("transform(v, x -> cast(round(x / scale, 0) AS double))"))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        expr("aggregate(q, CAST(0 AS bigint), (acc, x) -> acc + cast(x AS bigint))").as("q_sum"),
        expr("aggregate(q, CAST(0 AS bigint), (acc, x) -> acc + abs(cast(x AS bigint)))").as("q_l1"),
        round(dot(col("v"), col("q")) / col("nrm") / sqrt(dot(col("q"), col("q"))), 4)
          .as("recon_cosine"))
      .orderBy(col("vec_id"))
  }

  /** Dimensions (embedding prefix) and power-iteration count for
    * [[embPcaPower]]. */
  val PcaDims = 16
  /** Power-iteration count: the corpus spectrum's λ₂/λ₁ ≈ 0.9, so
    * direction error (λ₂/λ₁)^t needs ~20 steps to pass a cosine-0.99
    * alignment bar against the converged eigenvector (spec-pinned);
    * each step is pure driver math — iteration count costs nothing
    * distributed. */
  val PcaIters = 20

  /** Top principal component of the embedding prefix by POWER
    * ITERATION over a covariance matrix built from integer-exact
    * sums — distributed linear algebra in the
    * [[graft.operators.Curation.curQualityLrFit]] discipline: the
    * only cross-row aggregations are INTEGER (int8-quantized values,
    * fixed ×127 scale), so the Gram/mean sums are exact and
    * order-free — no floating-point reduction-order nondeterminism
    * ever touches an executor. The 16-vector + 16×16 Gram + count
    * reach the driver (bounded model state, the quantizer-fit
    * pattern); covariance entries are exact rationals of those
    * integers; [[PcaIters]] power iterations run driver-side with L∞
    * normalization (max is order-free, unlike an L2 sum) and
    * per-iteration 1e-9 rounding so DuckDB replays the identical
    * trajectory through unrolled matvec CTEs. Output: per-dimension
    * loading of the dominant component, its Rayleigh eigenvalue and
    * explained-variance fraction.
    *
    * At 100 TB: the pass is ONE mapPartitions over the corpus
    * emitting 273 longs per partition — the same
    * map-side-partial-only shape as the LR fit; everything after is
    * O(dims²) driver math.
    */
  /** The ONE distributed pass shared by [[embPcaPower]] and
    * [[embPcaTopr]]: count, per-dim integer sums, and integer Gram of
    * the int8-quantized [[PcaDims]] prefix (exact, order-free). */
  private def pcaIntGram(s: SparkSession, d: String): (Long, Array[Long], Array[Long]) = {
    import s.implicits._
    val dims = PcaDims
    val q = Tables.embeddings(s, d)
      .select(expr(
        s"transform(slice(embedding, 1, $dims), x -> cast(round(cast(x AS double) * 127, 0) AS bigint))")
        .as("q"))
    val parts = q.as[Array[Long]].mapPartitions { it =>
      val sum = new Array[Long](dims)
      val gram = new Array[Long](dims * dims)
      var n = 0L
      it.foreach { v =>
        n += 1
        var i = 0
        while (i < dims) {
          sum(i) += v(i)
          var j = 0
          while (j < dims) { gram(i * dims + j) += v(i) * v(j); j += 1 }
          i += 1
        }
      }
      Iterator.single((n, sum, gram))
    }.collect()
    val n = parts.map(_._1).sum
    val sum = new Array[Long](dims)
    val gram = new Array[Long](dims * dims)
    parts.foreach { case (_, sv, gv) =>
      var i = 0
      while (i < dims) { sum(i) += sv(i); i += 1 }
      var k = 0
      while (k < dims * dims) { gram(k) += gv(k); k += 1 }
    }
    (n, sum, gram)
  }

  private def rnd(x: Double, scale: Int): Double =
    BigDecimal.valueOf(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[PcaIters]] power-iteration steps over covariance `c` from the
    * all-ones start, L∞ normalization and 1e-9 per-step rounding —
    * the trajectory the unrolled oracle CTEs replay verbatim. */
  private def pcaPowerIterate(c: Array[Array[Double]]): Array[Double] = {
    val dims = c.length
    var v = Array.fill(dims)(1.0)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(dims) { i =>
        var acc = 0.0
        var j = 0
        while (j < dims) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      val m = w.map(math.abs).max
      v = w.map(x => rnd(x / m, 9))
    }
    v
  }

  /** Rayleigh-quotient pieces (numerator, denominator) of `v` on `c`. */
  private def pcaRayleigh(c: Array[Array[Double]], v: Array[Double]): (Double, Double) = {
    val dims = c.length
    var num = 0.0
    var den = 0.0
    for (i <- 0 until dims) {
      den += v(i) * v(i)
      for (j <- 0 until dims) num += v(i) * c(i)(j) * v(j)
    }
    (num, den)
  }

  def embPcaPower(s: SparkSession, d: String): DataFrame = {
    val dims = PcaDims
    val (n, sum, gram) = pcaIntGram(s, d)
    // covariance: exact rationals of the integer sums — expression
    // order mirrored in the oracle (integer product, then / n)
    val c = Array.tabulate(dims, dims)((i, j) =>
      (gram(i * dims + j) - (sum(i) * sum(j)).toDouble / n) / (n - 1))
    val v = pcaPowerIterate(c)
    val (num, den) = pcaRayleigh(c, v)
    val eigval = num / den
    val trace = (0 until dims).map(i => c(i)(i)).sum
    val rows = (0 until dims).map(i =>
      ((i + 1).toLong, rnd(v(i), 6), rnd(eigval, 6), rnd(eigval / trace, 6)))
    s.createDataFrame(rows).toDF("dim", "loading", "eigval", "var_frac")
      .orderBy(col("dim"))
  }

  /** Components extracted by [[embPcaTopr]]. */
  val PcaTopR = 4

  /** Top-[[PcaTopR]] principal components by DEFLATED power iteration
    * — the multi-component form SemDedup-style whitening/reduction
    * pipelines actually run (r ≈ 8–32 in production; 4 here keeps the
    * unrolled oracle tractable while exercising every deflation
    * mechanism). Reuses [[embPcaPower]]'s ONE integer-Gram pass
    * unchanged — extracting r components costs zero additional
    * distributed work, only O(r · dims²) driver math: after each
    * component, the covariance is deflated by its Rayleigh eigenpair
    * (c ← c − λ v̂ v̂ᵀ with v̂ L2-normalized) and power iteration
    * restarts from the all-ones vector. λ, v̂ and the deflated entries
    * are rounded to 1e-9 at each step, so the DuckDB oracle replays
    * the FULL r-component trajectory — matvecs, Rayleigh quotients,
    * deflations — through unrolled CTEs with bitwise-matching
    * products (only the oracle's sum ORDER differs, absorbed by the
    * same rounding discipline as [[embPcaPower]]). var_frac is
    * relative to the ORIGINAL trace, so the fractions are comparable
    * across components and sum toward the spectrum's mass.
    *
    * Ordering caveat: on a flat spectrum (near-degenerate λᵣ ≈ λᵣ₊₁,
    * which this corpus has below the top), fixed-step deflation
    * orders components only approximately — consecutive Rayleigh
    * values can swap within the degeneracy gap. Whitening/reduction
    * consumers use the component SET, not its exact order; the spec
    * pins dominance of component 1 and ordering within a 5%
    * tolerance. */
  /** The deflated power-iteration trajectory shared by [[embPcaTopr]]
    * and [[embWhiten]]: for each of the [[PcaTopR]] components, the
    * (L∞-normalized, 1e-9-rounded) loading vector and its Rayleigh
    * (numerator, denominator) on the covariance as deflated so far —
    * the exact sequence the unrolled oracle CTEs replay. */
  private def pcaDeflatedComponents(
      c0: Array[Array[Double]]): Seq[(Array[Double], Double, Double)] = {
    val dims = c0.length
    var c = c0
    (1 to PcaTopR).map { r =>
      val v = pcaPowerIterate(c)
      val (num, den) = pcaRayleigh(c, v)
      if (r < PcaTopR) {
        val eig9 = rnd(num / den, 9)
        val vhat = v.map(x => rnd(x / math.sqrt(den), 9))
        c = Array.tabulate(dims, dims)((i, j) => rnd(c(i)(j) - eig9 * vhat(i) * vhat(j), 9))
      }
      (v, num, den)
    }
  }

  /** Covariance of the int8-quantized [[PcaDims]]-dim prefix from the
    * ONE integer-Gram corpus pass: (n, per-dim integer sums, c). */
  private def pcaCovariance(s: SparkSession, d: String): (Long, Array[Long], Array[Array[Double]]) = {
    val dims = PcaDims
    val (n, sum, gram) = pcaIntGram(s, d)
    val c0 = Array.tabulate(dims, dims)((i, j) =>
      (gram(i * dims + j) - (sum(i) * sum(j)).toDouble / n) / (n - 1))
    (n, sum, c0)
  }

  def embPcaTopr(s: SparkSession, d: String): DataFrame = {
    val dims = PcaDims
    val (_, _, c0) = pcaCovariance(s, d)
    val trace = (0 until dims).map(i => c0(i)(i)).sum
    val rows = pcaDeflatedComponents(c0).zipWithIndex.flatMap { case ((v, num, den), idx) =>
      val eigval = num / den
      (0 until dims).map(i =>
        ((idx + 1).toLong, (i + 1).toLong, rnd(v(i), 6), rnd(eigval, 6), rnd(eigval / trace, 6)))
    }
    s.createDataFrame(rows)
      .toDF("component", "dim", "loading", "eigval", "var_frac")
      .orderBy(col("component"), col("dim"))
  }

  /** PCA WHITENING over the [[PcaDims]]-dim embedding prefix — the
    * preprocessing SemDedup/DSIR-style pipelines run before cosine
    * thresholding (dominant directions carry corpus-wide boilerplate
    * variance; whitening equalizes them so semantic distance isn't
    * swamped by the top component). Each vector's int8-quantized
    * prefix (the SAME quantization as the PCA fit) is projected onto
    * the [[PcaTopR]] L2-normalized components and scaled by
    * 1/√λᵣ: output (vec_id, component, w) with per-component
    * ~zero mean and ~unit variance (spec-pinned).
    *
    * Scale shape: the FIT is [[pcaIntGram]]'s one
    * map-side-partial-only corpus pass (273 longs per partition to
    * the driver); the APPLY is an embarrassingly-parallel typed
    * kernel with the 4×16 projection matrix broadcast in the
    * closure — no shuffle at any width, so the operator is a single
    * map stage at 100 TB. Determinism: loadings/λ are 1e-9-rounded
    * driver scalars; the per-vector sum runs in ascending-dimension
    * order on BOTH sides (sequential kernel loop here, ordered
    * `list_reduce` in the oracle), so every product and partial sum
    * is bitwise identical before the final 1e-6 rounding.
    */
  def embWhiten(s: SparkSession, d: String): DataFrame = {
    val dims = PcaDims
    val (n, sum, c0) = pcaCovariance(s, d)
    val mu = Array.tabulate(dims)(i => sum(i).toDouble / n)
    // (component, L2-normalized 1e-9-rounded loadings, √λ with λ 1e-9-rounded)
    val proj = pcaDeflatedComponents(c0).zipWithIndex.map { case ((v, num, den), idx) =>
      ((idx + 1).toLong, v.map(x => rnd(x / math.sqrt(den), 9)), math.sqrt(rnd(num / den, 9)))
    }.toArray
    import s.implicits._
    Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        s"transform(slice(embedding, 1, $dims), x -> cast(round(cast(x AS double) * 127, 0) AS bigint))")
        .as("q"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, qv) =>
          proj.iterator.map { case (r, vhat, sdev) =>
            var acc = 0.0
            var i = 0
            while (i < dims) { acc += vhat(i) * (qv(i) - mu(i)); i += 1 }
            (id, r, rnd(acc / sdev, 6))
          }
        }
      }
      .toDF("vec_id", "component", "w")
      .orderBy(col("vec_id"), col("component"))
  }

  /** Exact-rerank depth of the binary-quantization first stage. */
  val BinaryRerankDepth = 40
  /** Calibrated quality bars for [[annBinaryRecall]]: measured
    * macro-recall@[[TopK]] 0.90 / 0.88 / 0.72 at sf0.001/0.01/0.1
    * (asymmetric scoring; the symmetric-Hamming first cut measured
    * 0.64 / 0.44 at sf0.01/0.1 and was redesigned). */
  val BinaryRecallBar = 0.6 // min macro-recall@5 vs exact
  val BinaryPruneBar = 0.1 // max per-query rerank fraction

  /** Binary (sign-bit) quantization candidates — the
    * binary-embedding retrieval shape production vector stores ship
    * (32× smaller index than float32): each 64-dim vector
    * compresses to ONE 64-bit signature (bit i = sign of dim i);
    * stage 1 scores the corpus per query ASYMMETRICALLY — the
    * full-precision query dotted against the neighbor's ±1 sign
    * pattern, unpacked on the fly FROM THE SIGNATURE (symmetric
    * Hamming was measured first: recall@5 0.44 at sf0.1; keeping
    * the query float lifts it to 0.72 at the same 8-byte/vector
    * scan) — and keeps the [[BinaryRerankDepth]] best; stage 2
    * re-scores only those with the exact float cosine. The stage-1
    * scan reads the signature column alone (queries broadcast), its
    * exchange carries (query, neighbor, score) rows — never
    * vectors — and the per-query cut compiles to a WindowGroupLimit
    * partial/final pair (PlanSpec-pinned), so map tasks pre-prune
    * to the rerank depth; float vectors are touched again only for
    * the depth×queries bounded rerank join. The depth self-caps to
    * the prune budget (⌈[[BinaryPruneBar]]·n⌉, measured corpus
    * count — the house derive-geometry-from-n discipline) so the
    * prune certificate holds by construction at toy corpus sizes;
    * at any real n the fixed depth IS the budget and the scanned
    * fraction vanishes as n grows.
    */
  private[graft] def binaryCandidates(s: SparkSession, d: String): DataFrame = {
    val e = withNorm(s, d)
    val nTotal = e.count()
    val depth = math.min(BinaryRerankDepth.toLong,
      math.max(TopK.toLong, math.ceil(BinaryPruneBar * nTotal).toLong))
    // Pack the 64 sign bits into ONE long, then unpack to the ±1
    // scoring pattern — a typed kernel, not an interpreted
    // aggregate/transform lambda (the shingle lesson: higher-order
    // SQL lambdas never enter codegen and storm the cold interpreter
    // at scale). The scan's only per-neighbor input is the 8-byte
    // signature; `v` exists here solely to BUILD it (at scale the
    // sig column is the persisted index).
    val nsig: DataFrame = {
      import s.implicits._
      e.select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .mapPartitions(_.map { case (id, v) =>
          var sig = 0L
          var i = 0
          while (i < 64) { if (v(i) >= 0) sig |= (1L << i); i += 1 }
          val sv = new Array[Double](64)
          i = 0
          while (i < 64) { sv(i) = if (((sig >> i) & 1L) == 1L) 1.0 else -1.0; i += 1 }
          (id, sv)
        }).toDF("neighbor_id", "sv")
    }
    val qside = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("qa"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("neighbor_id").asc)
    val hcand = broadcast(qside).join(nsig, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot(col("qa"), col("sv")).as("ascore"))
      .withColumn("hrank", row_number().over(w))
      .filter(col("hrank") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    val qv = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val nv = e.select(col("vec_id").as("neighbor_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    hcand.join(nv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Binary-quantization ANN top-k (full hash oracle via
    * [[candTopkOracle]]; [[annBinaryRecall]] is the quality gate). */
  def annBinaryTopk(s: SparkSession, d: String): DataFrame =
    topkOf(binaryCandidates(s, d))

  def annBinaryRecall(s: SparkSession, d: String): DataFrame =
    recallGate(s, d, binaryCandidates(s, d), BinaryRecallBar, BinaryPruneBar)

  /** Filtered vector search: exact cosine top-[[TopK]] per query among
    * only the corpus vectors satisfying a metadata predicate (here:
    * same `label` as the query — the "search within my shard/tenant/
    * modality" shape). The predicate enters the JOIN CONDITION, not a
    * post-ranking filter: the equi-join on `label` makes Spark
    * co-partition candidates by the predicate key, so each query only
    * ever meets its own label's block — at 100 TB with a
    * label-partitioned layout this is partition pruning (scan only the
    * matching partitions) rather than an all-pairs scan that discards
    * non-matching rows after ranking. Post-filtering the unfiltered
    * top-k would also be WRONG (it returns < k survivors); the filter
    * must constrain the candidate set before ranking.
    */
  def annFilteredTopk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("label"),
        col("v").as("va"), col("nrm").as("nrma"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("label"),
      col("v").as("vb"), col("nrm").as("nrmb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(q).join(n, Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(pairDot / col("nrma") / col("nrmb"), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("label"), col("rank"),
        col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** RRF smoothing constant (Cormack et al. 2009's k=60). */
  val RrfK = 60
  /** Per-modality list depth fused by [[annHybridRrf]]. */
  val RrfDepth = 20

  /** Hybrid lexical+dense retrieval with Reciprocal Rank Fusion — the
    * standard two-tower data-selection/retrieval shape: each query
    * document is ranked against the corpus twice (Okapi BM25 over its
    * token set; exact cosine over its embedding), the two
    * top-[[RrfDepth]] lists are fused by RRF
    * (Σ 1/([[RrfK]] + rank)), and the top-[[TopK]] fused results
    * emerge. Documents found by only one modality still score — that
    * asymmetric coverage is RRF's point.
    *
    * Scale shape: the lexical side is [[TextAnalysis.textBm25Topk]]'s
    * discipline — corpus postings are semi-joined against the
    * (bounded, broadcast) query term set BEFORE the tf shuffle, so
    * only query-term hits are exchanged; df/avgdl are
    * dimension-sized broadcast aggregates. The dense side is the
    * broadcast-query scan of [[annBruteforceTopk]] (swap in the IVF
    * candidate stream for the 100 TB path — the fusion is rank-based
    * and doesn't care where candidates came from). The fusion itself
    * joins two ≤ queries×[[RrfDepth]]-row lists — trivially bounded.
    * Ranks are taken on rounded scores with doc_id tie-breaks, so
    * every rank (and therefore every RRF score) is deterministic.
    *
    * Measured-and-rejected (r13, all same-process min-of-3 pairs vs
    * this form): (a) per-modality [[graft.functions.TopKIds]] heap
    * aggregates replacing the rank windows — +0.35 s at sf0.1 (a
    * TypedImperativeAggregate's update() is interpreted per row over
    * the ~1M-row dense stream); (b) the same plus in-row array-HOF
    * fusion — +0.32 s; (c) a typed per-partition heap KERNEL pruning
    * the dense stream to ≤ partitions×queries×depth before the one
    * fusion exchange — +0.23 s at sf0.1 AND +5% at 10x: the
    * DeserializeToObject boundary breaks whole-stage codegen around
    * the NLJ dot-product scan, costing more than the 1M-row exchange
    * it saves. The row is floor-bound (~9 scheduled jobs) at sf0.1;
    * its 10x crossover (≤1.55x, committed) is the scale evidence.
    */
  def annHybridRrf(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val nDocs = Tables.parquetRowCount(s, d, "documents").toDouble
    // tokenize the corpus ONCE: the token table feeds the meta collect
    // below AND tf (un-checkpointed, each consumer re-ran the
    // tokenizer over every document — measured slower than the
    // checkpoint job it saves, +0.2 s same-process)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TA.tokens(col("text")).as("toks"))
      .localCheckpoint(eager = false)
    val qTerms = docs.filter(col("doc_id") < NumQueryVecs)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(col("toks"))).as("term"))
    // the union of the queries' vocabularies is bounded query-side
    // state (q docs × their distinct terms) — collect it once and
    // filter INSIDE the token array, so non-query-term tokens are
    // never exploded into rows at all (textBm25Topk's discipline; the
    // post-explode semi-join this replaces materialized every corpus
    // token first). A LocalTableScan qTerms from the same collect
    // measured WORSE (+0.2 s) than the broadcast subtree — the
    // driver-side row conversion outweighs the saved build job.
    // ONE driver round-trip carries BOTH query-side model artifacts:
    // the term list AND the avgdl scalar (previously its own scalar
    // aggregate + broadcast + crossJoin — two more scheduled jobs); a
    // null term marks the avgdl row.
    val meta = qTerms.select(col("term"), lit(null).cast("double").as("v"))
      .unionAll(docs.agg(avg(size(col("toks"))).as("v"))
        .select(lit(null).cast("string").as("term"), col("v")))
      .collect()
    // cross-query dedup happens driver-side: a distinct() here would
    // add its own exchange + scheduled stage for ~10k short strings
    val qTermList = meta.filter(!_.isNullAt(0)).map(_.getString(0)).distinct.sorted
    // empty documents table ⇒ avg(size) is NULL in the marker row —
    // fall back to 1.0 (scores stay null downstream) instead of NPEing
    val avgdl = meta.find(_.isNullAt(0)).filterNot(_.isNullAt(1))
      .map(_.getDouble(1)).getOrElse(1.0)
    val inList = qTermList.map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
    // ONE term-clustered exchange carries the tf aggregation AND the
    // df count: tf is one row per (doc, term) after the partition-
    // local groupBy, so df is a window count over the same term
    // clustering — no separate dfTab aggregate, no dfTab broadcast
    // build job (the r11 form's extra stage pair)
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val tf = docs
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        explode(expr(s"filter(toks, t -> t IN ($inList))")).as("term"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("df", count(lit(1)).over(wDf).cast("double"))
    // Both modalities' SCORED candidate streams union with a tag
    // BEFORE any ranking, and ONE query_id repartition carries the
    // score aggregation, both per-modality rankings (one window stage
    // partitioned (query_id, tag) — the query_id clustering satisfies
    // it by the subset rule), the rank-pair fusion (a partition-local
    // conditional-agg pivot, not the r11 full_outer join) and the
    // final RRF cut. The r11 form ranked each modality in its own
    // window exchange and joined the two lists — a documented
    // ~19-stage AQE floor; this form is one exchange + sorts.
    val bmContrib = tf.join(broadcast(qTerms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), lit(1).as("tag"),
        (log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          col("tf") * (lit(TA.Bm25K1) + 1.0) /
          (col("tf") + lit(TA.Bm25K1) *
            (lit(1.0) - lit(TA.Bm25B) + lit(TA.Bm25B) * col("dl") / lit(avgdl))))
          .as("sc"))
    val e = withNorm(s, d)
    val q = e.filter(col("vec_id") < NumQueryVecs)
      .select(col("vec_id").as("query_id"), col("v").as("va"), col("nrm").as("nrma"))
    val nb = e.select(col("vec_id").as("doc_id"), col("v").as("vb"), col("nrm").as("nrmb"))
    val denseScored = broadcast(q).join(nb, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"), lit(2).as("tag"),
        round(pairDot / col("nrma") / col("nrmb"), 4).as("sc"))
    val nPart = s.sessionState.conf.numShufflePartitions
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("tag"))
      .orderBy(col("score").desc, col("doc_id"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf_raw").desc, col("doc_id"))
    bmContrib.unionAll(denseScored)
      .repartition(nPart, col("query_id"))
      // per-(query, doc, modality) score: Σ contrib is BM25 on the
      // lexical tag and the (already 4-dp) cosine on the dense tag
      .groupBy(col("query_id"), col("doc_id"), col("tag"))
      .agg(round(sum(col("sc")), 6).as("score"))
      .withColumn("r", row_number().over(wRank).cast("long"))
      .filter(col("r") <= RrfDepth)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(min(when(col("tag") === 1, col("r"))).as("lex_rank"),
        min(when(col("tag") === 2, col("r"))).as("emb_rank"))
      .withColumn("rrf_raw",
        coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("emb_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("rrf_raw"), 6).as("rrf"), col("lex_rank"), col("emb_rank"))
      // limit = the output's exact upper bound (TopK per query), so
      // the final sort plans as TakeOrdered per-partition heaps
      // instead of a range exchange + its sampling job
      .orderBy(col("query_id"), col("rank"))
      .limit(NumQueryVecs * TopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivfpq_topk" -> annIvfpqTopk _,
    "ann_ivfpq_recall" -> annIvfpqRecall _,
    "ann_filtered_ivfpq" -> annFilteredIvfpq _,
    "ann_filtered_ivfpq_recall" -> annFilteredIvfpqRecall _,
    "ann_hybrid_rrf" -> annHybridRrf _,
    "ann_range_search" -> annRangeSearch _,
    "ann_hard_negatives" -> annHardNegatives _,
    "ann_filtered_topk" -> annFilteredTopk _,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine _,
    "dedup_semantic" -> dedupSemantic _,
    "dedup_semantic_gate" -> dedupSemanticGate _,
    "ann_bruteforce_topk" -> annBruteforceTopk _,
    "ann_mmr_diversify" -> annMmrDiversify _,
    "ann_matryoshka_topk" -> annMatryoshkaTopk _,
    "ann_matryoshka_rerank" -> annMatryoshkaRerank _,
    "ann_lsh_topk" -> annLshTopk _,
    "ann_lsh_recall" -> annLshRecall _,
    "ann_multiprobe_topk" -> annMultiprobeTopk _,
    "ann_multiprobe_recall" -> annMultiprobeRecall _,
    "ann_ivf_topk" -> annIvfTopk _,
    "ann_ivf_recall" -> annIvfRecall _,
    "ann_incremental_topk" -> annIvfIncrementalTopk _,
    "ann_upsert_topk" -> annIvfUpsertTopk _,
    "ann_upsert_recall" -> annIvfUpsertRecall _,
    "ann_pq_topk" -> annPqTopk _,
    "ann_pq_recall" -> annPqRecall _,
    "emb_quantize_int8" -> embQuantizeInt8 _,
    "emb_pca_power" -> embPcaPower _,
    "emb_pca_topr" -> embPcaTopr _,
    "emb_whiten" -> embWhiten _,
    "ann_binary_topk" -> annBinaryTopk _,
    "ann_binary_recall" -> annBinaryRecall _)

  private val cosineCte =
    """WITH n AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (acc, x) -> acc + x)) AS nrm
      | FROM embeddings)""".stripMargin

  private def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       | list_transform(generate_series(1, 64), i -> $a.v[i] * $b.v[i])),
       | (acc, x) -> acc + x)""".stripMargin

  /** The integer-quantization + covariance CTE prefix shared by the
    * PCA oracles (`c` = the exact-rational covariance). */
  private def pcaBaseCte: String =
    s"""qt AS MATERIALIZED (SELECT list_transform(embedding[1:$PcaDims],
       |   x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS q FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qt),
       |sv AS (SELECT gi.i AS i, CAST(sum(q[gi.i]) AS BIGINT) AS s
       |  FROM qt, generate_series(1, $PcaDims) AS gi(i) GROUP BY 1),
       |gm AS (SELECT gi.i AS i, gj.j AS j, CAST(sum(q[gi.i] * q[gj.j]) AS BIGINT) AS g
       |  FROM qt, generate_series(1, $PcaDims) AS gi(i), generate_series(1, $PcaDims) AS gj(j)
       |  GROUP BY 1, 2),
       |c AS MATERIALIZED (SELECT gm.i AS i, gm.j AS j, (gm.g - (si.s * sj.s) / nn.n) / (nn.n - 1) AS c
       |  FROM gm JOIN sv si ON si.i = gm.i JOIN sv sj ON sj.i = gm.j CROSS JOIN nn)""".stripMargin

  /** [[PcaIters]] matvec/normalize CTE triples over covariance `cn`,
    * names suffixed with `sfx` (empty for the single-component oracle,
    * per-component for the top-r one). */
  private def pcaStepCtes(cn: String, sfx: String): String =
    (1 to PcaIters).map { t =>
      val prevV = if (t == 1) s"sum($cn.c)" else s"sum($cn.c * v$sfx${t - 1}.v)"
      val prevJoin = if (t == 1) "" else s" JOIN v$sfx${t - 1} ON v$sfx${t - 1}.i = $cn.j"
      s"""w$sfx$t AS MATERIALIZED (SELECT $cn.i AS i, $prevV AS w FROM $cn$prevJoin GROUP BY 1),
         |m$sfx$t AS (SELECT max(abs(w)) AS m FROM w$sfx$t),
         |v$sfx$t AS MATERIALIZED (SELECT i, round(w / m$sfx$t.m, 9) AS v FROM w$sfx$t, m$sfx$t)""".stripMargin
    }.mkString(",\n")

  /** Unrolled power-iteration replay for [[embPcaPower]]: one
    * matvec/normalize CTE triple per iteration, same 1e-9
    * per-iteration rounding as the driver loop. */
  private def pcaOracleSql: String = {
    val vf = s"v$PcaIters"
    s"""WITH $pcaBaseCte,
       |${pcaStepCtes("c", "")},
       |rn AS (SELECT sum(va.v * c.c * vb.v) AS num FROM c JOIN $vf va ON va.i = c.i JOIN $vf vb ON vb.i = c.j),
       |rd AS (SELECT sum(v * v) AS den FROM $vf),
       |tr AS (SELECT sum(c) AS t FROM c WHERE i = j)
       |SELECT CAST($vf.i AS BIGINT) AS dim, round($vf.v, 6) AS loading,
       | round(rn.num / rd.den, 6) AS eigval,
       | round((rn.num / rd.den) / tr.t, 6) AS var_frac
       |FROM $vf, rn, rd, tr ORDER BY dim""".stripMargin
  }

  /** Unrolled r-component replay for [[embPcaTopr]]: per component,
    * the [[pcaStepCtes]] trajectory on the (deflated) covariance, its
    * Rayleigh quotient, and the 1e-9-rounded deflation producing the
    * next covariance — the same expressions, in the same order, as
    * the driver loop. */
  private def pcaToprOracleSql: String = {
    val parts = (1 to PcaTopR).map { r =>
      val cn = if (r == 1) "c" else s"c$r"
      val sfx = s"r${r}_"
      val vf = s"v$sfx$PcaIters"
      val rayleigh =
        s"""rn$r AS (SELECT sum(va.v * $cn.c * vb.v) AS num
           |  FROM $cn JOIN $vf va ON va.i = $cn.i JOIN $vf vb ON vb.i = $cn.j),
           |rd$r AS (SELECT sum(v * v) AS den FROM $vf)""".stripMargin
      val deflate =
        if (r == PcaTopR) ""
        else s""",
                |eg$r AS (SELECT round(rn$r.num / rd$r.den, 9) AS e FROM rn$r, rd$r),
                |vh$r AS (SELECT i, round(v / sqrt(rd$r.den), 9) AS v FROM $vf, rd$r),
                |c${r + 1} AS MATERIALIZED (SELECT $cn.i AS i, $cn.j AS j,
                |  round($cn.c - eg$r.e * vhi.v * vhj.v, 9) AS c
                |  FROM $cn JOIN vh$r vhi ON vhi.i = $cn.i
                |  JOIN vh$r vhj ON vhj.i = $cn.j CROSS JOIN eg$r)""".stripMargin
      val select =
        s"""SELECT CAST($r AS BIGINT) AS component, CAST($vf.i AS BIGINT) AS dim,
           | round($vf.v, 6) AS loading, round(rn$r.num / rd$r.den, 6) AS eigval,
           | round((rn$r.num / rd$r.den) / tr.t, 6) AS var_frac
           | FROM $vf, rn$r, rd$r, tr""".stripMargin
      (pcaStepCtes(cn, sfx) + ",\n" + rayleigh + deflate, select)
    }
    s"""WITH $pcaBaseCte,
       |tr AS (SELECT sum(c) AS t FROM c WHERE i = j),
       |${parts.map(_._1).mkString(",\n")}
       |${parts.map(_._2).mkString("\nUNION ALL ")}
       |ORDER BY component, dim""".stripMargin
  }

  /** Unrolled replay for [[embWhiten]]: the [[pcaToprOracleSql]]
    * trajectory CTEs rebuild every component's (deflated) loading
    * vector, then each vector's whitened coordinate is recomputed
    * with an ORDERED `list_reduce` over ascending dimensions — the
    * same operands in the same order as the kernel's sequential
    * loop, so the sum is bitwise identical before the 1e-6 round.
    */
  private def whitenOracleSql: String = {
    val dims = PcaDims
    val parts = (1 to PcaTopR).map { r =>
      val cn = if (r == 1) "c" else s"c$r"
      val sfx = s"r${r}_"
      val vf = s"v$sfx$PcaIters"
      val rayleigh =
        s"""rn$r AS (SELECT sum(va.v * $cn.c * vb.v) AS num
           |  FROM $cn JOIN $vf va ON va.i = $cn.i JOIN $vf vb ON vb.i = $cn.j),
           |rd$r AS (SELECT sum(v * v) AS den FROM $vf),
           |lm$r AS (SELECT round(rn$r.num / rd$r.den, 9) AS l FROM rn$r, rd$r),
           |whl$r AS (SELECT list(round(v / sqrt(rd$r.den), 9) ORDER BY i) AS vh
           |  FROM $vf, rd$r GROUP BY rd$r.den)""".stripMargin
      val deflate =
        if (r == PcaTopR) ""
        else s""",
                |eg$r AS (SELECT round(rn$r.num / rd$r.den, 9) AS e FROM rn$r, rd$r),
                |vh$r AS (SELECT i, round(v / sqrt(rd$r.den), 9) AS v FROM $vf, rd$r),
                |c${r + 1} AS MATERIALIZED (SELECT $cn.i AS i, $cn.j AS j,
                |  round($cn.c - eg$r.e * vhi.v * vhj.v, 9) AS c
                |  FROM $cn JOIN vh$r vhi ON vhi.i = $cn.i
                |  JOIN vh$r vhj ON vhj.i = $cn.j CROSS JOIN eg$r)""".stripMargin
      val select =
        s"""SELECT qv.vec_id, CAST($r AS BIGINT) AS component,
           | round(list_reduce(list_transform(generate_series(1, $dims),
           |     i -> whl$r.vh[i] * (qv.q[i] - mu.mu[i])), (a, b) -> a + b)
           |   / sqrt(lm$r.l), 6) AS w
           | FROM qv, whl$r, mu, lm$r""".stripMargin
      (pcaStepCtes(cn, sfx) + ",\n" + rayleigh + deflate, select)
    }
    s"""WITH $pcaBaseCte,
       |qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding[1:$dims],
       |   x -> CAST(round(CAST(x AS DOUBLE) * 127) AS BIGINT)) AS q FROM embeddings),
       |mu AS (SELECT list(CAST(s AS DOUBLE) / nn.n ORDER BY i) AS mu FROM sv, nn GROUP BY nn.n),
       |${parts.map(_._1).mkString(",\n")}
       |${parts.map(_._2).mkString("\nUNION ALL ")}
       |ORDER BY vec_id, component""".stripMargin
  }

  /** Unrolled greedy-MMR replay for [[annMmrDiversify]]: step t's
    * argmax is recomputed from the union of steps 1..t−1 with the
    * SAME raw-double score expression the kernel evaluates (pairwise
    * sims unrounded; `(1 − λ)` spelled as the expression, not 0.3),
    * so selection ties and ordering are bitwise-identical.
    */
  private def mmrOracleSql: String = {
    val lamE = s"$MmrLambda * rel - (1 - $MmrLambda) * ms"
    val steps = (2 to MmrK).map { t =>
      val prev = (1 until t).map(i => s"SELECT query_id, neighbor_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""selset$t AS ($prev),
         |m$t AS (SELECT c.query_id AS query_id, c.neighbor_id AS neighbor_id,
         |    c.rel AS rel, max(s.sim) AS ms
         |  FROM cand c
         |  JOIN sims s ON s.query_id = c.query_id AND s.ia = c.neighbor_id
         |  JOIN selset$t z ON z.query_id = s.query_id AND z.neighbor_id = s.ib
         |  LEFT JOIN selset$t x ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
         |  WHERE x.neighbor_id IS NULL
         |  GROUP BY 1, 2, 3),
         |sel$t AS (SELECT query_id, neighbor_id, rel, ms FROM (
         |  SELECT query_id, neighbor_id, rel, ms,
         |    row_number() OVER (PARTITION BY query_id ORDER BY $lamE DESC, neighbor_id) AS rn
         |  FROM m$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unions =
      (s"SELECT query_id, CAST(1 AS BIGINT) AS mmr_rank, neighbor_id, rel AS cosine," +
        s" round($MmrLambda * rel - (1 - $MmrLambda) * 0, 6) AS mmr_score FROM sel1") +:
        (2 to MmrK).map(t =>
          s"SELECT query_id, CAST($t AS BIGINT), neighbor_id, rel, round($lamE, 6) FROM sel$t")
    s"""$cosineCte,
       |c0 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS rel
       | FROM n a JOIN n b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
       |cand AS (SELECT query_id, neighbor_id, rel FROM (
       |  SELECT query_id, neighbor_id, rel,
       |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn FROM c0)
       | WHERE rn <= $MmrCandidates),
       |sims AS (SELECT ca.query_id AS query_id, ca.neighbor_id AS ia, cb.neighbor_id AS ib,
       |  ${dotSql("x", "y")} / x.nrm / y.nrm AS sim
       | FROM cand ca JOIN cand cb ON ca.query_id = cb.query_id AND ca.neighbor_id <> cb.neighbor_id
       | JOIN n x ON x.vec_id = ca.neighbor_id
       | JOIN n y ON y.vec_id = cb.neighbor_id),
       |sel1 AS (SELECT query_id, neighbor_id, rel FROM cand QUALIFY
       |  row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) = 1),
       |$steps
       |${unions.mkString("\nUNION ALL ")}
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Full hash oracle for the three approximate top-k rows: the
    * candidate GENERATION (hyperplane hashing / quantizer probing /
    * ADC) is not SQL-expressible, but it is deterministic and its
    * quality is certified by the oracle-gated recall rows — so
    * [[graft.Verify]] dumps each top-k's candidate (query, neighbor)
    * pairs to parquet and DuckDB re-does everything downstream FOR
    * REAL: exact cosine from the embeddings table (never trusting the
    * dumped scores) and the rank/cut window. Any drift in the dot
    * product, rounding, tie-break, or ranking hash-mismatches. The
    * `{{OUT}}` placeholder is resolved by Verify to its output dir.
    */
  private def candTopkOracle(name: String) =
    s"""$cosineCte,
       |cand AS (SELECT DISTINCT query_id, neighbor_id
       |  FROM read_parquet('{{OUT}}/${name}_pairs/*.parquet')),
       |c AS (SELECT cand.query_id, cand.neighbor_id,
       |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
       | FROM cand JOIN n a ON a.vec_id = cand.query_id
       |           JOIN n b ON b.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       | FROM c)
       |SELECT query_id, rank, neighbor_id, cosine FROM r
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** [[candTopkOracle]] with the label restriction re-verified: the
    * oracle joins each dumped pair's labels and DROPS any cross-label
    * candidate, so a predicate leak in the engine's candidate
    * generation shifts the oracle's ranks and hash-mismatches (the
    * plain variant would rank the leaked candidate the same way the
    * engine did). Output labeled like [[annFilteredTopk]]. */
  private def candTopkFilteredOracle(name: String) =
    s"""$cosineCte,
       |lb AS (SELECT vec_id, label FROM embeddings),
       |cand AS (SELECT DISTINCT query_id, neighbor_id
       |  FROM read_parquet('{{OUT}}/${name}_pairs/*.parquet')),
       |c AS (SELECT cand.query_id, la.label AS label, cand.neighbor_id,
       |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
       | FROM cand JOIN n a ON a.vec_id = cand.query_id
       |           JOIN n b ON b.vec_id = cand.neighbor_id
       |           JOIN lb la ON la.vec_id = cand.query_id
       |           JOIN lb nb ON nb.vec_id = cand.neighbor_id
       | WHERE la.label = nb.label),
       |r AS (SELECT query_id, label, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       | FROM c)
       |SELECT query_id, label, rank, neighbor_id, cosine FROM r
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** The recall rows' oracle: 10 queries, both flags 1. DuckDB cannot
    * re-run the (non-SQL) LSH/quantizer, but it doesn't need to — the
    * gate is that the deterministic Spark-side measurement clears the
    * calibrated bars; any quality regression hash-mismatches.
    */
  private val recallOracle =
    """SELECT CAST(count(*) AS BIGINT) AS n_queries,
      | CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS prune_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ann_hybrid_rrf" -> {
      import graft.operators.{TextAnalysis => TA}
      s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(toks)) AS term
         |       FROM docs WHERE doc_id < $NumQueryVecs),
         |tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, term,
         |   CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM docs)
         |  WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2, 3),
         |dfx AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
         |  FROM tf GROUP BY 1),
         |ad AS (SELECT avg(len(toks)) AS avgdl FROM docs),
         |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM docs),
         |bm AS (SELECT qt.query_id, tf.doc_id,
         |   round(sum(ln((nd - df + 0.5) / (df + 0.5) + 1.0) * tf * (${TA.Bm25K1} + 1.0)
         |     / (tf + ${TA.Bm25K1} * (1.0 - ${TA.Bm25B} + ${TA.Bm25B} * dl / avgdl))), 6) AS bm25
         |  FROM tf JOIN qt USING (term) JOIN dfx USING (term), ad, cnt
         |  WHERE tf.doc_id <> qt.query_id GROUP BY 1, 2),
         |lex AS (SELECT query_id, doc_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS lex_rank
         |  FROM bm QUALIFY lex_rank <= $RrfDepth),
         |nv AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (acc, x) -> acc + x)) AS nrm
         | FROM embeddings),
         |den AS (SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
         |   round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         |  FROM nv a JOIN nv b ON a.vec_id < $NumQueryVecs AND a.vec_id <> b.vec_id),
         |dens AS (SELECT query_id, doc_id,
         |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS emb_rank
         |  FROM den QUALIFY emb_rank <= $RrfDepth),
         |f AS (SELECT coalesce(lex.query_id, dens.query_id) AS query_id,
         |   coalesce(lex.doc_id, dens.doc_id) AS doc_id,
         |   lex.lex_rank AS lex_rank, dens.emb_rank AS emb_rank,
         |   coalesce(1.0 / ($RrfK + lex.lex_rank), 0.0)
         |    + coalesce(1.0 / ($RrfK + dens.emb_rank), 0.0) AS rrf_raw
         |  FROM lex FULL OUTER JOIN dens
         |   ON lex.query_id = dens.query_id AND lex.doc_id = dens.doc_id),
         |r AS (SELECT query_id, doc_id, rrf_raw, lex_rank, emb_rank,
         |   CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY rrf_raw DESC, doc_id) AS BIGINT) AS rank FROM f)
         |SELECT query_id, rank, doc_id, round(rrf_raw, 6) AS rrf,
         | CAST(lex_rank AS BIGINT) AS lex_rank, CAST(emb_rank AS BIGINT) AS emb_rank
         |FROM r WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin
    },
    "ann_range_search" ->
      s"""$cosineCte
         |SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         |FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id
         |WHERE round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) >= $RangeBar
         |ORDER BY query_id, cosine DESC, neighbor_id""".stripMargin,
    // Full hash oracle via the dumped cell assignment (see
    // graft.Verify): DuckDB re-forms the within-cell pair space
    // itself, recomputes every cosine from the embeddings table, and
    // re-derives keep/rep_id — the candidate-dump discipline of the
    // ANN top-k oracles applied to the whole dedup output.
    "dedup_semantic" ->
      s"""$cosineCte,
         |cells AS (SELECT vec_id, cell
         |  FROM read_parquet('{{OUT}}/dedup_semantic_cells/*.parquet')),
         |p AS (SELECT ca.vec_id AS ida, cb.vec_id AS idb,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         | FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
         | JOIN n a ON a.vec_id = ca.vec_id JOIN n b ON b.vec_id = cb.vec_id),
         |drops AS (SELECT idb AS vec_id, min(ida) AS rep_id FROM p
         | WHERE cosine >= $CosineThreshold GROUP BY idb)
         |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
         | CAST(CASE WHEN drops.rep_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
         | drops.rep_id
         |FROM cells c LEFT JOIN drops USING (vec_id) ORDER BY c.vec_id""".stripMargin,
    // n_exact_pairs is recomputed for real by DuckDB; the two flags
    // assert the deterministic Spark-side measurement clears the bars.
    "dedup_semantic_gate" ->
      s"""$cosineCte
         |SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
         | CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS work_ok
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) >= 0.4""".stripMargin,
    "ann_lsh_recall" -> recallOracle,
    "ann_multiprobe_recall" -> recallOracle,
    "ann_multiprobe_topk" -> candTopkOracle("ann_multiprobe_topk"),
    "ann_ivf_recall" -> recallOracle,
    "ann_pq_recall" -> recallOracle,
    "ann_ivfpq_recall" -> recallOracle,
    "ann_ivfpq_topk" -> candTopkOracle("ann_ivfpq_topk"),
    "ann_filtered_ivfpq_recall" -> recallOracle,
    "ann_filtered_ivfpq" -> candTopkFilteredOracle("ann_filtered_ivfpq"),
    "ann_lsh_topk" -> candTopkOracle("ann_lsh_topk"),
    "ann_ivf_topk" -> candTopkOracle("ann_ivf_topk"),
    "ann_pq_topk" -> candTopkOracle("ann_pq_topk"),
    "ann_incremental_topk" -> candTopkOracle("ann_incremental_topk"),
    "ann_upsert_topk" -> candTopkOracle("ann_upsert_topk"),
    "ann_upsert_recall" -> recallOracle,
    // the int8 quantization is exact double arithmetic on both
    // engines: scale, the quantized-value checksums and the
    // reconstruction cosine are all recomputed for real by DuckDB.
    "emb_quantize_int8" ->
      s"""$cosineCte,
         |s AS (SELECT vec_id, v, nrm,
         |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM n),
         |q AS (SELECT vec_id, v, nrm, scale,
         |  list_transform(v, x -> round(x / scale, 0)) AS qv FROM s)
         |SELECT vec_id, round(scale, 6) AS scale,
         | CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE), qv),
         |   (acc, x) -> acc + x) AS BIGINT) AS q_sum,
         | CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |   list_transform(qv, x -> abs(x))), (acc, x) -> acc + x) AS BIGINT) AS q_l1,
         | round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |     list_transform(generate_series(1, 64), i -> v[i] * qv[i])),
         |     (acc, x) -> acc + x)
         |   / nrm
         |   / sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |     list_transform(qv, x -> x * x)), (acc, x) -> acc + x)), 4) AS recon_cosine
         |FROM q ORDER BY vec_id""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""$cosineCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         | round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,
    "ann_filtered_topk" ->
      s"""WITH n AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (acc, x) -> acc + x)) AS nrm
         | FROM embeddings),
         |c AS (SELECT a.vec_id AS query_id, a.label AS label,
         |  b.vec_id AS neighbor_id,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         | FROM n a JOIN n b ON a.label = b.label
         | WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, label, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         | FROM c)
         |SELECT query_id, label, rank, neighbor_id, cosine FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "ann_mmr_diversify" -> mmrOracleSql,
    // Integer-exact Gram/mean sums (order-free), then the SAME
    // covariance rationals, L∞-normalized power iterations (1e-9
    // per-iteration rounding) and Rayleigh quotient, unrolled.
    "emb_pca_power" -> pcaOracleSql,
    "emb_pca_topr" -> pcaToprOracleSql,
    "emb_whiten" -> whitenOracleSql,
    "ann_binary_topk" -> candTopkOracle("ann_binary_topk"),
    "ann_binary_recall" -> recallOracle,
    "ann_bruteforce_topk" ->
      s"""$cosineCte,
         |c AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         | FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         | FROM c)
         |SELECT query_id, rank, neighbor_id, cosine FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // truncation is plain SQL — full recompute, no candidate dump
    "ann_matryoshka_topk" ->
      s"""$cosineCte,
         |t AS (SELECT vec_id,
         |  list_transform(embedding[1:$MatryoshkaDims], x -> CAST(x AS DOUBLE)) AS vt,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(embedding[1:$MatryoshkaDims],
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (acc, x) -> acc + x)) AS nt
         | FROM embeddings),
         |c AS (SELECT ta.vec_id AS query_id, tb.vec_id AS neighbor_id,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, $MatryoshkaDims),
         |      i -> ta.vt[i] * tb.vt[i])), (acc, x) -> acc + x)
         |    / ta.nt / tb.nt, 4) AS cosine16,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine64
         | FROM t ta JOIN t tb ON ta.vec_id < $NumQueryVecs AND ta.vec_id <> tb.vec_id
         | JOIN n a ON a.vec_id = ta.vec_id JOIN n b ON b.vec_id = tb.vec_id),
         |r AS (SELECT query_id, neighbor_id, cosine16,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine16 DESC, neighbor_id) AS rk16,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine64 DESC, neighbor_id) AS rk64
         | FROM c)
         |SELECT query_id, CAST(rk16 AS BIGINT) AS rank, neighbor_id, cosine16,
         | CAST(CASE WHEN rk64 <= $TopK THEN 1 ELSE 0 END AS BIGINT) AS in_full_topk
         |FROM r WHERE rk16 <= $TopK ORDER BY query_id, rank""".stripMargin,
    // full closed-form replay of BOTH passes: truncated-prefix cosine
    // + depth cut, then exact full-dim re-rank of the candidates only.
    "ann_matryoshka_rerank" ->
      s"""$cosineCte,
         |t AS (SELECT vec_id,
         |  list_transform(embedding[1:$MatryoshkaDims], x -> CAST(x AS DOUBLE)) AS vt,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(embedding[1:$MatryoshkaDims],
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (acc, x) -> acc + x)) AS nt
         | FROM embeddings),
         |c AS (SELECT ta.vec_id AS query_id, tb.vec_id AS neighbor_id,
         |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(generate_series(1, $MatryoshkaDims),
         |      i -> ta.vt[i] * tb.vt[i])), (acc, x) -> acc + x)
         |    / ta.nt / tb.nt, 4) AS cosine16
         | FROM t ta JOIN t tb ON ta.vec_id < $NumQueryVecs AND ta.vec_id <> tb.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY cosine16 DESC, neighbor_id) AS crank FROM c)
         | WHERE crank <= $MatryoshkaRerankDepth),
         |sc AS (SELECT cand.query_id, cand.neighbor_id,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         | FROM cand JOIN n a ON a.vec_id = cand.query_id
         |           JOIN n b ON b.vec_id = cand.neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         | FROM sc)
         |SELECT query_id, rank, neighbor_id, cosine FROM r
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    "ann_hard_negatives" ->
      s"""WITH n AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |    (acc, x) -> acc + x)) AS nrm
         | FROM embeddings),
         |c AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |  CAST(b.label AS BIGINT) AS neighbor_label,
         |  round(${dotSql("a", "b")} / a.nrm / b.nrm, 4) AS cosine
         | FROM n a JOIN n b ON a.vec_id < 10 AND a.label <> b.label),
         |r AS (SELECT query_id, neighbor_id, neighbor_label, cosine,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         | FROM c)
         |SELECT query_id, rank, neighbor_id, neighbor_label, cosine FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
}
