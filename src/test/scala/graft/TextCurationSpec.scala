package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Similarity, TextAnalysis}
import graft.sources.Tables

/** Semantic checks for the round-5 additions: unigram-LM scoring, PMI
  * collocations, Gopher rule cascade, and filtered vector search.
  * (The exact values are oracle-gated by the driver; these specs pin
  * the semantics that a passing hash alone wouldn't explain.)
  */
class TextCurationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("lm score: signals bounded, xent consistent with token rarity") {
    val rows = TextAnalysis.textLmScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val oov = r.getAs[Double]("oov_frac")
      assert(oov >= 0.0 && oov <= 1.0)
      assert(r.getAs[Long]("rarest_c") >= 1L)
      assert(r.getAs[Long]("n_toks") >= 1L)
      // a unigram model fit on the corpus itself cannot give any token
      // probability > 1, so per-doc cross-entropy is strictly positive
      assert(r.getAs[Double]("xent") > 0.0)
    }
    // xent orders documents by average token rarity: the doc whose
    // tokens are all corpus-frequent must score below the doc holding
    // the corpus's rarest token mass. Verify the extremes agree with a
    // direct recomputation of avg(log2 c).
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val meanLog = toks.join(freq, "tok").groupBy("doc_id")
      .agg(avg(log2(col("c"))).as("m")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("m")).toMap
    val byXent = rows.sortBy(_.getAs[Double]("xent"))
    assert(meanLog(byXent.head.getAs[Long]("doc_id")) >=
      meanLog(byXent.last.getAs[Long]("doc_id")))
  }

  test("pmi bigrams: count floor respected, pmi matches a recomputation") {
    val out = TextAnalysis.textPmiBigrams(spark, sf).collect()
    assert(out.nonEmpty && out.length <= TextAnalysis.PmiTopK)
    out.foreach(r => assert(r.getAs[Long]("c_ab") >= TextAnalysis.PmiMinCount))
    // ordered by pmi desc with (w1, w2) tie-break
    val pmis = out.map(_.getAs[Double]("pmi")).toSeq
    assert(pmis == pmis.sorted.reverse)
    // recompute one row's pmi by hand from raw counts
    val docs = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0))
    val unis = docs.flatMap(_.split(" ", -1))
    val bis = docs.flatMap { t =>
      val a = t.split(" ", -1); a.zip(a.drop(1)).map { case (x, y) => (x, y) }
    }
    val head = out.head
    val (w1, w2) = (head.getAs[String]("w1"), head.getAs[String]("w2"))
    val cab = bis.count(p => p._1 == w1 && p._2 == w2).toDouble
    val expected = math.log((cab / bis.length) /
      ((unis.count(_ == w1).toDouble / unis.length) *
        (unis.count(_ == w2).toDouble / unis.length))) / math.log(2.0)
    assert(math.abs(head.getAs[Double]("pmi") - expected) < 1e-5)
  }

  test("llr bigrams: full plain-Scala Dunning refit matches the engine") {
    val out = TextAnalysis.textLlrBigrams(spark, sf).collect()
    assert(out.nonEmpty && out.length <= TextAnalysis.LlrTopK)
    out.foreach(r => assert(r.getAs[Long]("c_ab") >= TextAnalysis.LlrMinCount))
    val llrs = out.map(_.getAs[Double]("llr")).toSeq
    assert(llrs == llrs.sorted.reverse)
    // independent refit: exact bigram contingency from the raw texts
    val docs = Tables.documents(spark, sf).select(col("text")).collect()
      .map(_.getString(0))
    val bis = docs.flatMap { t =>
      val a = t.split(" ", -1); a.zip(a.drop(1))
    }
    val cab = bis.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ka = bis.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val kb = bis.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = bis.length.toLong
    def xlx(x: Long): Double = if (x > 0) x.toDouble * math.log(x.toDouble) else 0.0
    val expected = cab.toSeq.collect {
      case ((w1, w2), k11) if k11 >= TextAnalysis.LlrMinCount =>
        val k12 = ka(w1) - k11
        val k21 = kb(w2) - k11
        val k22 = n - ka(w1) - kb(w2) + k11
        val llr = 2.0 * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22)
          - xlx(k11 + k12) - xlx(k21 + k22) - xlx(k11 + k21) - xlx(k12 + k22)
          + xlx(n))
        (w1, w2, k11, BigDecimal(llr).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (w1, w2, _, llr) => (-llr, w1, w2) }
      .take(TextAnalysis.LlrTopK)
    val got = out.map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
      r.getAs[Long]("c_ab"), r.getAs[Double]("llr"))).toSeq
    // the refit rounds independently, so allow 1e-4 slack on the score
    // while pinning the pair set and counts exactly
    assert(got.map(t => (t._1, t._2, t._3)) == expected.map(t => (t._1, t._2, t._3)))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._4 - e._4) <= 1e-4) }
    // all four contingency cells are non-negative by construction —
    // the exact-margin property the unigram approximation lacks
    got.foreach { case (w1, w2, k11, _) =>
      assert(ka(w1) - k11 >= 0 && kb(w2) - k11 >= 0 &&
        n - ka(w1) - kb(w2) + k11 >= 0)
    }
  }

  test("gopher rules: flags re-derivable from the text, keep is the conjunction") {
    val rows = Curation.curGopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    var kept = 0
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = texts(id).split(" ", -1)
      assert(r.getAs[Long]("n_words") == toks.length)
      val meanWl = toks.map(_.length).sum.toDouble / toks.length
      assert(math.abs(r.getAs[Double]("mean_wl") - meanWl) < 1e-12)
      val flags = Seq("wc_ok", "mwl_ok", "stop_ok", "alpha_ok", "symbol_ok")
        .map(r.getAs[Long](_))
      flags.foreach(f => assert(f == 0L || f == 1L))
      assert(r.getAs[Long]("keep") == flags.product)
      kept += r.getAs[Long]("keep").toInt
    }
    // the rule set must actually bite on the corpus in at least one
    // direction — all-pass AND all-fail would both be suspicious
    assert(kept > 0)
  }

  test("filtered topk: predicate constrains candidates BEFORE ranking") {
    val out = Similarity.annFilteredTopk(spark, sf).collect()
    assert(out.nonEmpty)
    val labels = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      // ranks contiguous from 1, cosine non-increasing
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val cos = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(cos == cos.sorted.reverse)
      rs.foreach { r =>
        val n = r.getAs[Long]("neighbor_id")
        assert(n != q)
        // every neighbor carries the query's label — the filter ran
        // inside candidate generation, not as a post-ranking cut
        assert(labels(n) == labels(q))
        assert(r.getAs[Int]("label") == labels(q))
      }
    }
  }

  test("paragraph dedup: kept blocks across the corpus = distinct blocks, fractions bounded") {
    import graft.operators.Dedup
    val rows = Dedup.dedupParagraph(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (nb, nd) = (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_dup_blocks"))
      assert(nb >= 1 && nd >= 0 && nd <= nb)
      val f = r.getAs[Double]("dup_frac")
      assert(f >= 0.0 && f <= 1.0)
      // kept_md5 is NULL exactly when every block was dropped
      assert((r.getAs[String]("kept_md5") == null) == (nd == nb))
    }
    // keep-first semantics: exactly one survivor per distinct block,
    // so Σ(n_blocks − n_dup_blocks) = |distinct blocks in corpus|
    val kept = rows.map(r => r.getAs[Long]("n_blocks") - r.getAs[Long]("n_dup_blocks")).sum
    val b = Dedup.ParaBlockTokens
    val distinctBlocks = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(
        s"transform(sequence(1, cast(ceil(size(toks) / ${b}.0) as int)), i -> concat_ws(' ', slice(toks, (i - 1) * $b + 1, $b)))"))
        .as("block"))
      .distinct().count()
    assert(kept == distinctBlocks)
    assert(rows.map(_.getAs[Long]("n_dup_blocks")).sum > 0, "corpus should contain duplicate blocks")
  }

  test("paragraph langid: counts partition blocks, entropy bounded, mixture flag consistent") {
    val rows = TextAnalysis.textLangidParagraph(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val log2_3 = math.log(3.0) / math.log(2.0)
    rows.foreach { r =>
      val (nb, ne, ns, nd) = (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_en"),
        r.getAs[Long]("n_sql"), r.getAs[Long]("n_data"))
      assert(ne + ns + nd == nb && nb >= 1)
      val h = r.getAs[Double]("mix_entropy")
      assert(h >= 0.0 && h <= log2_3 + 1e-6) // +1e-6: the output is round-6ed
      assert((r.getAs[Long]("is_mixed") == 1L) == (h > 0.0))
      // the majority language's count is the max, with the en>sql>data tie order
      val counts = Map("en" -> ne, "sql" -> ns, "data" -> nd)
      val lang = r.getAs[String]("doc_lang")
      assert(counts(lang) == counts.values.max)
      // entropy is zero iff one language holds every block
      assert((h == 0.0) == (counts.values.max == nb))
    }
    assert(rows.count(_.getAs[Long]("is_mixed") == 1L) > 0, "no mixed docs — vacuous")
    assert(rows.count(_.getAs[Long]("is_mixed") == 0L) > 0, "no monolingual docs — vacuous")
  }

  test("kneser-ney lm: engine scores equal an independent plain-Scala model fit") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val bigrams = docs.flatMap { case (id, t) =>
      (0 until t.length - 1).map(i => (id, (t(i), t(i + 1)))) }
    val cAb = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val c1 = cAb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = cAb.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1r = cAb.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val tTypes = cAb.size.toDouble
    val D = TextAnalysis.KnDiscount
    def pKn(bg: (String, String)): Double =
      (math.max(cAb(bg) - D, 0.0) +
        D * n1f(bg._1) * (n1r(bg._2) / tTypes)) / c1(bg._1)
    val expected = bigrams.groupBy(_._1).view.mapValues { bs =>
      val xs = bs.map(b => math.log(pKn(b._2)) / math.log(2.0))
      (bs.length.toLong, -xs.sum / xs.length)
    }.toMap
    val got = TextAnalysis.textLmKnScore(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, x) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_bigrams") == n)
      assert(math.abs(r.getAs[Double]("xent_kn") - x) < 1e-5,
        s"doc ${r.getAs[Long]("doc_id")}: got ${r.getAs[Double]("xent_kn")} expected $x")
      // a probability model's cross-entropy is strictly positive: KN
      // never assigns P >= 1 on a corpus with more than one context
      assert(r.getAs[Double]("xent_kn") > 0.0)
    }
  }

  test("trigram kneser-ney: engine scores equal an independent plain-Scala backoff model fit") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val tris = docs.flatMap { case (id, t) =>
      (0 until t.length - 2).map(i => (id, (t(i), t(i + 1), t(i + 2)))) }
    val cAbc = tris.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // bigram TYPE set = the trigram types' two pair projections
    val btypes = cAbc.keySet.flatMap(tg => Set((tg._1, tg._2), (tg._2, tg._3)))
    val fan2 = btypes.groupBy(_._1).view.mapValues(_.size.toLong).toMap // N1+(w2 .)
    val rev = btypes.groupBy(_._2).view.mapValues(_.size.toLong).toMap  // N1+(. w3)
    val tTypes = btypes.size.toDouble
    val c12 = cAbc.groupBy(k => (k._1._1, k._1._2)).view.mapValues(_.values.sum).toMap
    val n1f12 = cAbc.groupBy(k => (k._1._1, k._1._2)).view.mapValues(_.size.toLong).toMap
    val n1l = cAbc.groupBy(k => (k._1._2, k._1._3)).view.mapValues(_.size.toLong).toMap
    val nmid = cAbc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val D = TextAnalysis.KnDiscount
    def pKn3(tg: (String, String, String)): Double = {
      val pl = (math.max(n1l((tg._2, tg._3)) - D, 0.0) +
        D * fan2(tg._2) * (rev(tg._3) / tTypes)) / nmid(tg._2)
      (math.max(cAbc(tg) - D, 0.0) + D * n1f12((tg._1, tg._2)) * pl) / c12((tg._1, tg._2))
    }
    val expected = tris.groupBy(_._1).view.mapValues { ts =>
      val xs = ts.map(tg => math.log(pKn3(tg._2)) / math.log(2.0))
      (ts.length.toLong, -xs.sum / xs.length)
    }.toMap
    val got = TextAnalysis.textLmKn3Score(spark, sf).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val (n, x) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_trigrams") == n)
      assert(math.abs(r.getAs[Double]("xent_kn3") - x) < 1e-5,
        s"doc ${r.getAs[Long]("doc_id")}: got ${r.getAs[Double]("xent_kn3")} expected $x")
      assert(r.getAs[Double]("xent_kn3") > 0.0)
    }
    // per-context sanity on the refit model itself: for a sampled
    // seen context, total probability over its SEEN continuations
    // stays under 1 (the held-out mass is what backoff redistributes)
    val some = cAbc.keySet.groupBy(k => (k._1, k._2)).take(20)
    some.foreach { case (_, tgs) =>
      val mass = tgs.toSeq.map(pKn3).sum
      assert(mass > 0.0 && mass <= 1.0 + 1e-9, s"seen-continuation mass $mass out of range")
    }
  }

  test("5-gram kneser-ney: engine scores equal an independent plain-Scala backoff model fit") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val g5 = docs.flatMap { case (id, t) =>
      (0 until t.length - 4).map(i =>
        (id, List(t(i), t(i + 1), t(i + 2), t(i + 3), t(i + 4)))) }
    val c5 = g5.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // order-k type sets by projection of the order-(k+1) type set
    val b4 = c5.keySet.flatMap(g => Set(g.take(4), g.drop(1)))
    val b3 = b4.flatMap(g => Set(g.take(3), g.drop(1)))
    val b2 = b3.flatMap(g => Set(g.take(2), g.drop(1)))
    val c1234 = c5.groupBy(_._1.take(4)).view.mapValues(_.values.sum).toMap
    val n1f1234 = c5.groupBy(_._1.take(4)).view.mapValues(_.size.toLong).toMap
    val n1l4 = c5.groupBy(_._1.drop(1)).view.mapValues(_.size.toLong).toMap
    val nmid4 = c5.groupBy(k => k._1.slice(1, 4)).view.mapValues(_.size.toLong).toMap
    val n1f234 = b4.groupBy(_.take(3)).view.mapValues(_.size.toLong).toMap
    val n1l3 = b4.groupBy(_.drop(1)).view.mapValues(_.size.toLong).toMap
    val nmid3 = b4.groupBy(_.slice(1, 3)).view.mapValues(_.size.toLong).toMap
    val n1f34 = b3.groupBy(_.take(2)).view.mapValues(_.size.toLong).toMap
    val n1l2 = b3.groupBy(_.drop(1)).view.mapValues(_.size.toLong).toMap
    val nmid2 = b3.groupBy(_.slice(1, 2)).view.mapValues(_.size.toLong).toMap
    val n1f4 = b2.groupBy(_.take(1)).view.mapValues(_.size.toLong).toMap
    val n1r = b2.groupBy(_.drop(1)).view.mapValues(_.size.toLong).toMap
    val tTypes = b2.size.toDouble
    val D = TextAnalysis.KnDiscount
    def pKn5(g: List[String]): Double = {
      val p2 = (math.max(n1l2(g.slice(3, 5)) - D, 0.0) +
        D * n1f4(g.slice(3, 4)) * (n1r(g.slice(4, 5)) / tTypes)) / nmid2(g.slice(3, 4))
      val p3 = (math.max(n1l3(g.slice(2, 5)) - D, 0.0) +
        D * n1f34(g.slice(2, 4)) * p2) / nmid3(g.slice(2, 4))
      val p4 = (math.max(n1l4(g.drop(1)) - D, 0.0) +
        D * n1f234(g.slice(1, 4)) * p3) / nmid4(g.slice(1, 4))
      (math.max(c5(g) - D, 0.0) + D * n1f1234(g.take(4)) * p4) / c1234(g.take(4))
    }
    val expected = g5.groupBy(_._1).view.mapValues { gs =>
      val xs = gs.map(g => math.log(pKn5(g._2)) / math.log(2.0))
      (gs.length.toLong, -xs.sum / xs.length)
    }.toMap
    val got = TextAnalysis.textLmKn5Score(spark, sf).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val (n, x) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_grams5") == n)
      assert(math.abs(r.getAs[Double]("xent_kn5") - x) < 1e-5,
        s"doc ${r.getAs[Long]("doc_id")}: got ${r.getAs[Double]("xent_kn5")} expected $x")
      assert(r.getAs[Double]("xent_kn5") > 0.0)
    }
    // seen-continuation mass per sampled 4-token context stays < 1
    val some = c5.keySet.groupBy(_.take(4)).take(20)
    some.foreach { case (_, gs) =>
      val mass = gs.toSeq.map(pKn5).sum
      assert(mass > 0.0 && mass <= 1.0 + 1e-9, s"seen-continuation mass $mass out of range")
    }
  }

  test("substring dedup: engine output equals an independent brute-force span recomputation") {
    import graft.operators.Dedup
    val k = Dedup.SubstrK
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
      .sortBy(_._1)
    // Global keep-first by (doc_id, pos): visiting docs in id order and
    // positions ascending makes "already seen" exactly "rank > 1".
    val seen = scala.collection.mutable.HashSet[String]()
    val dupIv = scala.collection.mutable.HashMap[Long, List[(Int, Int)]]()
    for ((id, toks) <- docs; p <- 1 to toks.length - k + 1) {
      val g = toks.slice(p - 1, p - 1 + k).mkString(" ")
      if (!seen.add(g)) dupIv(id) = (p, p + k - 1) :: dupIv.getOrElse(id, Nil)
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = docs.map { case (id, toks) =>
      val merged = dupIv.getOrElse(id, Nil).sortBy(_._1)
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, (a, b)) if a <= e0 + 1 => (s0, math.max(e0, b)) :: rest
          case (acc, iv) => iv :: acc
        }.reverse
      val covered = merged.flatMap { case (a, b) => a to b }.toSet
      val kept = toks.zipWithIndex.collect { case (t, i) if !covered(i + 1) => t }
      val dupToks = merged.map { case (a, b) => b - a + 1 }.sum
      (id, toks.length.toLong, merged.length.toLong, dupToks.toLong,
        BigDecimal(dupToks.toDouble / toks.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        if (kept.isEmpty) null else md5hex(kept.mkString(" ")))
    }
    val got = Dedup.dedupSubstring(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_spans"),
        r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_frac"), r.getAs[String]("clean_md5")))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"mismatch: got $g expected $e") }
    // non-vacuity: the corpus must exercise multi-island merges AND
    // partial coverage, or this pin proves nothing about the machinery
    assert(expected.count(_._3 > 1) > 0, "no multi-span doc in corpus")
    assert(expected.count(e => e._4 > 0 && e._4 < e._2) > 0, "no partially-covered doc")
    assert(expected.count(_._6 == null) > 0, "no fully-duplicated doc")
  }

  test("incremental substring dedup: brute-force equality and coverage superset of full recompute") {
    import graft.operators.Dedup
    val k = Dedup.SubstrK
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
      .sortBy(_._1)
    val corpusGrams = docs.filter(_._1 % 10 != 0).flatMap { case (_, toks) =>
      (1 to toks.length - k + 1).map(p => toks.slice(p - 1, p - 1 + k).mkString(" "))
    }.toSet
    val seenShard = scala.collection.mutable.HashSet[String]()
    val dupIv = scala.collection.mutable.HashMap[Long, List[(Int, Int)]]()
    for ((id, toks) <- docs if id % 10 == 0; p <- 1 to toks.length - k + 1) {
      val g = toks.slice(p - 1, p - 1 + k).mkString(" ")
      val dup = corpusGrams(g) || !seenShard.add(g)
      if (dup) dupIv(id) = (p, p + k - 1) :: dupIv.getOrElse(id, Nil)
    }
    def merge(ivs: List[(Int, Int)]): List[(Int, Int)] =
      ivs.sortBy(_._1).foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, (a, b)) if a <= e0 + 1 => (s0, math.max(e0, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
    val expected = docs.filter(_._1 % 10 == 0).map { case (id, _) =>
      val m = merge(dupIv.getOrElse(id, Nil))
      id -> ((m.length.toLong, m.map { case (a, b) => b - a + 1 }.sum.toLong))
    }.toMap
    val got = Dedup.dedupSubstringIncremental(spark, sf).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val (ns, dt) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_dup_spans") == ns && r.getAs[Long]("dup_tokens") == dt,
        s"doc ${r.getAs[Long]("doc_id")}: got (${r.getAs[Long]("n_dup_spans")}, ${r.getAs[Long]("dup_tokens")}) expected ($ns, $dt)")
    }
    // vs the full global recompute: a shard window duplicated there has
    // an earlier occurrence in corpus or shard, so the incremental pass
    // marks it too — per-doc coverage can only grow
    val full = Dedup.dedupSubstring(spark, sf).collect()
      .filter(_.getAs[Long]("doc_id") % 10 == 0)
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_tokens")).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("dup_tokens") >= full(r.getAs[Long]("doc_id")))
    }
  }

  test("bm25: top-k size, positive non-increasing scores, matched-term bounds") {
    val rows = TextAnalysis.textBm25Topk(spark, sf).collect()
    assert(rows.length == TextAnalysis.Bm25TopK)
    val scores = rows.map(_.getAs[Double]("bm25")).toSeq
    assert(scores == scores.sorted.reverse)
    rows.foreach { r =>
      assert(r.getAs[Double]("bm25") > 0.0)
      val nt = r.getAs[Long]("n_terms")
      assert(nt >= 1 && nt <= TextAnalysis.Bm25Terms.length)
    }
  }

  test("entropy: bounded by log2(n_distinct), flag consistent with bar") {
    val rows = TextAnalysis.textEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val nd = r.getAs[Long]("n_distinct")
      assert(nd <= r.getAs[Long]("n_toks"))
      assert(h >= -1e-6 && h <= math.log(nd.toDouble) / math.log(2.0) + 1e-6)
      assert((r.getAs[Long]("low_entropy") == 1L) == (h < TextAnalysis.EntropyLowBar))
    }
  }

  test("quality weights: sigmoid bounds, keep = score above bar, features bounded") {
    val rows = Curation.curQualityWeights(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sc = r.getAs[Double]("score")
      assert(sc > 0.0 && sc < 1.0)
      assert((r.getAs[Long]("keep") == 1L) == (sc >= Curation.QwKeepBar))
      assert(r.getAs[Double]("stop_ratio") >= 0.0 && r.getAs[Double]("stop_ratio") <= 1.0)
      assert(r.getAs[Double]("uniq_ratio") > 0.0 && r.getAs[Double]("uniq_ratio") <= 1.0)
      assert(r.getAs[Double]("mean_wl") > 0.0)
      assert(r.getAs[Double]("len_score") > 0.0 && r.getAs[Double]("len_score") <= 1.0)
    }
    // both classes should occur at test scale
    assert(rows.exists(_.getAs[Long]("keep") == 1L))
  }

  test("fuzzy decontamination = exact jaccard pairs restricted to the train x eval split") {
    import graft.operators.Dedup
    val expected = Dedup.dedupNgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .flatMap { case (a, b) =>
        // orient as (train, eval); drop pairs not crossing the split
        if (a % 20 == 0 && b % 20 != 0) Some(b -> a)
        else if (b % 20 == 0 && a % 20 != 0) Some(a -> b)
        else None
      }
    val expHits = expected.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val rows = Curation.curDecontaminateFuzzy(spark, sf).collect()
    val nTrain = Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 =!= 0).count()
    assert(rows.length == nTrain, "every train doc gets a verdict row")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val hits = r.getAs[Long]("n_near_eval")
      assert(hits == expHits.getOrElse(id, 0L))
      assert((r.getAs[Long]("contaminated") == 1L) == (hits > 0))
      if (hits == 0) assert(r.getAs[Double]("max_jaccard") == 0.0)
      else assert(r.getAs[Double]("max_jaccard") >= Dedup.JaccardThreshold)
    }
    assert(rows.exists(_.getAs[Long]("contaminated") == 1L),
      "corpus should contain near-dup train/eval pairs")
  }

  test("range search: all above bar, superset of bruteforce top-k rows above bar") {
    val rows = Similarity.annRangeSearch(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("cosine") >= Similarity.RangeBar))
    val got = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    Similarity.annBruteforceTopk(spark, sf).collect()
      .filter(_.getAs[Double]("cosine") >= Similarity.RangeBar)
      .foreach { r =>
        assert(got.contains((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
      }
  }

  test("readability: counts consistent, flesch recomputable from them") {
    val rows = TextAnalysis.textReadability(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, se, sy) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_sents"), r.getAs[Long]("n_syll"))
      assert(sy >= w, "every token counts at least one syllable")
      assert(se == math.ceil(w / 16.0).toLong)
      val expect = TextAnalysis.FleschBase -
        TextAnalysis.FleschSent * (w.toDouble / se) -
        TextAnalysis.FleschSyll * (sy.toDouble / w)
      assert(math.abs(r.getAs[Double]("flesch") - expect) < 1e-3)
    }
  }

  test("source cap: per-source kept = min(cap, size), ranks contiguous, priority respected") {
    val rows = Curation.curSourceCap(spark, sf).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (_, rs) =>
      val kept = rs.filter(_.getAs[Long]("kept") == 1L)
      // kept rows carry contiguous ranks 1..min(cap, n); non-kept rows
      // carry NULL — the bounded heap discards ordering beyond the cap
      val ranks = kept.map(_.getAs[Long]("priority_rank")).sorted
      assert(ranks.toSeq == (1L to kept.length).toSeq)
      rs.filter(_.getAs[Long]("kept") == 0L).foreach { r =>
        assert(r.isNullAt(r.fieldIndex("priority_rank")))
      }
      assert(kept.length == math.min(Curation.SourceCap, rs.length))
      // every kept doc outranks (longer-or-equal n_chars) every dropped doc
      val dropped = rs.filter(_.getAs[Long]("kept") == 0L)
      if (dropped.nonEmpty)
        assert(kept.map(_.getAs[Long]("n_chars")).min >=
          dropped.map(_.getAs[Long]("n_chars")).max)
    }
  }

  test("boilerplate: dropped blocks are exactly those with df >= bar, in every doc") {
    import graft.operators.Dedup
    val rows = TextAnalysis.textBoilerplate(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (nb, nboil) = (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_boiler_blocks"))
      assert(nb >= 1 && nboil >= 0 && nboil <= nb)
      val f = r.getAs[Double]("boiler_frac")
      assert(f >= 0.0 && f <= 1.0)
      assert((r.getAs[String]("kept_md5") == null) == (nboil == nb))
    }
    // recompute the flagged dictionary from raw blocks and cross-check
    // the per-doc boilerplate counts — unlike keep-first dedup, EVERY
    // instance of a flagged block counts, including the first.
    val b = Dedup.ParaBlockTokens
    val blocks = Tables.documents(spark, sf)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, cast(ceil(size(toks) / ${b}.0) as int)), i -> concat_ws(' ', slice(toks, (i - 1) * $b + 1, $b)))"))
        .as("block")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("block")))
    val df = blocks.distinct.groupBy(_._2).view.mapValues(_.length).toMap
    val flagged = df.filter(_._2 >= TextAnalysis.BoilerMinDf).keySet
    assert(flagged.nonEmpty, "corpus should contain boilerplate at the bar")
    val expected = blocks.groupBy(_._1).view
      .mapValues(_.count(p => flagged.contains(p._2))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_boiler_blocks") == expected(id).toLong, s"doc $id")
    }
    assert(rows.map(_.getAs[Long]("n_boiler_blocks")).sum > 0)
  }

  test("hybrid rrf: fused ranks consistent with modality ranks and bruteforce") {
    val rows = Similarity.annHybridRrf(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == Similarity.NumQueryVecs)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to Similarity.TopK).toSeq)
      // rrf recomputable from the (nullable) modality ranks
      rs.foreach { r =>
        val lr = Option(r.getAs[java.lang.Long]("lex_rank")).map(_.toLong)
        val er = Option(r.getAs[java.lang.Long]("emb_rank")).map(_.toLong)
        assert(lr.nonEmpty || er.nonEmpty)
        val exp = lr.map(x => 1.0 / (Similarity.RrfK + x)).getOrElse(0.0) +
          er.map(x => 1.0 / (Similarity.RrfK + x)).getOrElse(0.0)
        val rounded = BigDecimal(exp)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getAs[Double]("rrf") == rounded)
      }
      // fused score non-increasing in fused rank
      val sorted = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("rrf"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
    // the dense ranks agree with the exact bruteforce top-k where visible
    val bf = Similarity.annBruteforceTopk(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        r.getAs[Long]("neighbor_id")).toMap
    rows.foreach { r =>
      Option(r.getAs[java.lang.Long]("emb_rank")).map(_.toLong)
        .filter(_ <= Similarity.TopK).foreach { er =>
          assert(bf((r.getAs[Long]("query_id"), er)) == r.getAs[Long]("doc_id"))
        }
    }
  }

  test("tokenHashes: byte-level split+hash equals the per-String path") {
    // the allocation-free kernel must produce the SAME hash per token
    // as split(" ", -1) + per-token UTF-8 xxhash64 — including empty
    // tokens (double/leading/trailing spaces) and multi-byte UTF-8
    def ref(text: String): Array[Long] =
      text.split(" ", -1).map { t =>
        val b = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      }
    val cases = Seq(
      "plain ascii tokens here",
      "a", "", " ", "  ", "lead  double", "trail ",
      " leading space", "naïve café über tokens",
      "emoji 🙂 and ¢ñ mixed 漢字 ok",
      "x " * 40 + "y")
    cases.foreach { t =>
      assert(TextAnalysis.tokenHashes(t, 1).toSeq == ref(t).toSeq, s"mismatch for '$t'")
    }
    // minTokens gate: below-threshold docs return null
    assert(TextAnalysis.tokenHashes("one two", 3) == null)
    assert(TextAnalysis.tokenHashes(null, 1) == null)
  }

  test("drift jsd: matches a plain-Scala refit; contributions non-negative, ordered") {
    val rows = TextAnalysis.textDriftJsd(spark, sf).collect()
    assert(rows.length == TextAnalysis.JsdTopK)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse("")))
    val ca = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cb = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (id, t) =>
      val m = if (id % 2 == 0) ca else cb
      t.split(" ", -1).foreach(tok => m(tok) += 1L)
    }
    val (ta, tb) = (ca.values.sum.toDouble, cb.values.sum.toDouble)
    def contrib(tok: String): Double = {
      val pa = ca(tok) / ta; val pb = cb(tok) / tb
      def term(p: Double, q: Double) =
        if (p > 0) 0.5 * p * (math.log(2.0 * p / (p + q)) / math.log(2.0)) else 0.0
      term(pa, pb) + term(pb, pa)
    }
    // engine rows match the refit value per token, are sorted by
    // rounded contribution, and every contribution is >= 0 (JSD terms
    // are non-negative pointwise)
    val contribs = rows.map(_.getAs[Double]("jsd_contrib"))
    assert(contribs.sameElements(contribs.sorted.reverse))
    rows.foreach { r =>
      val tok = r.getAs[String]("token")
      val c = r.getAs[Double]("jsd_contrib")
      assert(c >= 0.0)
      assert(math.abs(c - BigDecimal(contrib(tok)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) <= 1e-9, s"token '$tok'")
      assert(r.getAs[Long]("ca") == ca(tok) && r.getAs[Long]("cb") == cb(tok))
    }
    // total JSD over the whole vocabulary is a valid divergence
    val all = (ca.keySet ++ cb.keySet).toSeq.map(contrib).sum
    assert(all >= 0.0 && all <= 1.0 + 1e-9, s"jsd=$all")
  }

  test("cms topk: matches a plain-Scala CMS refit; estimates never undercount") {
    val rows = TextAnalysis.textCmsTopk(spark, sf).collect()
    assert(rows.length == TextAnalysis.CmsTopK)
    // independent refit: exact counts + the d x w matrix in plain Scala
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect()
      .flatMap(r => Option(r.getString(0)).getOrElse("").split(" ", -1))
    def bucket(r: Int, tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$r|$tok".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 12)
      java.lang.Long.parseLong(hex, 16) % TextAnalysis.CmsWidth
    }
    val matrix = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
    toks.foreach { t =>
      (0 until TextAnalysis.CmsRows).foreach { r => matrix((r, bucket(r, t))) += 1L }
    }
    val exact = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expectTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(TextAnalysis.CmsTopK)
    rows.zip(expectTop).zipWithIndex.foreach { case ((row, (tok, c)), i) =>
      assert(row.getAs[Long]("rank") == i + 1)
      assert(row.getAs[String]("token") == tok)
      assert(row.getAs[Long]("true_count") == c)
      val est = (0 until TextAnalysis.CmsRows).map(r => matrix((r, bucket(r, tok)))).min
      assert(row.getAs[Long]("cms_est") == est)
      // CMS guarantee: collisions only ADD, so est >= true always
      assert(row.getAs[Long]("overestimate") >= 0L)
      assert(row.getAs[Long]("cms_est") >= c)
    }
  }
}
