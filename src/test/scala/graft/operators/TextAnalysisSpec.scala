package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

case class TDoc(doc_id: Long, text: String, lang: String)

class TextAnalysisSpec extends SparkSpec {

  import spark.implicits._

  val docs = Seq(
    TDoc(1, "the cat and the dog", "en"),
    TDoc(2, "der hund und die katze ist", "de"),
    TDoc(3, "zzz yyy xxx", "xx")).toDF()

  test("phrase search: top bigram picked, adjacency hits per doc") {
    val corpus = Seq(
      (1L, "x y x y z"), // "x y" twice
      (2L, "x y only once"),
      (3L, "a a a"), // "a a" twice — outvoted by "x y" (3 total)
      (4L, "no match here")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(corpus)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("x y", 1L, 2L), ("x y", 2L, 1L)))
  }

  test("phrase search: overlapping occurrences all count") {
    // "a a a a" holds THREE "a a" bigrams at positions (0,1)(1,2)(2,3)
    val corpus = Seq((1L, "a a a a")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(corpus)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a a", 1L, 3L)))
  }

  test("phrase search: count ties break lexicographically") {
    val corpus = Seq((1L, "b c"), (2L, "a d")).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(corpus)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a d", 2L, 1L)))
  }

  test("nb classifier: separable corpus yields a diagonal confusion") {
    // keep=1 docs (long, diverse, stopword-rich) share vocabulary;
    // keep=0 docs (short, repetitive) share a different one — the NB
    // model trained on the heuristic labels must reproduce them
    val good = "the curious researchers and their careful students " +
      "examined many different hypotheses while writing about results " +
      "that other groups could verify with simple tools they had built"
    val corpus = Seq(
      (1L, good + " alpha beta gamma delta epsilon zeta"),
      (2L, good + " although several reviewers disagreed about methods"),
      (3L, "spam spam spam spam"),
      (4L, "buy buy buy spam buy")).toDF("doc_id", "text")
    val labels = TextAnalysis.qualityScore(corpus)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    // the fixture must actually be separable at the heuristic gate
    assert(labels.values.toSet === Set(0, 1))
    val conf = TextAnalysis.nbQualityClassifier(corpus)
      .as[(Int, Int, Long)].collect().toSeq
    // all mass on the diagonal: the model reproduces its labels
    assert(conf.forall { case (l, p, _) => l === p },
      s"off-diagonal confusion cells: $conf")
    assert(conf.map(_._3).sum === 4L)
  }

  test("dsir select: target-vocabulary docs outrank off-target ones") {
    val tgt = "shared common words appear here together nicely"
    val corpus = Seq(
      (1L, tgt + " extra", "en"),
      (2L, tgt + " more", "en"),
      (3L, tgt, "de"),             // target vocabulary, wrong label
      (4L, "completely unrelated tokens entirely elsewhere", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.dsirSelect(corpus)
      .as[(Long, Long)].collect().toMap
    // doc 4 shares no buckets with the en slice → lowest weight
    assert(out(4L) === out.values.min)
    // doc 3 writes in the target vocabulary → scores above doc 4
    assert(out(3L) > out(4L))
  }

  test("inverted index: df floor, ordered capped postings") {
    val docs = Seq(
      (1L, "a a b"), (2L, "a b b"), (3L, "a c")).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs, k = 2, minDf = 2)
      .as[(String, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(
      // a: df 3, tf 4; top-2 postings by (tf desc, doc_id)
      ("a", 3L, 4L, "1:2 2:1"),
      // b: df 2, tf 3; c (df 1) is floored out
      ("b", 2L, 3L, "2:2 1:1")))
  }

  test("token stats: counts and average length") {
    val out = TextAnalysis.tokenStats(docs)
      .select("doc_id", "n_tokens", "n_token_chars", "avg_token_len")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 5L, 15L, 3.0)))
    assert(out(2) === ((3L, 3L, 9L, 3.0)))
  }

  test("lang id: stopword vote with priority tie-break") {
    val out = TextAnalysis.langId(docs)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out(1L) === "en") // 'the' x2, 'and'
    assert(out(2L) === "de") // der/und/die/ist
    assert(out(3L) === "und") // no hits anywhere
  }

  test("quality: ttr and stopword ratio are exact divisions") {
    val q = TextAnalysis.qualityScore(docs)
      .select("doc_id", "ttr", "stop_ratio").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap.apply(1L)
    assert(q === ((0.8, 0.6))) // 4 distinct / 5; the,and,the = 3/5
  }

  test("fingerprint: identical after normalization") {
    val two = Seq(TDoc(1, "A  b\tc", "x"), TDoc(2, "a b c", "x")).toDF()
    val fp = TextAnalysis.fingerprint(two).select("fp").as[String].collect()
    assert(fp(0) === fp(1))
  }

  test("unigram logprob: rare-token docs score as more surprising") {
    val corpus = Seq(
      TDoc(1, "common common common common", "en"),
      TDoc(2, "common common common rare", "en")).toDF()
    val out = TextAnalysis.unigramLogprob(corpus)
      .select("doc_id", "avg_nll").as[(Long, Double)].collect().toMap
    assert(out(2L) > out(1L)) // 'rare' (p=1/8) beats 'common' (p=7/8)
    assert(out(1L) > 0.0)
  }

  test("bigram logprob: surprising bigrams score higher; 1-token docs drop") {
    val corpus = Seq(
      TDoc(1, "x y x y x y", "en"),
      TDoc(2, "x y x q", "en"),   // 'x q' appears once in the corpus
      TDoc(3, "solo", "en")).toDF()
    val out = TextAnalysis.bigramLogprob(corpus)
      .select("doc_id", "n_bigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(3L))          // no bigrams → drops out
    assert(out(1L)._2 === 5L && out(2L)._2 === 3L)
    assert(out(2L)._3 > out(1L)._3)    // rare 'x q' is surprising
  }

  test("trigram logprob: unique continuation scores zero; short docs drop") {
    val corpus = Seq(
      TDoc(1, "a b c a b c a b c", "en"), // every context determines w3
      TDoc(2, "a b c a b d", "en"),       // 'a b' → {c, d} splits mass
      TDoc(3, "just two", "en")).toDF()
    val out = TextAnalysis.trigramLogprob(corpus)
      .select("doc_id", "n_trigrams", "avg_nll")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(3L))          // <3 tokens → no trigrams
    assert(out(1L)._2 === 7L && out(2L)._2 === 4L)
    // doc 2 contains the split-context trigrams, so it is strictly
    // more surprising than doc 1's (which also shares 'a b' context)
    assert(out(2L)._3 > out(1L)._3)
  }

  test("interp logprob at lambda 1 is the bigram LM, row for row") {
    // 1.0·x + 0.0·y = x exactly in IEEE, and every bigram's second word
    // is in the unigram table, so the unigram join drops no bigram
    val corpus = Seq(
      TDoc(1, "x y x y x y", "en"),
      TDoc(2, "x y x q", "en"),
      TDoc(3, "a b c a b d", "en"),
      TDoc(4, "solo", "en")).toDF()
    def rows(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select("doc_id", "n_bigrams", "avg_nll")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val bigram = rows(TextAnalysis.bigramLogprob(corpus))
    assert(bigram.map(_._1) === Seq(1L, 2L, 3L))
    assert(rows(TextAnalysis.interpLogprob(corpus, lambda = 1.0)) === bigram)
  }

  test("ppl buckets partition exactly the docs the unigram LM scores") {
    // doc i: 10 − i shared words and i words of its own, so the
    // per-doc score rises with i and the thirds are all populated
    val corpus = (1 to 9).map { i =>
      TDoc(i, (Seq.fill(10 - i)("the") ++ (1 to i).map(k => s"r${i}x$k"))
        .mkString(" "), "en")
    }.toDF()
    val scored = TextAnalysis.unigramLogprob(corpus)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect()
    val buckets = TextAnalysis.pplBuckets(corpus)
      .select("bucket", "n_docs", "n_tokens", "avg_score_milli")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(buckets.keySet === Set("head", "middle", "tail"))
    assert(buckets.values.map(_._2).sum === scored.length.toLong)
    assert(buckets.values.map(_._3).sum === scored.map(_._2).sum)
    assert(buckets("head")._4 <= buckets("middle")._4)
    assert(buckets("middle")._4 <= buckets("tail")._4)
  }

  test("backoff heldout: each backoff level fires, unseen scores worse") {
    // split bucket = (id+9)%10 → ids ≡ 0,9 (mod 10) land in eval
    val corpus = Seq(
      TDoc(1, "x y z x y z x y z", "en"),  // train
      TDoc(10, "q x y z w", "en"),          // eval: 3 trigrams
      TDoc(20, "aa bb cc", "en")).toDF()    // eval: 1 all-unseen trigram
    val out = TextAnalysis.backoffHeldout(corpus)
      .select("doc_id", "n_trigrams", "n_backoff", "avg_nll")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains(1L))              // train docs are not scored
    // doc 10: 'x y z' hits the trigram table (branch 0), 'q x y'
    // backs off to the seen bigram 'x y' (branch 1), 'y z w' falls
    // through to the unigram floor (branch 2) → 2 of 3 backed off
    assert(out(10L)._2 === 3L && out(10L)._3 === 2L)
    // doc 20 is entirely out-of-vocabulary → every position backs off
    assert(out(20L)._2 === 1L && out(20L)._3 === 1L)
    // fully-unseen text is more surprising than the mixed doc
    assert(out(20L)._4 > out(10L)._4)
    assert(out.values.forall(_._4 > 0.0))
  }

  test("window cooc: symmetric pairs at distances up to the window") {
    val corpus = Seq(TDoc(1, "a b c", "en")).toDF()
    val got = TextAnalysis.windowCooc(corpus)
      .as[(String, String, Long)].collect().toSet
    // window 2 over "a b c": every pair co-occurs once, both directions
    assert(got === Set(("a", "b", 1L), ("b", "a", 1L), ("a", "c", 1L),
      ("c", "a", 1L), ("b", "c", 1L), ("c", "b", 1L)))
    // window 1 restricts to adjacency
    val adj = TextAnalysis.windowCooc(corpus, window = 1)
      .as[(String, String, Long)].collect().toSet
    assert(adj === Set(("a", "b", 1L), ("b", "a", 1L),
      ("b", "c", 1L), ("c", "b", 1L)))
    // repeats accumulate: "a b a" has (a,a) at distance 2
    val rep = TextAnalysis.windowCooc(Seq(TDoc(2, "a b a", "en")).toDF())
      .as[(String, String, Long)].collect().toSet
    assert(rep === Set(("a", "b", 2L), ("b", "a", 2L), ("a", "a", 2L)))
  }

  test("quality calibration: bands, quantized mean score, exact pos rate") {
    // "x y": ttr 1.0 -> 0.5, length 2/100 -> 0.006, no stopwords
    // => quality 0.506, band 5; same text under 'en' and 'fr' labels
    // gives the band a 50% positive rate
    val corpus = Seq(
      TDoc(1, "x y", "en"), TDoc(2, "x y", "fr"),
      // "the the the": ttr 1/3 -> 0.166667, len 0.009, stop 3/3 -> 0.2
      // => quality 0.375667, band 3, pure negative
      TDoc(3, "the the the", "de")).toDF()
    val got = TextAnalysis.qualityCalibration(corpus)
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(3L, 5L))
    assert(got(5L) === ((5L, 2L, 1L, 0.506, 500000L)))
    assert(got(3L)._2 === 1L && got(3L)._3 === 0L)
    assert(got(3L)._5 === 0L)
  }

  test("kneser-ney heldout: counters partition; discount and continuation math exact") {
    // split: ids ≡ 0,9 (mod 10) land in eval (same device as backoff)
    // train doc 1 "a b a b": c("a b")=2, c("b a")=1; c1(a)=2, c1(b)=1;
    // N1+(a·)=N1+(b·)=1; N1+(·a)=N1+(·b)=1; 2 bigram types, 2 cont types
    val corpus = Seq(
      TDoc(1, "a b a b", "en"),   // train
      TDoc(9, "a a", "en"),       // eval: seen ctx, unseen bigram
      TDoc(10, "a b", "en"),      // eval: fully seen bigram
      TDoc(20, "q r", "en")).toDF() // eval: unseen context
    val out = TextAnalysis.knHeldout(corpus)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === Set(9L, 10L, 20L))
    assert(out(9L) === ((9L, 1L, 0L, 1L, 1.89712)))   // -ln(0.75·0.4/2)
    assert(out(10L) === ((10L, 1L, 0L, 0L, 0.254892))) // -ln((1.25+0.3)/2)
    assert(out(20L) === ((20L, 1L, 1L, 0L, 1.609438))) // -ln(Pc) = ln 5
    // the fully-seen bigram is the least surprising of the three
    assert(out(10L)._5 < out(9L)._5 && out(10L)._5 < out(20L)._5)
  }

  test("bpe: merges follow weighted pair counts, stop when symbols exhaust") {
    // vocabulary: 'aaab' ×2, 'ab' ×1
    val corpus = Seq(TDoc(1, "aaab aaab", "en"), TDoc(2, "ab", "en")).toDF()
    val got = TextAnalysis.bpeTrain(corpus, k = 10)
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    // step 1: 'a a' = 2 per 'aaab' × 2 words = 4, beats 'a b' (3)
    // step 2: after 'a a'→'aa': 'a b' = 2+1 = 3 beats 'aa a' (2)
    // step 3: only 'aa ab' (2) remains; then no pairs → stop at 3
    assert(got.toSeq === Seq(
      (1L, "a", "a", 4L),
      (2L, "a", "b", 3L),
      (3L, "aa", "ab", 2L)))
  }

  test("bpe encode: merges compress repeated words, novel word stays chars") {
    val corpus = Seq(TDoc(1, "aaab aaab", "en"), TDoc(2, "ab", "en"),
      TDoc(3, "xyz", "en")).toDF()
    val out = TextAnalysis.bpeEncode(corpus, k = 3)
      .select("doc_id", "n_words", "n_chars", "n_subtokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // merges learned: a+a, a+b, aa+ab → 'aaab' = 1 subtoken
    assert(out(1L) === ((1L, 2L, 8L, 2L)))
    // 'ab' merged at step 2 → 1 subtoken of 2 chars
    assert(out(2L) === ((2L, 1L, 2L, 1L)))
    // 'xyz' never merged (no repeated pairs reach the top) → 3 chars
    assert(out(3L) === ((3L, 1L, 3L, 3L)))
    // with k=10 the singleton pairs merge too ('x y' at 4, 'xy z' at
    // 5), then EVERY word is one symbol and merges exhaust at 5 —
    // training must stop and encode must keep the final vocabulary
    // (the oracle mirrors via the LEFT JOIN ladder)
    assert(TextAnalysis.bpeTrain(corpus, k = 10).count() === 5L)
    val out10 = TextAnalysis.bpeEncode(corpus, k = 10)
      .select("doc_id", "n_words", "n_chars", "n_subtokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out10 === Map(
      1L -> ((1L, 2L, 8L, 2L)),
      2L -> ((2L, 1L, 2L, 1L)),
      3L -> ((3L, 1L, 3L, 1L))))
  }

  test("unigram viterbi: min-cost DP, in-vocab word stays whole, " +
    "over-length pieces force a split") {
    val corpus = Seq(TDoc(1, "ababab", "en"), TDoc(2, "ab", "en")).toDF()
    val got = TextAnalysis.unigramViterbi(corpus)
      .select("word", "n_occurrences", "n_chars", "n_pieces",
        "fertility_milli")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set("ababab", "ab"))
    // 'ab' is a vocabulary piece: one piece beats a+b (costs add)
    assert(got("ab") === (("ab", 1L, 2L, 1L, 500L)))
    // 'ababab' exceeds UniMaxPiece=4, must split; min-cost split is
    // [ab][abab] / [abab][ab] (2 pieces) over [aba][bab] and chars
    assert(got("ababab") === (("ababab", 1L, 6L, 2L, 333L)))
    // a word longer than UniMaxWord is out of contract -> dropped
    val long = Seq(TDoc(1, "abcdefghijklm", "en")).toDF() // 13 chars
    assert(TextAnalysis.unigramViterbi(long).count() === 0L)
    // q_cost is the exact integer micro-nat sum of the chosen pieces
    val q = TextAnalysis.unigramViterbi(corpus)
      .select("word", "q_cost").as[(String, Long)].collect().toMap
    // vocab mass t = 21 (a:4 b:4 ab:4 ba:2 aba:2 bab:2 abab:2 baba:1)
    assert(q("ab") === math.round(-math.log(4.0 / 21.0) * 1e6))
    assert(q("ababab") ===
      math.round(-math.log(4.0 / 21.0) * 1e6) +
        math.round(-math.log(2.0 / 21.0) * 1e6))
  }

  test("unigram hard-EM: counts follow the argmin segmentations, " +
    "mass conserves, unused pieces re-estimate to zero") {
    // same corpus as the viterbi case: words ababab(1), ab(1);
    // vocabulary mass t = 21 (a:4 b:4 ab:4 ba:2 aba:2 bab:2 abab:2
    // baba:1). Argmin segmentations: ab → [ab]; ababab → tie between
    // [ab][abab] and [abab][ab], smallest-start rule picks the
    // LONGEST LAST piece → [ab, abab].
    val corpus = Seq(TDoc(1, "ababab", "en"), TDoc(2, "ab", "en")).toDF()
    val got = TextAnalysis.unigramHardEm(corpus)
      .select("piece", "cnt", "em_cnt", "p_ppm", "em_p_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set("a", "b", "ab", "ba", "aba", "bab",
      "abab", "baba"))
    // E-step counts: ab used by both words (1+1), abab by one
    assert(got("ab") === (("ab", 4L, 2L, 4L * 1000000L / 21L,
      2L * 1000000L / 3L)))
    assert(got("abab") === (("abab", 2L, 1L, 2L * 1000000L / 21L,
      1000000L / 3L)))
    // pieces no argmin segmentation uses re-estimate to zero — the
    // pruning signal
    Seq("a", "b", "ba", "aba", "bab", "baba").foreach { p =>
      assert(got(p)._3 === 0L && got(p)._5 === 0L, s"piece $p")
    }
    // conservation: Σ em_cnt = Σ c(w)·n_pieces(w) (= te = 3 here),
    // and the new distribution's ppm mass is within integer-div loss
    assert(got.values.map(_._3).sum === 3L)
    val ppmSum = got.values.map(_._5).sum
    assert(ppmSum <= 1000000L && 1000000L - ppmSum < got.size)
  }

  test("collocations: exclusive pair beats promiscuous pair, floor filters") {
    // 'new york' always co-occurs (exclusive); 'of the' is frequent but
    // both words roam widely → lower PMI. 'rare pair' appears once →
    // cut by the min-count floor.
    val base = "of the a of the b of the c of the d of the e"
    val corpus = (1L to 4L).map(i => TDoc(i, s"new york $base", "en"))
      .:+(TDoc(5L, s"new york $base rare pair", "en")).toDF()
    val out = TextAnalysis.collocations(corpus, k = 10, minCount = 5)
      .select("w1", "w2", "pmi").as[(String, String, Double)].collect()
    val pmi = out.map(r => (r._1, r._2) -> r._3).toMap
    assert(pmi.contains(("new", "york")) && pmi.contains(("of", "the")))
    assert(!pmi.keySet.contains(("rare", "pair")))
    assert(pmi(("new", "york")) > pmi(("of", "the")))
  }

  test("repetition: degenerate doc gated out, diverse doc kept") {
    val corpus = Seq(
      TDoc(1, "spam spam spam spam spam spam", "en"),
      TDoc(2, "every token here is fully distinct wording", "en")).toDF()
    val out = TextAnalysis.repetition(corpus)
      .select("doc_id", "top_ratio", "dup_bg_ratio", "keep")
      .as[(Long, Double, Double, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 1.0 && out(1L)._4 === 0)
    assert(out(1L)._3 === 0.8)         // 5 bigrams, 1 distinct
    assert(out(2L)._2 < 0.2 && out(2L)._4 === 1)
  }

  test("mix_domains: deterministic, rate-ordered, partition-independent") {
    val docs = (1L to 400L).map(i => (i, s"src${i % 4}", "w"))
      .toDF("doc_id", "source", "text")
    val once = TextAnalysis.mixDomains(docs)
      .select("doc_id").as[Long].collect().toSet
    val again = TextAnalysis.mixDomains(docs.repartition(7))
      .select("doc_id").as[Long].collect().toSet
    assert(once === again)
    val bySrc = TextAnalysis.mixDomains(docs).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("src0") === 100L)                   // rate 1.0 keeps all
    assert(bySrc("src0") > bySrc.getOrElse("src1", 0L))
    assert(bySrc.getOrElse("src1", 0L) > bySrc.getOrElse("src3", 0L))
  }

  test("mix_temperature: small sources upweighted, tiny ones taken whole") {
    // big: 8 docs × 16 tokens = 128; small: 2 docs × 2 tokens = 4
    val docs = ((1L to 8L).map(i => (i, "big", Seq.fill(16)("w").mkString(" ")))
      ++ Seq((100L, "small", "w w"), (101L, "small", "w w")))
      .toDF("doc_id", "source", "text")
    val plan = TextAnalysis.mixTemperature(docs, budgetPpm = 1000000L)
      .select("source", "n_tokens", "nat_ppm", "temp_ppm", "rate_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(plan("big")._2 === 128L && plan("small")._2 === 4L)
    // temperature pulls shares toward uniform: small up, big down
    assert(plan("small")._4 > plan("small")._3)
    assert(plan("big")._4 < plan("big")._3)
    // the small source's temperature target exceeds its size → whole
    assert(plan("small")._5 === 1000000L)
    assert(plan("big")._5 < 1000000L && plan("big")._5 > plan("big")._4)
    // a half-corpus epoch budget halves the big source's rate exactly
    val half = TextAnalysis.mixTemperature(docs, budgetPpm = 500000L)
      .select("source", "rate_ppm").as[(String, Long)].collect().toMap
    assert(half("big") === plan("big")._4 * 66L / 128L)
    assert(half("small") === 1000000L)  // still whole: target 2.5× size
    // sampling applies exactly the planned rate via the stable bucket
    val kept = TextAnalysis.mixTemperatureSample(docs, budgetPpm = 1000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(100L) && kept.contains(101L))
    val expectBig = (1L to 8L).filter(i =>
      ((i % 1000003) * 2654435761L + 12345) % 1000000 < plan("big")._5).toSet
    assert(kept.filter(_ <= 8L) === expectBig)
    // partition-independent
    val again = TextAnalysis.mixTemperatureSample(docs.repartition(7),
      budgetPpm = 1000000L)
      .select("doc_id").as[Long].collect().toSet
    assert(again === kept)
  }

  test("pack_sequences: offset binning packs per source shard") {
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "a b c"), (3L, "s", "a b c"),
      (10L, "t", "a b c d e f")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(docs, seqLen = 5L)
      .select("doc_id", "cum_tokens", "seq_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // source s: cum 3/6/9, start offsets 0/3/6 → seqs 0,0,1
    assert(out(1L) === ((1L, 3L, 0L)))
    assert(out(2L) === ((2L, 6L, 0L)))
    assert(out(3L) === ((3L, 9L, 1L)))
    assert(out(10L) === ((10L, 6L, 0L))) // t shard packs independently
  }

  test("chunking: overlapping windows, clamped tail, empty doc drops") {
    val docs = Seq(
      TDoc(1, (1 to 95).map(i => s"w$i").mkString(" "), "en"),
      TDoc(2, "", "en")).toDF()
    val out = TextAnalysis.chunk(docs, w = 50, stride = 40)
      .select("doc_id", "chunk_id", "start_tok", "n_chunk_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._3)
    // starts at 0, 40, 80; tail clamped to 15 tokens; doc 2 has none
    assert(out.toSeq === Seq((1L, 0L, 0L, 50L), (1L, 1L, 40L, 50L),
      (1L, 2L, 80L, 15L)))
    val c0 = TextAnalysis.chunk(docs, 50, 40)
      .filter(org.apache.spark.sql.functions.col("chunk_id") === 0)
      .select("chunk").as[String].head()
    assert(c0.startsWith("w1 w2 ") && c0.endsWith(" w50"))
  }

  test("corpus gate: any failing component flips the final keep") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "it ran away to find some other interesting things in a forest"
    val docs = Seq(
      TDoc(1, good, "en"),                       // passes everything
      TDoc(2, good, "en"),                       // exact dup of 1 → dropped
      TDoc(3, "spam spam spam spam spam spam the of and to in is a", "en"),
      TDoc(4, "der hund und die katze ist ein der und die das ist ein tier heute", "de"))
      .toDF()
    val out = TextAnalysis.corpusGate(docs)
      .select("doc_id", "q_keep", "r_keep", "l_keep", "is_canonical", "keep")
      .as[(Long, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._6 === 1, s"doc 1 should pass: ${out(1L)}")
    assert(out(2L)._5 === 0 && out(2L)._6 === 0)  // dup loses canonicality
    assert(out(3L)._2 === 0 || out(3L)._3 === 0)  // degenerate text gated
    assert(out(3L)._6 === 0)
    assert(out(4L)._4 === 0 && out(4L)._6 === 0)  // non-English gated
  }

  test("budget select: best-quality docs kept until the ration runs out") {
    // source A: three 10-token docs with descending quality (distinct
    // token ratios); budget 25 tokens → top two kept, third cut
    val rich = "the quick brown fox jumps over a lazy dog today"  // 10 distinct
    val mid = "the the quick quick brown brown fox fox dog dog"   // 5 distinct
    val poor = "spam spam spam spam spam spam spam spam spam spam" // 1 distinct
    val docs = Seq(
      TDoc(1, poor, "en"), TDoc(2, rich, "en"), TDoc(3, mid, "en"))
      .toDF().withColumn("source", org.apache.spark.sql.functions.lit("A"))
    val got = TextAnalysis.budgetSelect(docs, budget = 25L)
      .select("doc_id", "cum_tokens", "keep")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(2L) === (10L, 1))  // best quality fills first
    assert(got(3L) === (20L, 1))  // second still inside 25
    assert(got(1L) === (30L, 0))  // worst lands past the ration
  }

  test("weighted budget: a clone cluster charges one doc-equivalent, " +
    "so fresh content stays inside the ration") {
    // five EXACT 10-token clones (near-dup cluster of 5 → weight
    // 200000 ppm) ahead of one 9-token fresh doc. Unweighted, the
    // clones alone blow a 25-token budget after two docs; weighted,
    // each clone charges 2 effective tokens, so all five clones AND
    // the fresh doc fit. Exact dups make the LSH edges certain (J = 1
    // bands always collide), so the fixture can't drift on banding.
    val clone = "the quick brown fox jumps over a lazy dog today"
    val fresh = "completely different words about spark catalyst " +
      "tungsten codegen planning"
    val docs = ((1L to 5L).map(i => TDoc(i, clone, "en")) :+
      TDoc(6L, fresh, "en"))
      .toDF().withColumn("source", org.apache.spark.sql.functions.lit("A"))
    val got = TextAnalysis.budgetSelectWeighted(docs, budget = 25L)
      .select("doc_id", "n_tokens", "weight_ppm", "eff_utokens",
        "cum_utokens", "keep")
      .as[(Long, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 6)
    (1L to 5L).foreach { i =>
      assert(got(i)._3 === 200000L, s"clone $i weight")
      assert(got(i)._4 === 10L * 200000L) // 2 effective tokens, micro
      assert(got(i)._6 === 1, s"clone $i must fit the weighted ration")
    }
    assert(got(6L)._3 === 1000000L)
    assert(got(6L)._6 === 1, "fresh doc must survive the clone burst")
    // the unweighted cut on the same corpus rejects everything past
    // the first two clones AND the fresh doc — the contrast the
    // operator exists for
    val un = TextAnalysis.budgetSelect(docs, budget = 25L)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    assert(un.values.count(_ == 1) === 2)
    // total effective charge: 5 clones × 2 + fresh 9 = 19 ≤ 25
    val totalEff = got.values.map(_._4).sum
    assert(totalEff === (5L * 10L * 200000L) + 9L * 1000000L)
  }

  test("curriculum order: a band-desc permutation, shuffled within bands, " +
    "partition invariant") {
    val rich = "the quick brown fox jumps over a lazy dog today"
    val mid = "the the quick quick brown brown fox fox dog dog"
    val poor = "spam spam spam spam spam spam spam spam spam spam"
    val docs = (1L to 4L).map(i => TDoc(i, poor, "en")) ++
      (5L to 8L).map(i => TDoc(i, mid, "en")) ++
      (9L to 12L).map(i => TDoc(i, rich, "en"))
    val df = docs.toDF()
      .withColumn("source", org.apache.spark.sql.functions.lit("A"))
    val got = TextAnalysis.curriculumOrder(df)
      .select("doc_id", "band", "global_pos")
      .as[(Long, Int, Long)].collect().sortBy(_._3)
    // positions are exactly 0..n-1 (a permutation)
    assert(got.map(_._3).toSeq === (0L until 12L))
    // bands never increase along the reading order (curriculum)
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    // every doc appears once
    assert(got.map(_._1).sorted.toSeq === (1L to 12L))
    // partition invariance: the two-phase global position must not
    // depend on input layout
    val got2 = TextAnalysis.curriculumOrder(df.repartition(7))
      .select("doc_id", "band", "global_pos")
      .as[(Long, Int, Long)].collect().sortBy(_._3)
    assert(got2.toSeq === got.toSeq)
  }

  test("pii redact: counts every span, scrubbed text has no residue") {
    val df = Seq(
      (1L, "mail a.b-c_d@sub.example.org and x@y.io call 555-1234 ok"),
      (2L, "no pii here, 555-12 is too short and a@b is not a mail"),
      (3L, "555-0000 555-9999")).toDF("user_id", "text")
    val out = TextAnalysis.piiRedact(df)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == 2 && out(1L)._3 == 1)
    assert(out(1L)._4 == "mail [EMAIL] and [EMAIL] call [PHONE] ok")
    assert(out(2L)._2 == 0 && out(2L)._3 == 0 &&
      out(2L)._4 == "no pii here, 555-12 is too short and a@b is not a mail")
    assert(out(3L)._4 == "[PHONE] [PHONE]")
  }

  test("bm25: zero without query terms, tf-monotone at equal length") {
    val corpus = Seq(
      TDoc(1, "spark spark spark aaa", "en"),
      TDoc(2, "spark bbb ccc ddd", "en"),
      TDoc(3, "eee fff ggg hhh", "en")).toDF()
    val out = TextAnalysis.bm25(corpus)
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(out(3L) === 0.0)          // no query term at all
    assert(out(1L) > out(2L))        // tf=3 beats tf=1 at the same dl
    assert(out(2L) > 0.0)
  }

  test("quality PR curve: cumulative over descending threshold, recall ends at 1") {
    // two en docs (the positives) score above the two zh docs:
    // rich vocab + stopwords vs pure repetition
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog with a very long tail"),
      (2L, "en", "a bright new day brings many fresh ideas and the will to act on them"),
      (3L, "zh", "x x x x x x x x"),
      (4L, "zh", "y y y y y y y y"))
      .toDF("doc_id", "lang", "text")
    val rows = TextAnalysis.qualityPr(docs)
      .select("threshold", "n_ge", "precision", "recall")
      .as[(Double, Long, Double, Double)].collect()
      .sortBy(-_._1)
    // thresholds descend, n_ge and recall are nondecreasing
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq)
    assert(rows.map(_._4).toSeq === rows.map(_._4).sorted.toSeq)
    assert(rows.last._4 === 1.0) // lowest threshold keeps everything
    // positives separate perfectly here: precision 1.0 until both
    // positives are in, then decays
    assert(rows.head._3 === 1.0)
    assert(rows.last._3 === 0.5)
  }

  test("oov rate: top-V vocab cut is deterministic, rate in exact ppm") {
    // corpus: "a"x4, "b"x3, "c"x2, "z"x1 -> with V=3 vocab={a,b,c}
    val docs = Seq(
      (1L, "srcA", "a a b c"),
      (2L, "srcA", "a b z"),
      (3L, "srcB", "a b c"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.oovRate(docs, v = 3)
      .select("source", "n_tokens", "n_oov", "oov_ppm")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("srcA") === ((7L, 1L, 142857L))) // 1e6 div 7
    assert(got("srcB") === ((3L, 0L, 0L)))
  }

  test("span merge: interval union recovers exactly the shared run") {
    // a 6-token run shared by docs 1 and 2 at DIFFERENT offsets: with
    // w=3 the duplicated windows sit at positions [p, p+6-3] and their
    // union must be [p, p+6) on each side — no chunk-boundary loss,
    // the stride-1 exactness claim. Doc 3 repeats a window only
    // WITHIN itself (not a dup — cross-doc definition); doc 4 is
    // untouched filler.
    val corpus = Seq(
      (1L, "p q r c1 c2 c3 c4 c5 c6 x y"),
      (2L, "c1 c2 c3 c4 c5 c6 t u v"),
      (3L, "m m m m m m"),
      (4L, "solo tokens only here")).toDF("doc_id", "text")
    val got = TextAnalysis.spanMerge(corpus, w = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 3L, 9L, 6L), (2L, 1L, 0L, 6L, 6L)))
  }

  test("span merge: disjoint runs stay separate; mass report adds up") {
    val corpus = Seq(
      (1L, "a1 a2 a3 z1 z2 z3 z4 b1 b2 b3"), // two shared runs
      (2L, "a1 a2 a3"),
      (3L, "b1 b2 b3")).toDF("doc_id", "text")
    val got = TextAnalysis.spanMerge(corpus, w = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0L, 3L, 3L), (1L, 2L, 7L, 10L, 3L),
      (2L, 1L, 0L, 3L, 3L), (3L, 1L, 0L, 3L, 3L)))
    val mass = TextAnalysis.spanMass(corpus, w = 3).collect().head
    assert(mass.getLong(0) === 3L) // n_docs_spanned
    assert(mass.getLong(1) === 4L) // n_spans
    assert(mass.getLong(2) === 12L) // dup_tokens
    assert(mass.getLong(3) === 16L) // total_tokens
    assert(mass.getLong(4) === 750000L) // 12e6 div 16
  }

  test("span incremental: batch vs corpus only — batch-internal dups " +
    "are the ordinary pass's job") {
    // doc 7 is corpus (7 % 10 < 8); docs 8 and 18 are batch. The
    // corpus-shared run on doc 8 must surface; the run docs 8 and 18
    // share ONLY with each other must NOT (the documented contract:
    // batch-internal duplication runs through spanMerge at batch
    // scale first) — while the full pass sees both.
    val corpus = Seq(
      (7L, "k1 k2 k3 k4 filler words here"),   // corpus
      (8L, "x k1 k2 k3 k4 y bb1 bb2 bb3"),     // batch: corpus run + batch-run
      (18L, "bb1 bb2 bb3 tail tokens pad"),    // batch: batch-run only
      (9L, "nothing shared in this one"))      // batch, clean
      .toDF("doc_id", "text")
    val inc = TextAnalysis.spanMergeIncremental(corpus, w = 3)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(inc === Set((8L, 1L, 5L))) // k1..k4 at positions [1, 5)
    val full = TextAnalysis.spanMerge(corpus, w = 3)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(full === Set((7L, 0L, 4L), (8L, 1L, 5L), (8L, 6L, 9L),
      (18L, 0L, 3L)))
  }

  test("span cut: removes exactly the merged spans, in order") {
    import org.apache.spark.sql.functions.{col, lit}
    val corpus = Seq(
      (1L, "p q r c1 c2 c3 c4 c5 c6 x y"), // run at [3, 9) cut
      (2L, "c1 c2 c3 c4 c5 c6"),           // entire doc cut → empty
      (3L, "too short"),                   // shorter than w: uncut
      (4L, "unique filler document here")).toDF("doc_id", "text")
    val got = TextAnalysis.spanCut(corpus, w = 3)
      .select("doc_id", "n_tokens", "cut_tokens", "kept_tokens", "kept_fp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def fp(s: String): Long = spark.range(1)
      .select(graft.functions.Functions.hex60(lit(s)).as("h"))
      .head().getLong(0)
    assert(got(1L) === ((11L, 6L, 5L, fp("p q r x y"))))
    assert(got(2L) === ((6L, 6L, 0L, fp(""))))
    assert(got(3L) === ((2L, 0L, 2L, fp("too short"))))
    assert(got(4L) === ((4L, 0L, 4L, fp("unique filler document here"))))
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    // sanity: the survivors re-join in original token order (fp of
    // the cut doc differs from any reordering)
    assert(got(1L)._4 !== fp("x y p q r"))
  }

  test("span cut incremental: cuts batch docs against the corpus index " +
    "only; corpus docs never emit, batch-internal runs pass through") {
    import org.apache.spark.sql.functions.lit
    // same split fixture as the incremental-merge test: doc 7 is
    // corpus (id % 10 < 8), docs 8/18/9 are batch. Doc 8 carries a
    // corpus-shared run (cut) AND a run shared only with batch-mate
    // 18 (NOT cut — batch-internal duplication is the ordinary
    // pass's job); 18 and 9 have nothing corpus-shared and pass
    // through whole.
    val corpus = Seq(
      (7L, "k1 k2 k3 k4 filler words here"),
      (8L, "x k1 k2 k3 k4 y bb1 bb2 bb3"),
      (18L, "bb1 bb2 bb3 tail tokens pad"),
      (9L, "nothing shared in this one")).toDF("doc_id", "text")
    val got = TextAnalysis.spanCutIncremental(corpus, w = 3)
      .select("doc_id", "n_tokens", "cut_tokens", "kept_tokens", "kept_fp")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def fp(s: String): Long = spark.range(1)
      .select(graft.functions.Functions.hex60(lit(s)).as("h"))
      .head().getLong(0)
    assert(got.keySet === Set(8L, 18L, 9L)) // batch docs only
    assert(got(8L) === ((9L, 4L, 5L, fp("x y bb1 bb2 bb3"))))
    assert(got(18L) === ((6L, 0L, 6L, fp("bb1 bb2 bb3 tail tokens pad"))))
    assert(got(9L) === ((5L, 0L, 5L, fp("nothing shared in this one"))))
    // the seam is the one shared tail: the incremental cut IS
    // spanCutWith over the incremental merge's spans
    val viaSeam = TextAnalysis.spanCutWith(
      corpus.filter(org.apache.spark.sql.functions.col("doc_id") % 10 >= 8),
      TextAnalysis.spanMergeIncremental(corpus, w = 3))
      .select("doc_id", "kept_fp").as[(Long, Long)].collect().toMap
    assert(viaSeam === got.map { case (k, v) => k -> v._4 })
  }

  test("span w-sweep: dup mass monotone nonincreasing in w; runs " +
    "shorter than the window vanish") {
    // a 4-token run shared by both docs: at w=3 its windows match
    // (4 dup tokens per doc), at w=5 no window fits inside it → 0
    val corpus = Seq(
      (1L, "c1 c2 c3 c4 x y z w q"),
      (2L, "c1 c2 c3 c4 t u v r s")).toDF("doc_id", "text")
    val got = TextAnalysis.spanWSweep(corpus, ws = Seq(3, 5))
      .select("w", "n_docs_spanned", "dup_tokens", "total_tokens",
        "dup_ppm")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(3L) === ((2L, 8L, 18L, 444444L))) // 8e6 div 18
    assert(got(5L) === ((0L, 0L, 18L, 0L)))
    assert(got.keySet === Set(3L, 5L))
  }

  test("span merge kernel is total on duplicate-start intervals: " +
    "same-start spans collapse to their max end deterministically") {
    // feed the KERNEL a raw interval relation with duplicate
    // (doc_id, s) rows — the precondition every production caller
    // satisfies by construction but the kernel no longer relies on
    // (round-13 ADVICE): [0,3) and [0,5) at the same start must act
    // as [0,5), making numbering independent of row order. [6,8)
    // merges nothing; [4,6) chains onto the max end.
    val sp = Seq((1L, 0L, 3L), (1L, 0L, 5L), (1L, 4L, 6L), (1L, 8L, 10L),
      (2L, 2L, 4L), (2L, 2L, 4L)) // exact duplicate row
      .toDF("doc_id", "s", "e")
    val got = TextAnalysis.mergeIntervals(sp)
      .select("doc_id", "span_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0L, 6L, 6L), (1L, 2L, 8L, 10L, 2L),
      (2L, 1L, 2L, 4L, 2L)))
  }
}
