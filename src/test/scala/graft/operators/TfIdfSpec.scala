package graft.operators

import graft.SparkSpec

class TfIdfSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  // "rare" appears in one doc, "common" in all three: with k=1 every
  // doc's top term must be its distinguishing word, never the stopword
  private lazy val corpus = Seq(
    (1L, "common rare common alpha"),
    (2L, "common beta beta"),
    (3L, "common gamma")).toDF("doc_id", "text")

  test("topTerms ranks distinguishing terms above ubiquitous ones") {
    val top1 = TfIdf.topTerms(corpus, "text", "doc_id", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 is a deliberate THREE-way tie at 2.0 (common 2*4/4, rare
    // 1*4/2, alpha 1*4/2) -> term-ascending tie-break picks "alpha"
    top1(1L) shouldBe "alpha"
    top1(2L) shouldBe "beta" // tf=2, df=1 -> 2*4/2=4.0
    top1(3L) shouldBe "gamma" // 1*4/2=2.0 beats common's 1.0
  }

  test("scores follow tf * (N+1)/(df+1) exactly") {
    val rows = TfIdf.topTerms(corpus, "text", "doc_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    rows((1L, "rare")) shouldBe ((1L, 1L, 1.0 * 4 / 2))
    rows((1L, "common")) shouldBe ((2L, 3L, 2.0 * 4 / 4))
    rows((2L, "beta")) shouldBe ((2L, 1L, 2.0 * 4 / 2))
    // k larger than a doc's vocabulary returns the whole vocabulary
    rows.keys.count(_._1 == 3L) shouldBe 2
  }

  test("top-k plans as a rank-limited window, corpus size broadcasts") {
    val plan = TfIdf.topTerms(corpus, "text", "doc_id", 3)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
    plan should include("BroadcastNestedLoopJoin")
  }

  test("oovRates counts tokens outside the deterministic top-V cut") {
    // corpus term counts: common=4, beta=2, alpha/gamma/rare=1 ->
    // vocab of size 2 = {common, beta}
    val out = TfIdf.oovRates(corpus, "text", "doc_id", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out(1L) shouldBe ((4L, 2L)) // rare, alpha OOV; 2x common in vocab
    out(2L) shouldBe ((3L, 0L)) // common + 2x beta all in vocab
    out(3L) shouldBe ((2L, 1L)) // gamma OOV
  }

  test("oovRates top-V plans as TakeOrderedAndProject, vocab broadcasts") {
    val plan = TfIdf.oovRates(corpus, "text", "doc_id", 10)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    plan should include("BroadcastHashJoin")
  }

  test("lmScore: common-vocabulary docs outrank rare-vocabulary docs, exactly") {
    import spark.implicits._
    // corpus counts: x=3, y=1 -> doc1 = log10(3); doc2 = log10(3)/2
    val docs = Seq((1L, "x x"), (2L, "x y"), (3L, "")).toDF("doc_id", "text")
    val out = TfIdf.lmScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out(1L)._1 shouldBe 2L
    out(1L)._2 shouldBe math.log10(3.0) +- 1e-12
    out(2L)._2 shouldBe (math.log10(3.0) / 2) +- 1e-12
    out.contains(3L) shouldBe false // no tokens, no row
    out(1L)._2 should be > out(2L)._2 // fluency ordering
  }

  test("lmScore joins the count table rather than windowing the hot term") {
    // the ubiquitous-token analysis from the scaladoc: no Window node
    // may appear — scoring must be join + aggregate
    val docs = Seq((1L, "x x")).toDF("doc_id", "text")
    val plan = TfIdf.lmScore(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    plan should not include "Window"
  }

  test("heavyHitters keeps exactly the terms at or over the share threshold") {
    import spark.implicits._
    // src A: 10 tokens — "hot" x3 (3000bp), "warm" x2 (2000bp), 5 singles
    val d = Seq(
      ("A", "hot hot hot warm warm a b c d e"),
      ("B", "u v")).toDF("source", "text")
    val out = TfIdf.heavyHitters(d, "text", "source", minShareBp = 2000L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    out.keySet shouldBe Set("A" -> "hot", "A" -> "warm", "B" -> "u", "B" -> "v")
    out("A" -> "hot") shouldBe ((3L, 10L, 3000L))
    out("A" -> "warm") shouldBe ((2L, 10L, 2000L)) // boundary is inclusive
    out("B" -> "u")._3 shouldBe 5000L
  }

  test("vocabDrift ranks terms by absolute share shift, absent terms at zero") {
    import spark.implicits._
    // a: x x y (x share 2/3, y 1/3); b: x z z z (x 1/4, z 3/4)
    // deltas: z +0.75, x -5/12, y -1/3
    val a = Seq((1L, "x x y")).toDF("id", "text")
    val b = Seq((2L, "x z z z")).toDF("id", "text")
    val out = TfIdf.vocabDrift(a, b, "text", k = 3).collect()
    out.map(_.getString(0)).toSeq shouldBe Seq("z", "x", "y")
    val z = out.head
    z.getDouble(1) shouldBe 0.0
    z.getDouble(2) shouldBe 0.75 +- 1e-12
    z.getDouble(3) shouldBe 0.75 +- 1e-12
    out(2).getDouble(2) shouldBe 0.0 // y vanished from b
  }

  test("lmScore2 matches hand-computed smoothed bigram probabilities") {
    // corpus bigrams: (a,b)x3, (b,a)x1; c1: a->3, b->1; V=3.
    // doc1 "a b a b": mean log10 of [4/6, 2/4, 4/6]; doc2 "a b": log10(4/6);
    // doc3 "c": no bigrams -> absent
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val out = TfIdf.lmScore2(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    out.keySet shouldBe Set(1L, 2L)
    out(1L)._1 shouldBe 3L
    out(1L)._2 shouldBe ((2 * math.log10(4.0 / 6) + math.log10(2.0 / 4)) / 3 +- 1e-12)
    out(2L)._2 shouldBe (math.log10(4.0 / 6) +- 1e-12)
  }

  test("distinctNgramRatios: distinct n-grams per group and n, in basis points") {
    val docs = Seq((1L, "alpha beta gamma delta", "s"),
      (2L, "alpha beta gamma other", "s")).toDF("doc_id", "text", "source")
    // one row per (group, n in 1..maxN)
    TfIdf.distinctNgramRatios(docs, "text", "doc_id", 3).count() shouldBe 6L
    val rows = TfIdf.distinctNgramRatios(docs, "text", "source", 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // n=1: 8 positions, {alpha beta gamma delta other}; n=2: 6 positions,
    // 4 distinct bigrams; n=3: 4 positions, 3 distinct trigrams
    rows shouldBe Map(1L -> ((8L, 5L, 6250L)), 2L -> ((6L, 4L, 6666L)),
      3L -> ((4L, 3L, 7500L)))
  }

  test("pmiPairs ranks the always-together pair above independent pairs") {
    // "salt" and "pepper" co-occur in ALL their docs (df 2, both 2):
    // ratio = 4*2/(2*2) = 2. "bread" (df 2) meets "salt" once:
    // ratio = 4*1/(2*2) = 1 -> PMI 0. minDf=2 drops singletons.
    val d = Seq(
      (1L, "salt pepper bread"),
      (2L, "salt pepper"),
      (3L, "bread water"),
      (4L, "water stone")).toDF("doc_id", "text")
    val out = TfIdf.pmiPairs(d, "text", "doc_id", minDf = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val keys = out.keys.toSet
    keys should contain(("pepper", "salt"))
    out(("pepper", "salt"))._1 shouldBe 2L
    out(("pepper", "salt"))._2 shouldBe math.log10(2.0) +- 1e-12
    out(("bread", "salt"))._2 shouldBe 0.0 +- 1e-12
    // top row by ratio must be the perfectly-correlated pair
    val top = TfIdf.pmiPairs(d, "text", "doc_id", minDf = 2, k = 1)
      .collect().head
    (top.getString(0), top.getString(1)) shouldBe (("pepper", "salt"))
  }

  test("freqSpectrum bins types by floor(log2 count) with exact masses") {
    // counts: a=4 (class 2), b=3, c=3 (class 1), d=1 (class 0)
    val d = Seq((1L, "a a a a b b c", "s"), (2L, "c c b d", "s"))
      .toDF("doc_id", "text", "source")
    val out = TfIdf.freqSpectrum(d, "text", "source")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    out(0L) shouldBe ((1L, 1L))   // d
    out(1L) shouldBe ((2L, 6L))   // b=3, c=3
    out(2L) shouldBe ((1L, 4L))   // a
    out.keySet shouldBe Set(0L, 1L, 2L)
  }

  test("zipfFit recovers the exponent of an exact power law") {
    // counts 12/rank: a=12 b=6 c=4 d=3 -> ln(cnt) = ln 12 - ln(rank),
    // slope -1 and r2 ~ 1 up to the 6-place contribution rounding
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val r = TfIdf.zipfFit(d, "text", topK = 4).collect().head
    r.getLong(0) shouldBe 4L
    r.getDouble(1) shouldBe -1.0 +- 1e-4
    r.getDouble(3) should be > 0.99999
  }

  test("zipfFit matches the hand-computed 3-term OLS and breaks count ties by term") {
    // counts: a=4, b=2, c=1 -> ranks 1,2,3
    val d = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val r = TfIdf.zipfFit(d, "text", topK = 3).collect().head
    r.getDouble(1) shouldBe -1.233662 +- 2e-6
    r.getDouble(2) shouldBe 1.429955 +- 2e-6
    r.getDouble(3) shouldBe 0.977653 +- 2e-6
    // tie: b and a both x2 -> rank by term asc; identical count vector
    // so the fit is the same whichever labels the ties carry
    val tied = Seq((1L, "b b a a c")).toDF("doc_id", "text")
    val rt = TfIdf.zipfFit(tied, "text", topK = 3).collect().head
    rt.getLong(0) shouldBe 3L
    an[IllegalArgumentException] should be thrownBy TfIdf.zipfFit(d, "text", 2)
  }

  test("zipfFit reports NULL, not NaN, on a zero-variance fit") {
    // all counts equal -> y-variance 0 -> r2 undefined; slope/intercept
    // still well-defined (x varies)
    val flat = Seq((1L, "a b c")).toDF("doc_id", "text")
    val r = TfIdf.zipfFit(flat, "text", topK = 3).collect().head
    r.getDouble(1) shouldBe 0.0 // slope of a flat log-log line
    assert(r.isNullAt(3), "r2 must be NULL when y-variance is zero")
  }

  test("vocabRichness matches the hand-computed spectrum card") {
    import graft.functions.Rounding.p6d
    // s1: counts a:2 b:2 c:1 -> N=5 V=3 f1=1 f2=2 m2=4
    val docs = Seq((1L, "a a b", "s1"), (2L, "b c", "s1"),
      (3L, "x y z", "s2"), (4L, "w", "s3"))
      .toDF("doc_id", "text", "source")
    val out = TfIdf.vocabRichness(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    (s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4)) shouldBe
      ((5L, 3L, 1L, 2L))
    s1.getDouble(5) shouldBe 3.0 // chao1: f1(f1-1) = 0
    s1.getDouble(6) shouldBe 0.8 // coverage: 1 - 1/5
    s1.getDouble(7) shouldBe 0.2 // simpson: 4/(5*4)
    // the engine sums terms as DECIMAL(18,6) — mirror that exactness
    s1.getDouble(8) shouldBe
      (BigDecimal(p6d(0.4 * math.log10(2.5))) * 2 +
        BigDecimal(p6d(0.2 * math.log10(5.0)))).toDouble
    // s2: all singletons -> chao1 = V + f1(f1-1)/2 = 3 + 3 = 6,
    // coverage 0, simpson 0 (no repeats)
    val s2 = out("s2")
    s2.getDouble(5) shouldBe 6.0
    s2.getDouble(6) shouldBe 0.0
    s2.getDouble(7) shouldBe 0.0
    // s3: one token -> simpson undefined (NULL), shannon 0
    val s3 = out("s3")
    assert(s3.isNullAt(7))
    s3.getDouble(5) shouldBe 1.0
    s3.getDouble(8) shouldBe 0.0
  }

  test("burrowsDelta: 0 for identical profiles, orders style distance") {
    val docs = Seq(
      (1L, "a a b c", "s1"), (2L, "a a b c", "s2"), // identical voices
      (3L, "c c c b", "s3")).toDF("doc_id", "text", "source")
    val out = TfIdf.burrowsDelta(docs, "text", "source", topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    out.keySet shouldBe Set(("s1", "s2"), ("s1", "s3"), ("s2", "s3"))
    out(("s1", "s2"))._2 shouldBe 0.0
    out(("s1", "s2"))._1 shouldBe 3L
    out(("s1", "s3"))._2 should be > 0.0
    out(("s1", "s3"))._2 shouldBe out(("s2", "s3"))._2 // same profile
    // too many groups refuses before the pair table builds
    an[IllegalStateException] should be thrownBy
      TfIdf.burrowsDelta(docs, "text", "source", topK = 3,
        maxGroups = 2)
  }

  test("lexicalDispersion: 1 for evenly spread words, 0 for one-group words") {
    val docs = Seq((1L, "a a b b", "s1"), (2L, "a a c c", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TfIdf.lexicalDispersion(docs, "text", "source", topK = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    out.keySet shouldBe Set("a", "b", "c")
    out("a") shouldBe ((2L, 4L, 1.0)) // f = 0.5 in both: cv = 0
    out("b") shouldBe ((2L, 2L, 0.0)) // one group: cv = 1 = sqrt(G-1)
    out("c") shouldBe ((2L, 2L, 0.0))
    // regression (round-11 review): f6 = 0.007 in both groups makes
    // the unclamped variance radicand one ulp NEGATIVE — sqrt must
    // see the clamped 0, not NaN, and D must be exactly 1
    val text7 = (Seq.fill(7)("aa") ++ Seq.fill(993)("x")).mkString(" ")
    val ulp = Seq((1L, text7, "s1"), (2L, text7, "s2"))
      .toDF("doc_id", "text", "source")
    val ru = TfIdf.lexicalDispersion(ulp, "text", "source", topK = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    ru("aa") shouldBe 1.0
    ru("x") shouldBe 1.0
  }

  test("keyness surfaces over-represented words with the hand G2") {
    import graft.functions.Rounding.p6d
    val docs = Seq(
      (1L, "x x x common common", "s1"),
      (2L, "common common common y", "s2"))
      .toDF("doc_id", "text", "source")
    val out = TfIdf.keyness(docs, "text", "source", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    // 'common' is UNDER-represented in s1 (2*9 < 5*5) and filtered
    out.keySet shouldBe Set(("s1", "x"), ("s2", "y"), ("s2", "common"))
    val g2x = 2.0 * (3.0 * math.log(3.0 / (3.0 * 5.0 / 9.0)) +
      2.0 * math.log(2.0 / (6.0 * 5.0 / 9.0)) +
      4.0 * math.log(4.0 / (6.0 * 4.0 / 9.0)))
    out(("s1", "x")) shouldBe ((3L, p6d(g2x), 1L))
    // y's exclusivity beats common's extra mass: y ranks first in s2
    out(("s2", "y"))._3 shouldBe 1L
    out(("s2", "common"))._3 shouldBe 2L
    an[IllegalArgumentException] should be thrownBy
      TfIdf.keyness(docs, "text", "source", k = 0)
  }

  test("readability pools exact counts and scores the pooled ratios") {
    import graft.functions.Rounding.p6d
    val docs = Seq(
      (1L, "One two three. Four five!", "s1"),
      (2L, "no punctuation here", "s2")).toDF("doc_id", "text", "source")
    val out = TfIdf.readability(docs, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    // words 5; sentence runs "." and "!"; vowel runs: o-e,o,ee,ou,i-e = 7
    (s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4)) shouldBe
      ((1L, 5L, 2L, 7L))
    s1.getDouble(5) shouldBe
      p6d(206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (7.0 / 5.0))
    s1.getDouble(6) shouldBe
      p6d(0.39 * (5.0 / 2.0) + 11.8 * (7.0 / 5.0) - 15.59)
    // zero sentences: counts intact, scores NULL
    val s2 = out("s2")
    (s2.getLong(2), s2.getLong(3)) shouldBe ((3L, 0L))
    assert(s2.isNullAt(5) && s2.isNullAt(6))
  }

  test("bm25 scores by the Okapi formula and ranks the heavier match first") {
    import graft.functions.Rounding.p6d
    val sp = spark; import sp.implicits._
    // 3 docs; query {cat}: df(cat)=2, N=3, T=9
    // d1: "cat cat dog" tf=2 dl=3 ; d2: "cat mouse" tf=1 dl=2 ; d3: 4 toks
    val docs = Seq((1L, "cat cat dog"), (2L, "cat mouse"),
      (3L, "a b c d")).toDF("id", "text")
    val out = TfIdf.bm25(docs, "text", "id", Seq("cat"), k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    out.keySet shouldBe Set(1L, 2L)
    val idf = math.log((3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    def w(tf: Double, dl: Double) =
      p6d(idf * (tf * 2.2) / (tf + 0.3 + 0.9 * (dl * 3.0 / 9.0)))
    out(1L) shouldBe ((1L, w(2, 3)))
    out(2L) shouldBe ((1L, w(1, 2)))
    // tf=2 at equal-ish length outranks tf=1 (idf < 0 here is fine:
    // both scores share the sign, the RATIO ranks)
    val ranked = TfIdf.bm25(docs, "text", "id", Seq("cat"), k = 1)
      .collect().head.getLong(0)
    ranked shouldBe (if (w(2, 3) >= w(1, 2)) 1L else 2L)
  }

  test("bm25 sums per-term contributions and keeps only matching docs") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "q q")).toDF("id", "text")
    val out = TfIdf.bm25(docs, "text", "id", Seq("x", "z"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(1L -> 1L, 2L -> 2L) // doc 3 matches nothing
  }

  test("simpsonDiversity computes exact pair probabilities and dominance") {
    import graft.functions.Rounding.p6d
    val sp = spark; import sp.implicits._
    // tokens: a a a b -> N=4, lambda = (3*2 + 0)/(4*3) = 0.5
    val docs = Seq(("s1", "a a a b"), ("s2", "x")).toDF("src", "text")
    val out = TfIdf.simpsonDiversity(docs, "text", "src")
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    s1.getAs[Long]("n_tokens") shouldBe 4L
    s1.getAs[Long]("n_distinct") shouldBe 2L
    s1.getAs[Double]("simpson") shouldBe p6d(6.0 / 12.0)
    s1.getAs[Double]("inv_simpson") shouldBe 2.0
    s1.getAs[Long]("top_share_bp") shouldBe 7500L
    // single token: N = 1 -> NULL lambda, dominance 100%
    val s2 = out("s2")
    assert(s2.isNullAt(3) && s2.isNullAt(4))
    s2.getAs[Long]("top_share_bp") shouldBe 10000L
  }

  test("rakeKeywords scores phrases by member degree/frequency") {
    import graft.functions.Rounding.p6d
    val sp = spark; import sp.implicits._
    // phrases after stopword split: "red panda", "red panda", "red fox"
    val docs = Seq((1L, "red panda in the red panda"),
      (2L, "red fox")).toDF("id", "text")
    val out = TfIdf.rakeKeywords(docs, "text", "id", k = 10, minWords = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // freq(red)=3 deg(red)=6 -> 2 ; panda: 2/4 -> 2 ; fox: 1/2 -> 2
    val wRed = p6d(6.0 / 3); val wPanda = p6d(4.0 / 2); val wFox = p6d(2.0 / 1)
    out("red panda") shouldBe ((2L, 2L, wRed + wPanda))
    out("red fox") shouldBe ((2L, 1L, wRed + wFox))
    // minWords gate: a 1-word phrase never surfaces
    out.keySet.exists(_ == "red") shouldBe false
  }

  test("heapsLaw recovers a saturating vs linear vocabulary") {
    val sp = spark; import sp.implicits._
    // linear growth: every doc brings 5 brand-new tokens -> beta ~ 1
    val lin = (1 to 64).map(i =>
      ("lin", i.toLong, (1 to 5).map(j => s"w${i}_$j").mkString(" ")))
    // saturating: docs cycle over a fixed 10-token vocabulary
    val sat = (1 to 64).map(i =>
      ("sat", i.toLong, (1 to 5).map(j => s"v${(i + j) % 10}").mkString(" ")))
    val out = TfIdf.heapsLaw((lin ++ sat).toDF("src", "id", "text"),
      "text", "id", "src")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    out("lin") shouldBe 1.0 +- 0.05
    out("sat") should be < 0.3
  }

  test("collocations computes the t-score and Dice on exact counts") {
    import graft.functions.Rounding.p6d
    val sp = spark; import sp.implicits._
    // "a b" x5 adjacency; "b a" only x4 (below minCount)
    val docs = Seq(Tuple1("a b a b a b a b a b")).toDF("text")
    val out = TfIdf.collocations(docs, "text", k = 10, minCount = 5)
      .collect()
    out.length shouldBe 1
    val r = out.head
    r.getString(0) shouldBe "a b"
    (r.getLong(1), r.getLong(2), r.getLong(3)) shouldBe ((5L, 5L, 5L))
    r.getDouble(4) shouldBe p6d((5.0 - 25.0 / 10.0) / math.sqrt(5.0))
    r.getDouble(5) shouldBe 1.0 // 2*5/(5+5)
  }

  test("logOddsDirichlet marks the exclusive word and shrinks by the prior") {
    import graft.functions.Rounding.p6d
    val sp = spark; import sp.implicits._
    val docs = Seq(("A", "apple apple apple apple x x"), ("B", "x x x x"))
      .toDF("src", "text")
    val out = TfIdf.logOddsDirichlet(docs, "text", "src", k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // mirror: yw(apple)=4, n=10, aw=200; na(A)=6, nb=4
    val aw = 500.0 * (4.0 / 10.0)
    val da = math.log((4.0 + aw) / (6.0 + 500.0 - 4.0 - aw))
    val db = math.log((0.0 + aw) / (4.0 + 500.0 - 0.0 - aw))
    val z = p6d((da - db) / math.sqrt(1.0 / (4.0 + aw) + 1.0 / (0.0 + aw)))
    out(("A", "apple")).getAs[Double]("z_logodds") shouldBe z
    z should be > 0.0
    // only OBSERVED (source, word) cells score — B never says "apple"
    out.keySet should not contain (("B", "apple"))
    // the shared word leans toward B (A's exclusive word dilutes it)
    out(("B", "x")).getAs[Double]("z_logodds") should be >
      out(("A", "x")).getAs[Double]("z_logodds")
  }

  test("entropyRate separates a deterministic chain from a branching one") {
    val sp = spark; import sp.implicits._
    // det: every word fully determines the next -> rate 0, ppl 1
    val det = Seq(("d", "a b c a b c a b c")).toDF("src", "text")
    // branchy: "a" is followed by 4 different words uniformly
    val br = Seq(("b", "a p a q a r a s")).toDF("src", "text")
    val out = TfIdf.entropyRate(det.union(br), "text", "src")
      .collect().map(r => r.getString(0) -> r).toMap
    out("d").getAs[Double]("entropy_rate") shouldBe 0.0 +- 1e-5
    out("d").getAs[Double]("perplexity") shouldBe 1.0 +- 1e-4
    // bigrams: a->{p,q,r,s} (4 ways) and {p,q,r}->a (deterministic):
    // rate = (4/7)·ln4 + (3/7)·0 = 0.792168, ppl = e^rate ≈ 2.21
    out("b").getAs[Double]("entropy_rate") shouldBe 0.792168 +- 1e-5
    out("b").getAs[Double]("perplexity") shouldBe 2.208243 +- 1e-4
  }
}
