package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class DecontaminationSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("overlap counts distinct shared n-grams per corpus doc; clean docs absent") {
    val corpus = docs(
      1L -> "the quick brown fox jumps high", // shares "the quick brown", "quick brown fox"
      2L -> "a totally unrelated sentence here",
      3L -> "quick brown fox quick brown fox") // repeated gram counts ONCE (distinct)
    val eval = docs(10L -> "the quick brown fox")
    val out = Decontamination.overlap(corpus, eval, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares {"the quick brown", "quick brown fox"}; doc 3's only
    // gram in the eval set is "quick brown fox", despite appearing twice
    out shouldBe Map(1L -> 2L, 3L -> 1L)
  }

  test("decontaminate drops docs at or above minShared and keeps the rest intact") {
    val corpus = docs(
      1L -> "the quick brown fox jumps high",
      2L -> "a totally unrelated sentence here")
    val eval = docs(10L -> "the quick brown fox")
    val kept = Decontamination.decontaminate(corpus, eval, "text",
      n = 3, minShared = 1)
    kept.select("doc_id").as[Long].collect() shouldBe Array(2L)
    // a stricter threshold spares the partial overlap
    val kept3 = Decontamination.decontaminate(corpus, eval, "text",
      n = 3, minShared = 3)
    kept3.select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("evalContamination reports leak counts and rate per eval example") {
    val corpus = docs(
      1L -> "the quick brown fox jumps high",
      2L -> "a totally unrelated sentence here")
    val eval = docs(
      10L -> "the quick brown fox",  // grams: 2, both in corpus doc 1
      11L -> "nothing matches this eval text at all",
      12L -> "too few")              // < 3 tokens: no grams, no row
    val out = Decontamination.evalContamination(corpus, eval, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    out(10L) shouldBe ((2L, 2L, 1.0))
    out(11L)._2 shouldBe 0L
    out(11L)._3 shouldBe 0.0
    out.contains(12L) shouldBe false
  }

  test("evalContamination counts a corpus gram once however often it repeats") {
    val corpus = docs(
      1L -> "the quick brown fox", 2L -> "the quick brown fox",
      3L -> "the quick brown fox again and again")
    val eval = docs(10L -> "the quick brown fox jumps")
    val out = Decontamination.evalContamination(corpus, eval, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // eval has 3 grams; "the quick brown"+"quick brown fox" leak (from
    // any number of corpus copies), "brown fox jumps" does not
    out(10L) shouldBe ((3L, 2L))
  }

  test("maxEvalGrams guard rejects an oversized eval set with an actionable message") {
    val corpus = docs(1L -> "the quick brown fox jumps high")
    val eval = docs(
      10L -> "one two three four five",
      11L -> "six seven eight nine ten")
    val e = intercept[IllegalArgumentException] {
      Decontamination.overlap(corpus, eval, "text", "doc_id", n = 3,
        maxEvalGrams = 2)
    }
    e.getMessage should include("maxEvalGrams")
  }
}
