package graft.streaming

import graft.SparkSpec
import graft.operators.CurationPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.file.Files

class StreamingCurationSpec extends SparkSpec {

  // passes the default gates: >=5 tokens, low punctuation, en markers,
  // ~25% stopword ratio
  private val good = "the stream of data is clean and ready for the training corpus today"
  private val goodB = "a different document about the engine and its many moving parts in code"
  private val junk = "!!! ??? ,,, ### $$$ %%%"
  private val german = "der hund und die katze sind nicht in dem haus heute"

  test("acceptBatch applies gates, exact dedup, and near dedup across batches") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur").toString + "/state"

    val b1 = Seq(Doc(1, good), Doc(2, junk), Doc(3, german),
      Doc(4, good), Doc(5, good + " extra"), Doc(6, goodB)).toDF()
    val a1 = StreamingCuration.acceptBatch(b1, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 2 fails quality, 3 fails language, 4 exact-dups 1, 5 near-dups 1
    a1 shouldBe Array(1L, 6L)

    val b2 = Seq(Doc(7, good), Doc(8, goodB + " more"), Doc(9,
      "an entirely new and different story with the usual amount of words in it")).toDF()
    val a2 = StreamingCuration.acceptBatch(b2, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // 7 exact-dups accepted doc 1; 8 near-dups accepted doc 6
    a2 shouldBe Array(9L)
  }

  test("exact stage is case-insensitive, matching the batch pipeline") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur5").toString + "/state"
    // case-insensitively-equal docs with < 3 tokens have NO MinHash
    // band keys (3-token shingles) to rescue them — only the
    // md5(lower()) exact stage can catch the pair, so it must hash
    // lowered text like the batch pipeline, intra-batch AND in the
    // persisted state table. Gates relaxed so 2-token docs get through.
    val cfg = CurationPipeline.Config(minTokens = 1, minQuality = 0.0)
    val b1 = Seq(Doc(1, "the dog"), Doc(2, "The Dog")).toDF()
    val a1 = StreamingCuration.acceptBatch(b1, "text", "doc_id", state, cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    a1 shouldBe Array(1L)
    // cross-batch: a recased copy of an already-accepted doc must hit
    // the state table, not re-enter
    val b2 = Seq(Doc(3, "THE DOG")).toDF()
    val a2 = StreamingCuration.acceptBatch(b2, "text", "doc_id", state, cfg)
      .select("doc_id").collect().map(_.getLong(0))
    a2 shouldBe empty
    // and the batch pipeline agrees on the union
    val all = Seq(Doc(1, "the dog"), Doc(2, "The Dog"), Doc(3, "THE DOG")).toDF()
    val res = CurationPipeline.run(all, "text", "doc_id", cfg, withAudit = false)
    val batch = res.kept.select("doc_id").collect().map(_.getLong(0)).sorted
    res.unpersist()
    batch shouldBe Array(1L)
  }

  test("streaming and batch curation agree on a one-shot corpus") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur2").toString + "/state"
    val docs = Seq(Doc(1, good), Doc(2, junk), Doc(3, german),
      Doc(4, good), Doc(5, good + " extra"), Doc(6, goodB)).toDF()
    val streamed = StreamingCuration.acceptBatch(docs, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val res = CurationPipeline.run(docs, "text", "doc_id", withAudit = false)
    val batch = res.kept.select("doc_id").collect().map(_.getLong(0)).sorted
    res.unpersist()
    streamed shouldBe batch
  }

  test("streaming and batch curation agree on the real documents table") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val state = Files.createTempDirectory("cur4").toString + "/state"
    val streamed = StreamingCuration.acceptBatch(docs, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val res = CurationPipeline.run(docs, "text", "doc_id", withAudit = false)
    val batch = res.kept.select("doc_id").collect().map(_.getLong(0)).sorted
    res.unpersist()
    streamed shouldBe batch
  }

  test("registered eval grams decontaminate across a batch boundary") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur6").toString + "/state"
    // the planted benchmark phrase shares a 3-shingle with any doc
    // that quotes it; the eval doc itself never enters the corpus
    val benchmark = "the secret benchmark answer is forty two exactly as the evaluation expects"
    StreamingCuration.registerEvalSet(
      Seq(Doc(100, benchmark)).toDF(), "text", state, n = 3)

    // batch 1: a clean doc and a doc quoting the benchmark
    val b1 = Seq(Doc(1, good),
      Doc(2, "students memorized the secret benchmark answer for the big test today")).toDF()
    val a1 = StreamingCuration.acceptBatch(b1, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    a1 shouldBe Array(1L)

    // batch 2: the leak crosses the batch boundary — a different doc
    // quoting a different span of the same eval text is still dropped,
    // proving the gram table persisted rather than living in batch 1
    val b2 = Seq(Doc(3, goodB),
      Doc(4, "reviewers noted it was exactly as the evaluation expects in every case")).toDF()
    val a2 = StreamingCuration.acceptBatch(b2, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    a2 shouldBe Array(3L)
  }

  test("eval-gram state is collected once, not per batch (fingerprint cache)") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur9").toString + "/state"
    StreamingCuration.registerEvalSet(
      Seq(Doc(100, "the secret benchmark answer is forty two exactly")).toDF(),
      "text", state, n = 3)
    val before = StreamingCuration.gramStateReads.get()
    StreamingCuration.acceptBatch(Seq(Doc(1, good)).toDF(), "text", "doc_id", state)
      .select("doc_id").collect()
    StreamingCuration.acceptBatch(Seq(Doc(2, goodB)).toDF(), "text", "doc_id", state)
      .select("doc_id").collect()
    // steady state: ONE collect serves every subsequent batch
    StreamingCuration.gramStateReads.get() - before shouldBe 1
    // replacing the eval set moves the swap fingerprint -> exactly one
    // re-collect, and the NEW grams take effect (not the cached ones)
    StreamingCuration.registerEvalSet(
      Seq(Doc(101, "a completely different evaluation suite phrase bank")).toDF(),
      "text", state, n = 3)
    val mid = StreamingCuration.gramStateReads.get()
    val a = StreamingCuration.acceptBatch(
      Seq(Doc(3, "writers used a completely different evaluation suite for their work")).toDF(),
      "text", "doc_id", state).select("doc_id").collect()
    a shouldBe empty // contaminated vs the REPLACED eval set
    StreamingCuration.gramStateReads.get() - mid shouldBe 1
  }

  test("decontamination stage is inert until an eval set is registered") {
    import spark.implicits._
    val state = Files.createTempDirectory("cur7").toString + "/state"
    val b = Seq(Doc(1, good)).toDF()
    StreamingCuration.acceptBatch(b, "text", "doc_id", state)
      .select("doc_id").collect().map(_.getLong(0)) shouldBe Array(1L)
  }

  test("registerEvalSet enforces the broadcast guard with a named knob") {
    import spark.implicits._
    val ex = the[IllegalArgumentException] thrownBy
      StreamingCuration.registerEvalSet(
        Seq(Doc(1, (1 to 50).map(i => s"w$i").mkString(" "))).toDF(),
        "text", Files.createTempDirectory("cur8").toString + "/state",
        n = 3, maxEvalGrams = 10)
    ex.getMessage should include("maxEvalGrams=10")
  }

  test("curationSink filters a stream; state survives across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val state = Files.createTempDirectory("cur3").toString + "/state"
    val ckpt = Files.createTempDirectory("ck").toString
    @volatile var accepted = Vector.empty[Long]

    val in = MemoryStream[Doc]
    val w = MergeableState.sink(in.toDF())(
        StreamingCuration.screenBatch(_, "text", "doc_id", state))(
      b => accepted = accepted ++ b.select("doc_id").collect().map(_.getLong(0)))
    val q = w.option("checkpointLocation", ckpt).start()
    in.addData(Doc(10, good), Doc(11, junk))
    q.processAllAvailable()
    in.addData(Doc(12, good), Doc(13, good + " tail"), Doc(14, goodB))
    q.processAllAvailable()
    q.stop()
    // 11 junk; 12 exact-dups 10 cross-batch; 13 near-dups 10 cross-batch
    accepted.sorted shouldBe Vector(10L, 14L)
  }
}
