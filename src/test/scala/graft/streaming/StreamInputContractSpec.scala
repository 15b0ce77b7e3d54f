package graft.streaming

import graft.{Schemas, SparkSpec}
import java.nio.file.Files

/** Input contracts the streaming entry points enforce up front instead
  * of silently producing a wrong or empty answer.
  */
class StreamInputContractSpec extends SparkSpec {

  private lazy val implicits = spark.implicits
  import implicits._

  private val good = "the stream of data is clean and ready for the training corpus today"
  private val goodB = "a different document about the engine and its many moving parts in code"

  test("curation fails a batch that carries a null id instead of keeping it first") {
    val state = Files.createTempDirectory("cur_null").toString + "/state"
    val batch = Seq((Option(1L), good), (Option.empty[Long], goodB))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      StreamingCuration.acceptBatch(batch, "text", "doc_id", state).collect()
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null doc_id")) shouldBe true
    // the same batch with ids present is accepted whole
    StreamingCuration.acceptBatch(batch.na.fill(2L, Seq("doc_id")), "text",
      "doc_id", state).count() shouldBe 2L
  }

  test("a raw-layer stream under a missing parent fails at start") {
    val missing = Files.createTempDirectory("raw_gone").toString + "/no_such_root/day/*.json"
    val e = intercept[IllegalArgumentException] {
      SnapshotStream.readJsonLayer(spark, missing, Schemas.envelope(Schemas.rawStream))
    }
    e.getMessage should include("no_such_root")
  }

  test("a raw-layer micro-batch stats its files on the driver, with no listing job") {
    val dir = Files.createTempDirectory("raw_40").toString
    val ckpt = Files.createTempDirectory("raw_40_ck").toString
    (1 to 40).foreach { i =>
      Files.writeString(java.nio.file.Paths.get(dir, f"shard$i%02d.json"),
        s"""{"day_date_id": "20260111", "time_of_day_id": "1700", "data": [{"id": "$i"}]}""")
    }
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(js.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    @volatile var rows = 0L
    try {
      val raw = SnapshotStream.readJsonLayer(spark, dir, Schemas.envelope(Schemas.rawStream))
      SnapshotStream.runOnce(raw.writeStream.foreachBatch(
        (b: org.apache.spark.sql.DataFrame, _: Long) => rows += b.count()), ckpt)
      // a marker job: once the listener has seen it, it has seen every
      // job posted before it
      sc.setJobDescription("listing-check-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains("listing-check-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    rows shouldBe 40L
    jobs.contains("listing-check-marker") shouldBe true
    jobs.toArray.map(_.toString).filter(_.startsWith("Listing leaf files")) shouldBe empty
  }

  test("a raw-layer glob with no files yet is legal and streams zero rows") {
    val dir = Files.createTempDirectory("raw_empty").toString
    val ckpt = Files.createTempDirectory("raw_empty_ck").toString
    val raw = SnapshotStream.readJsonLayer(spark, s"$dir/*.json",
      Schemas.envelope(Schemas.rawStream))
    @volatile var rows = 0L
    SnapshotStream.runOnce(raw.writeStream.foreachBatch(
      (b: org.apache.spark.sql.DataFrame, _: Long) => rows += b.count()), ckpt)
    rows shouldBe 0L
  }
}
