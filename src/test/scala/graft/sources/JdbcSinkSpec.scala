package graft.sources

import graft.SparkSpec

/** S9 (JDBC serving sink) against an embedded Derby database — the same
  * jar set Spark ships for its Hive metastore, so no extra dependency.
  * Mirrors the reference DB load (src/other/insert_data_to_db.py):
  * table-name routing from the curated file key (lines 46-49), append
  * load (63-74), and the retry-safety the reference gets from
  * rollback-on-error (78-89), which here is a staged load swapped into
  * the target inside one transaction.
  */
class JdbcSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def props = {
    val p = new java.util.Properties()
    // Derby 10.15+ moved EmbeddedDriver to derbytools.jar (present at
    // /opt/spark/jars). Spark's Derby dialect maps StringType to CLOB,
    // which Derby cannot compare in a WHERE clause — pin VARCHAR so the
    // snapshot-delete predicate works.
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p.setProperty("createTableColumnTypes",
      "user_id VARCHAR(32), user_name VARCHAR(64), day_date_id VARCHAR(8), time_of_day_id VARCHAR(4)")
    p
  }

  private def snapshot(day: String, time: String, ids: Seq[Int]) = {
    val s = spark
    import s.implicits._
    ids.map(i => (s"u$i", s"name$i", day, time))
      .toDF("user_id", "user_name", "day_date_id", "time_of_day_id")
  }

  test("table name routes from the curated file key") {
    Layers.tableNameFromKey("curated/20230101/curated_users_data_0930.csv") shouldBe "users"
    Layers.tableNameFromKey("curated/20230101/curated_genre_bridge_data_2352.csv") shouldBe "genre_bridge"
    an[IllegalArgumentException] should be thrownBy
      Layers.tableNameFromKey("raw/20230101_0930/shard0.json")
  }

  test("keys smuggling SQL metacharacters are rejected, not routed") {
    // the extracted name reaches DDL/DML — quotes, semicolons, spaces,
    // and unanchored prefixes/suffixes must all fail the whitelist
    val malicious = Seq(
      """curated/x/curated_users";DROP TABLE users;--_data.csv""",
      "curated/x/curated_users data_data.csv",
      "curated/x/evil_curated_users_data.csv.exe_curated_y_data",
      "curated/x/curated_users_data.csv; DROP TABLE users")
    malicious.foreach { key =>
      an[IllegalArgumentException] should be thrownBy Layers.tableNameFromKey(key)
    }
  }

  test("loadSnapshotJdbc refuses an unsafe table identifier") {
    val ex = the[IllegalArgumentException] thrownBy
      Layers.loadSnapshotJdbc(snapshot("20230101", "0930", Seq(1)), url,
        """users";DROP TABLE users;--""", props, "20230101", "0930")
    ex.getMessage should include("unsafe table identifier")
  }

  test("loadSnapshotJdbc refuses unsafe snapshot keys (they name the stage)") {
    val ex = the[IllegalArgumentException] thrownBy
      Layers.loadSnapshotJdbc(snapshot("20230101", "0930", Seq(1)), url,
        "users_badkey", props, """2023";DROP TABLE users;--""", "0930")
    ex.getMessage should include("unsafe snapshot key")
  }

  test("a failed load leaves the previous snapshot rows intact") {
    val table = "users_atomic"
    Layers.loadSnapshotJdbc(snapshot("20230101", "0930", 1 to 5), url, table, props, "20230101", "0930")
    // user_id is VARCHAR(32): an oversized id fails the load partway —
    // the target must keep ALL previous rows (the old delete-then-append
    // shape had already deleted them at this point)
    val s = spark
    import s.implicits._
    val bad = Seq(("u" * 64, "boom", "20230101", "0930"))
      .toDF("user_id", "user_name", "day_date_id", "time_of_day_id")
    an[Exception] should be thrownBy
      Layers.loadSnapshotJdbc(bad, url, table, props, "20230101", "0930")
    val back = spark.read.jdbc(url, table, props)
    back.count() shouldBe 5
    back.filter("user_name = 'boom'").count() shouldBe 0
  }

  test("write + read-back round-trips rows") {
    val table = Layers.tableNameFromKey("curated/20230101/curated_users_data_0930.csv")
    Layers.loadSnapshotJdbc(snapshot("20230101", "0930", 1 to 5), url, table, props, "20230101", "0930")
    val back = spark.read.jdbc(url, table, props)
    back.count() shouldBe 5
    back.columns.sorted shouldBe Array("day_date_id", "time_of_day_id", "user_id", "user_name")
    back.select("user_id").collect().map(_.getString(0)).sorted shouldBe (1 to 5).map(i => s"u$i").sorted
  }

  test("the first load indexes the target on both snapshot columns") {
    val table = "users_slot_index"
    Layers.loadSnapshotJdbc(snapshot("20230101", "0930", 1 to 3), url, table, props, "20230101", "0930")
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Derby stores unquoted identifiers in upper case
      val idx = conn.getMetaData.getIndexInfo(null, null, table.toUpperCase, false, false)
      val byIndex = try Iterator.continually(idx).takeWhile(_.next())
          .map(r => (r.getString("INDEX_NAME"), r.getShort("ORDINAL_POSITION"), r.getString("COLUMN_NAME")))
          .toList
        finally idx.close()
      val indexed = byIndex.groupBy(_._1).values.map(_.sortBy(_._2).map(_._3)).toSeq
      indexed should contain(List("day_date_id", "time_of_day_id"))
    } finally conn.close()
  }

  test("re-loading the same snapshot is idempotent; a new snapshot appends") {
    val table = "users_idem"
    val snap1 = snapshot("20230101", "0930", 1 to 5)
    Layers.loadSnapshotJdbc(snap1, url, table, props, "20230101", "0930")
    Layers.loadSnapshotJdbc(snap1, url, table, props, "20230101", "0930") // retry: no dupes
    spark.read.jdbc(url, table, props).count() shouldBe 5

    // a partially-landed retry (extra stale row for the snapshot) is swept too
    Layers.writeJdbc(snapshot("20230101", "0930", Seq(99)), url, table, props)
    spark.read.jdbc(url, table, props).count() shouldBe 6
    Layers.loadSnapshotJdbc(snap1, url, table, props, "20230101", "0930")
    val rows = spark.read.jdbc(url, table, props)
    rows.count() shouldBe 5
    rows.filter("user_id = 'u99'").count() shouldBe 0

    // a different snapshot key appends alongside, untouched by later loads
    Layers.loadSnapshotJdbc(snapshot("20230101", "0945", 6 to 8), url, table, props, "20230101", "0945")
    spark.read.jdbc(url, table, props).count() shouldBe 8
    Layers.loadSnapshotJdbc(snap1, url, table, props, "20230101", "0930")
    spark.read.jdbc(url, table, props).count() shouldBe 8
  }
}
