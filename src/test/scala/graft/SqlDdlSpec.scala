package graft

import org.apache.hadoop.fs.Path

import graft.sources.Snapshots

/** Catalog DDL (round 14 — the one-name SQL lifecycle closed): CREATE
  * TABLE publishes an empty schema-tracked version-1 manifest, ALTER
  * TABLE maps onto the column-ID evolution commits, DROP TABLE removes
  * the directory, and every verb between them (INSERT / SELECT / UPDATE
  * / DELETE / time travel) keeps working across the DDL. */
class SqlDdlSpec extends SparkTestBase {

  spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_ddl/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  test("CREATE → empty read → INSERT → ALTER (rename/add/drop) → UPDATE → DROP") {
    val root = freshRoot("lifecycle")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT, v BIGINT)")
    // a created-but-empty table reads as zero rows with the declared schema
    val empty = spark.sql(s"SELECT * FROM snap.`$root`")
    assert(empty.columns.toSeq == Seq("id", "v") && empty.count() == 0L)
    // CREATE again is loud; IF NOT EXISTS is quiet
    intercept[Exception] { spark.sql(s"CREATE TABLE snap.`$root` (x INT)") }
    spark.sql(s"CREATE TABLE IF NOT EXISTS snap.`$root` (x INT)")
    assert(spark.sql(s"SELECT * FROM snap.`$root`").columns.toSeq == Seq("id", "v"))

    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE snap.`$root` RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE snap.`$root` ADD COLUMNS (extra STRING)")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (3, 30, 'x')")
    val got = spark.sql(s"SELECT id, val, extra FROM snap.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, 10L, null), (2L, 20L, null), (3L, 30L, "x")),
      "pre-ALTER rows read NULL for the added column; renamed column serves old data")

    spark.sql(s"ALTER TABLE snap.`$root` DROP COLUMN extra")
    assert(spark.sql(s"SELECT * FROM snap.`$root`").columns.toSeq == Seq("id", "val"))
    // DML keeps working across the evolution
    spark.sql(s"UPDATE snap.`$root` SET val = 0 WHERE id = 1")
    assert(spark.sql(s"SELECT sum(val) FROM snap.`$root`").head.getLong(0) == 50L)
    // time travel below the rename still reads the OLD name
    assert(spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 2")
      .columns.toSeq == Seq("id", "v"))

    assert(spark.sql(s"SHOW TABLES IN snap").count() >= 0) // namespace listing alive
    spark.sql(s"DROP TABLE snap.`$root`")
    assert(Snapshots.currentVersion(spark, root) == 0L, "DROP removes the table")
    intercept[Exception] { spark.sql(s"SELECT * FROM snap.`$root`").collect() }
  }

  test("ALTER COLUMN TYPE widens in place; unsupported changes and RENAME TABLE stay loud") {
    val root = freshRoot("widen")
    spark.sql(s"CREATE TABLE snap.`$root` (id INT, v INT)")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 7)")
    spark.sql(s"ALTER TABLE snap.`$root` ALTER COLUMN v TYPE BIGINT")
    val r = spark.sql(s"SELECT v FROM snap.`$root`").head
    assert(r.getLong(0) == 7L, "old INT data reads as BIGINT after the widen")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (2, ${Long.MaxValue}L)")
    assert(spark.sql(s"SELECT max(v) FROM snap.`$root`").head.getLong(0) == Long.MaxValue)
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE snap.`$root` RENAME TO snap.`${root}_2`")
    }
    assert(e.getMessage != null)
  }

  test("a DDL-created table streams: CREATE → INSERT → readStream.table (round-14 find)") {
    // pre-fix the stream's file-diff contract rejected ANY schema entry
    // in range — and a created table's version 1 IS a schema entry, so
    // streaming a CREATE TABLE'd table always failed; a schema commit
    // that predates all data is positionally safe and now admitted
    val root = freshRoot("stream_created")
    val sink = freshRoot("stream_created_sink")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 10), (2, 20)")
    val q = spark.readStream.table(s"snap.`$root`")
      .writeStream.format("parquet")
      .option("path", s"$sink/out").option("checkpointLocation", s"$sink/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$sink/out").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // a schema CHANGE with data under the old binding stays loud
    spark.sql(s"ALTER TABLE snap.`$root` RENAME COLUMN v TO val")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (3, 30)")
    val e = intercept[Exception] {
      graft.sources.Snapshots.readAppendedSince(spark, root, 0L)
    }
    assert(e.getMessage.contains("schema CHANGE"))
  }

  test("CREATE TABLE: NOT NULL constraints and conflicting LOCATION decline loudly") {
    val root = freshRoot("notnull")
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT NOT NULL)")
    }
    assert(e1.getMessage.contains("NOT NULL"))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT) LOCATION '/somewhere/else'")
    }
    assert(e2.getMessage.contains("LOCATION"))
    // an AGREEING location is fine
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT) LOCATION '$root'")
    assert(graft.sources.Snapshots.currentVersion(spark, root) == 1L)
  }

  test("CREATE TABLE declines PARTITIONED BY loudly; DDL is claim-serialized") {
    val root = freshRoot("nopart")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT, d STRING) PARTITIONED BY (d)")
    }
    assert(e.getMessage.contains("PARTITIONED BY"))
    // DDL commits ride the ordinary publish: versions increase one at a time
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT)")
    assert(Snapshots.currentVersion(spark, root) == 1L)
    spark.sql(s"ALTER TABLE snap.`$root` ADD COLUMNS (v BIGINT)")
    assert(Snapshots.currentVersion(spark, root) == 2L)
  }

  test("ALTER TABLE ADD COLUMNS NOT NULL declines loudly (mirrors CREATE)") {
    // round 15, ADVICE r14 low #1: silently adding the column nullable
    // while pre-existing rows read NULL would be a quietly-dropped
    // constraint — the same lie createTable already refuses
    val root = freshRoot("addnotnull")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE snap.`$root` ADD COLUMNS (v BIGINT NOT NULL)")
    }
    assert(e.getMessage.contains("NOT NULL"))
    // the refused change must not have committed anything
    assert(Snapshots.currentVersion(spark, root) == 1L)
  }

  test("a DECIMAL column reads through SQL as through readSnapshot") {
    val root = freshRoot("decimalplan")
    Snapshots.createTable(spark, root,
      Seq("id" -> "BIGINT", "amt" -> "DECIMAL(10,2)"))
    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 1.50)")
    val got = spark.sql(s"SELECT id, amt FROM snap.`$root`").collect().toSeq
    assert(got == Snapshots.readSnapshot(spark, root).select("id", "amt").collect().toSeq)
    assert(got.map(_.getDecimal(1)) == Seq(new java.math.BigDecimal("1.50")))
  }
}
