package graft

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Snapshots

/** Every snapshot read path decodes the types Spark writes by default
  * alike: an INT96 TIMESTAMP, a DECIMAL, and a DATE and TIMESTAMP old
  * enough that reading them depends on each file's rebase metadata
  * (one commit written under LEGACY rebasing, one under CORRECTED). */
class SnapshotReadTypesSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_readtypes/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private val legacyRows = Seq(
    (1L, Timestamp.valueOf("2024-01-02 03:04:05.123456"), BigDecimal("12.34"),
      Date.valueOf("1500-03-01"), Timestamp.valueOf("1850-06-01 12:00:00")),
    (2L, Timestamp.valueOf("2024-02-03 04:05:06"), BigDecimal("-0.50"),
      Date.valueOf("1000-01-01"), Timestamp.valueOf("1200-01-01 00:00:00")))
  private val correctedRows = Seq(
    (3L, Timestamp.valueOf("2024-03-04 05:06:07.5"), BigDecimal("99999999.99"),
      Date.valueOf("1582-10-04"), Timestamp.valueOf("1899-12-31 23:59:59")),
    (4L, Timestamp.valueOf("2024-04-05 06:07:08"), BigDecimal("0.01"),
      Date.valueOf("2020-02-29"), Timestamp.valueOf("1600-02-29 00:00:00")))

  private def frame(rows: Seq[(Long, Timestamp, BigDecimal, Date, Timestamp)]): DataFrame =
    rows.toDF("id", "ts", "amt", "d", "old_ts")
      .withColumn("amt", col("amt").cast("DECIMAL(10,2)")).coalesce(1)

  /** The two commits: the first written under LEGACY rebasing. */
  private def load(root: String): Unit = {
    val keys = Seq("spark.sql.parquet.datetimeRebaseModeInWrite",
      "spark.sql.parquet.int96RebaseModeInWrite")
    keys.foreach(spark.conf.set(_, "LEGACY"))
    try Snapshots.commitAppend(spark, root, frame(legacyRows))
    finally keys.foreach(spark.conf.unset)
    Snapshots.commitAppend(spark, root, frame(correctedRows))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select("id", "ts", "amt", "d", "old_ts").orderBy("id").collect().toSeq

  test("INT96, DECIMAL and rebased dates read alike through readSnapshot, SQL, DSv2 and the stream") {
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
    val expected = rows(frame(legacyRows ++ correctedRows))
    val root = freshRoot("table")
    load(root)
    assert(rows(Snapshots.readSnapshot(spark, root)) == expected)
    // a delete keyed on the INT96 timestamp column
    Snapshots.commitDelete(spark, root, Seq(correctedRows.head._2).toDF("ts"))
    val want = rows(Snapshots.readSnapshot(spark, root))
    assert(want == expected.filter(_.getLong(0) != 3L))
    spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    assert(rows(spark.sql(s"SELECT * FROM snap.`$root`")) == want)
    val dsv2 = spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load()
    assert(rows(dsv2) == want)
    val filtered = dsv2.filter(col("id") <= 2L)
    // the pushed filter prunes the second commit's file
    assert(filtered.rdd.getNumPartitions == 1)
    assert(rows(filtered) == want.filter(_.getLong(0) <= 2L))

    // the stream tails an append-only copy of the table
    val copy = freshRoot("copy")
    load(copy)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_readtypes_ckpt")
    val q = spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
      .option("root", copy).load()
      .writeStream.format("memory").queryName("readtypes_tail")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
    assert(rows(spark.table("readtypes_tail")) == rows(Snapshots.readSnapshot(spark, copy)))
    assert(rows(spark.table("readtypes_tail")) == expected)
    // a scan that requests no column still counts every row
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", copy).load().select().rdd.count() == expected.size)
  }
}
