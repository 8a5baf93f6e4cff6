package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import graft.sources.Snapshots
import graft.sources.v2.SnapshotReaderFactory

/** The lake's one writer: SQL writes (INSERT INTO, INSERT OVERWRITE,
  * UPDATE, the streaming sink) and DataFrame commits write the same
  * files for the same rows, any column type included; every manifest
  * entry's stats are its footer's; a commit runs one job; and the
  * empty-write rules hold. */
class SnapshotWriteSpec extends SparkTestBase {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_write/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private val columns =
    "id BIGINT, amt DECIMAL(10,2), props STRUCT<name: STRING, v: BIGINT>, " +
      "arr ARRAY<BIGINT>, meta MAP<STRING, BIGINT>, ts TIMESTAMP"

  /** The rows of `ids`' `id` column, in the table's column types. */
  private def rowsOf(ids: Dataset[_]): DataFrame = ids.select(
    col("id"),
    (col("id") * 1.25).cast("decimal(10,2)").as("amt"),
    struct(concat(lit("n"), col("id").cast("string")).as("name"), (col("id") * 10).as("v"))
      .as("props"),
    array(col("id"), col("id") * 2).as("arr"),
    map(lit("k"), col("id")).as("meta"),
    timestamp_seconds(col("id") * 86400 + 7).as("ts"))

  private def rows(root: String): Seq[Row] =
    Snapshots.readSnapshot(spark, root).orderBy("id").collect().toSeq

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBusBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  /** Each `A` entry of `root`'s current manifest: (path, its stats). */
  private def manifestStats(root: String): Seq[(String, Map[String, graft.sources.FileStats.ColStats])] = {
    val v = Snapshots.currentVersion(spark, root)
    graft.sources.Manifest.entries(spark, root, v).filter(_.kind == "A")
      .map(e => e.path -> graft.sources.FileStats.decodeStats(e.stats))
  }

  /** `path`'s stats re-derived from its footer, keyed as a commit keys
    * them (column name, or "#id" on a tracked table). */
  private def footerStats(root: String, path: String): Map[String, graft.sources.FileStats.ColStats] = {
    val ids = Snapshots.trackedSchema(spark, root).map(_.map(c => c._2 -> s"#${c._1}").toMap)
    val conf = SnapshotReaderFactory.confToMap(spark.sessionState.newHadoopConf())
    graft.sources.FileStats.statsOfOneFooter(path, conf).map { case (n, tag, lo, hi) =>
      val key = if (n.startsWith("__")) n else ids.fold(n)(_(n))
      key -> graft.sources.FileStats.ColStats(tag, lo, hi)
    }.toMap
  }

  test("SQL writes and DataFrame commits of the same rows read identically, any column type") {
    val sqlRoot = freshRoot("sql")
    val ckpt = freshRoot("sql_ckpt")
    spark.sql(s"CREATE TABLE snap.`$sqlRoot` ($columns)")
    rowsOf(spark.range(1, 4)).createOrReplaceTempView("write_spec_a")
    spark.sql(s"INSERT INTO snap.`$sqlRoot` SELECT * FROM write_spec_a")
    rowsOf(spark.range(1, 5)).createOrReplaceTempView("write_spec_b")
    spark.sql(s"INSERT OVERWRITE snap.`$sqlRoot` SELECT * FROM write_spec_b")
    spark.sql(s"UPDATE snap.`$sqlRoot` SET amt = amt + 1 WHERE id = 2")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    val q = rowsOf(in.toDF().toDF("id")).writeStream
      .option("checkpointLocation", ckpt).toTable(s"snap.`$sqlRoot`")
    try { in.addData(5L, 6L); q.processAllAvailable() } finally q.stop()
    // CREATE, INSERT, OVERWRITE, UPDATE and one epoch
    assert(Snapshots.currentVersion(spark, sqlRoot) == 5L)

    val apiRoot = freshRoot("api")
    Snapshots.commitAppend(spark, apiRoot, rowsOf(spark.range(1, 7))
      .withColumn("amt", when(col("id") === 2L, col("amt") + 1).otherwise(col("amt"))
        .cast("decimal(10,2)")))
    val want = rows(apiRoot)
    assert(want.map(_.getLong(0)) == (1L to 6L))
    assert(want(1).getDecimal(1) == new java.math.BigDecimal("3.50"))
    assert(rows(sqlRoot) == want)
    assert(spark.sql(s"SELECT * FROM snap.`$sqlRoot` ORDER BY id").collect().toSeq == want)
  }

  test("every manifest entry's stats are its footer's, from SQL and DataFrame writes") {
    val sqlRoot = freshRoot("stats_sql")
    spark.sql(s"CREATE TABLE snap.`$sqlRoot` ($columns)")
    rowsOf(spark.range(1, 9, 1, 3)).createOrReplaceTempView("write_spec_c")
    spark.sql(s"INSERT INTO snap.`$sqlRoot` SELECT * FROM write_spec_c")
    spark.sql(s"UPDATE snap.`$sqlRoot` SET id = id + 100 WHERE id = 4")
    val apiRoot = freshRoot("stats_api")
    Snapshots.commitAppend(spark, apiRoot, rowsOf(spark.range(1, 9, 1, 3)))
    Snapshots.commitMerge(spark, apiRoot, rowsOf(spark.range(3, 5)), Seq("id"))
    Snapshots.commitReplaceClustered(spark, apiRoot, Seq("id"), 2)
    for (root <- Seq(sqlRoot, apiRoot)) {
      val entries = manifestStats(root)
      assert(entries.nonEmpty)
      entries.foreach { case (path, stats) =>
        assert(stats.contains("__rows") && stats.contains("__bytes"), s"$path has stats")
        assert(stats == footerStats(root, path), s"$path: manifest stats are its footer's")
      }
    }
    // the DECIMAL column carries exact bounds; the INT96 timestamp none
    val (_, st) = manifestStats(apiRoot).head
    assert(st.get("amt").exists(_.tag == 'm') && !st.contains("ts"))
  }

  test("an INT96 timestamp column carries no stat and never prunes") {
    // parquet keeps no min/max for INT96, only a null count: a column
    // with values is unknown to the pruner, not all-NULL
    val root = freshRoot("int96")
    Snapshots.commitAppend(spark, root, rowsOf(spark.range(1, 4)).coalesce(1))
    Snapshots.commitAppend(spark, root, rowsOf(spark.range(4, 7)).coalesce(1))
    assert(manifestStats(root).forall(!_._2.contains("ts")))
    val f = Seq[org.apache.spark.sql.sources.Filter](org.apache.spark.sql.sources.GreaterThan(
      "ts", java.sql.Timestamp.valueOf("1970-01-03 12:00:00")))
    assert(Snapshots.pruneCounts(spark, root, f) == ((2L, 2L)))
    assert(Snapshots.readSnapshotPruned(spark, root, f).count() == 4L)
  }

  test("a DataFrame commit runs one Spark job at any file count") {
    val root = freshRoot("jobs")
    val df = spark.range(0, 40000, 1, 40).toDF("id")
    assert(jobsDuring(Snapshots.commitAppend(spark, root, df)) == 1)
    assert(Snapshots.fileCount(spark, root, 1L) == 40L)
    assert(Snapshots.metadataRowCount(spark, root).contains(40000L))
  }

  test("a DataFrame commit writes the file set and bytes df.write.parquet writes") {
    // only the last two of four partitions hold rows: task 0 still
    // writes its (empty) file, task 1 writes none
    val df = spark.range(0, 40, 1, 4).toDF("id").filter(col("id") >= 25)
      .select(col("id"), (col("id") * 1.5).cast("decimal(10,2)").as("amt"),
        array(col("id")).as("arr"))
    val root = freshRoot("fileset")
    Snapshots.commitAppend(spark, root, df)
    val plain = freshRoot("fileset_plain")
    df.write.parquet(plain)
    val dir = new Path(plain)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytes(p: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new Path(p).toUri))
    val want = fs.listStatus(dir).map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted
      .map(bytes).map(_.toSeq).toSeq
    val got = manifestStats(root).map(_._1).map(bytes).map(_.toSeq)
    assert(got.size == 3 && got == want)
    // a commit leaves its data files and nothing else
    val commitDir = new Path(manifestStats(root).head._1).getParent
    assert(fs.listStatus(commitDir).map(_.getPath.getName).count(_.endsWith(".parquet")) == 3)
    assert(!fs.exists(new Path(commitDir, "_SUCCESS")))
  }

  test("an empty DataFrame commit lists one schema-only file; an empty INSERT publishes nothing") {
    val schema = rowsOf(spark.range(1)).schema
    // no partitions at all: one empty task still writes the schema
    val none = freshRoot("empty_none")
    Snapshots.commitAppend(spark, none,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    // partitions that are all empty: task 0 writes the schema
    val allEmpty = freshRoot("empty_parts")
    Snapshots.commitAppend(spark, allEmpty,
      rowsOf(spark.range(0, 10, 1, 4).filter(col("id") < 0)))
    for (root <- Seq(none, allEmpty)) {
      assert(Snapshots.fileCount(spark, root, 1L) == 1L)
      val back = Snapshots.readSnapshot(spark, root)
      assert(back.count() == 0L && back.columns.toSeq == schema.fieldNames.toSeq)
    }
    val sqlRoot = freshRoot("empty_sql")
    spark.sql(s"CREATE TABLE snap.`$sqlRoot` ($columns)")
    rowsOf(spark.range(1, 4)).createOrReplaceTempView("write_spec_d")
    spark.sql(s"INSERT INTO snap.`$sqlRoot` SELECT * FROM write_spec_d WHERE id < 0")
    assert(Snapshots.currentVersion(spark, sqlRoot) == 1L)
  }
}
