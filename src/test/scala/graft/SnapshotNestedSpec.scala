package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.sources.v2.WrittenFile

/** Nested (STRUCT/ARRAY/MAP) columns through the DSv2 snapshot surface
  * (round 14, VERDICT r13 ask #4): the declarative scan serves the
  * standard parquet layouts recursively, answers stay identical to
  * [[graft.sources.Snapshots.readSnapshot]], pruning still bites on
  * primitive columns, deletes compose, and out-of-scope layouts stay
  * loud. */
class SnapshotNestedSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_nested/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def batchRead(root: String) =
    spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load()

  private def nestedFixture(n: Int) =
    (1 to n).map(i => (i.toLong, s"s$i", i * 10L)).toDF("id", "name", "v")
      .select(col("id"),
        struct(col("name"), col("v")).as("props"),
        array(col("v"), col("v") * 2, col("v") * 3).as("arr"),
        map(lit("k"), col("v")).as("meta"))

  test("struct/array/map columns: DSv2 scan ≡ readSnapshot, values exact") {
    val root = freshRoot("basic")
    Snapshots.commitAppend(spark, root, nestedFixture(20).coalesce(2))
    val got = batchRead(root)
      .select(col("id"), col("props.name"), col("props.v"),
        element_at(col("arr"), 3).as("a3"), element_at(col("meta"), "k").as("mk"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == (1 to 20).map(i =>
      (i.toLong, s"s$i", i * 10L, i * 30L, i * 10L)))
    // full-frame equality against the API path (map compared as entries)
    val flat = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"),
      col("props.name"), col("props.v"), col("arr"), map_entries(col("meta")))
      .orderBy("id").collect().toSeq
    assert(flat(batchRead(root)) == flat(Snapshots.readSnapshot(spark, root)))
  }

  test("null handling: null struct, null element, empty array, null map value") {
    val root = freshRoot("nulls")
    val df = Seq(
      (1L, Some(("a", 1L)), Seq[Option[Long]](Some(1L), None), Map("k" -> Some(1L))),
      (2L, None, Seq.empty[Option[Long]], Map("k" -> Option.empty[Long])),
      (3L, Some(("c", 3L)), Seq[Option[Long]](None), Map.empty[String, Option[Long]]))
      .toDF("id", "props", "arr", "meta")
    Snapshots.commitAppend(spark, root, df.coalesce(1))
    val flat = (d: org.apache.spark.sql.DataFrame) => d.select(col("id"),
      col("props"), col("arr"), map_entries(col("meta")))
      .orderBy("id").collect().toSeq
    assert(flat(batchRead(root)) == flat(Snapshots.readSnapshot(spark, root)))
    // spot: row 2's struct is NULL, its array EMPTY (not null)
    val r2 = batchRead(root).filter(col("id") === 2L).head
    assert(r2.isNullAt(1) && r2.getSeq[Any](2).isEmpty)
  }

  test("pruning still bites on primitive columns beside nested ones; deletes compose") {
    val root = freshRoot("prune")
    val d = nestedFixture(100)
    for (k <- 0 until 4)
      Snapshots.commitAppend(spark, root,
        d.filter(col("id") > k * 25 && col("id") <= (k + 1) * 25).coalesce(1))
    // manifest stats on `id` prune 3 of 4 files even though the table
    // carries nested columns (they just have no stats)
    assert(batchRead(root).filter(col("id") <= 25).rdd.getNumPartitions == 1)
    // merge-on-read delete applies in the full reader with nested cols
    Snapshots.commitDelete(spark, root, Seq(7L, 30L).toDF("id"))
    val got = batchRead(root).select(col("id"), col("props.v"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1 to 100).filterNot(i => i == 7 || i == 30)
      .map(i => (i.toLong, i * 10L)))
    // a filter on a nested field filters rows, never mis-prunes
    assert(batchRead(root).filter(col("props.v") === 500L).count() == 1L)
  }

  test("nested tables through the SQL catalog and the streaming source") {
    val root = freshRoot("sqlstream")
    Snapshots.commitAppend(spark, root, nestedFixture(10).coalesce(1))
    spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    val viaSql = spark.sql(
      s"SELECT id, props.v AS pv, arr[1] AS a2, meta['k'] AS mk FROM snap.`$root` " +
        "WHERE id <= 3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(viaSql.toSeq == (1 to 3).map(i => (i.toLong, i * 10L, i * 20L, i * 10L)))
    // the streaming source shares the converter: one micro-batch of the
    // nested table arrives value-exact
    val dir = freshRoot("sqlstream_sink")
    val q = spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
      .option("root", root).load()
      .select(col("id"), col("props.v").as("pv"))
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.read.parquet(s"$dir/out").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == (1 to 10).map(i => (i.toLong, i * 10L)))
  }

  test("SQL DML on nested tables: equality DELETE works, UPDATE matches the API") {
    val root = freshRoot("dml")
    spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    Snapshots.commitAppend(spark, root, nestedFixture(6).coalesce(1))
    // equality-shaped DELETE takes the metadata path — nested columns
    // are irrelevant to a key-file commit
    spark.sql(s"DELETE FROM snap.`$root` WHERE id = 3")
    assert(Snapshots.readSnapshot(spark, root).count() == 5L)
    // the same UPDATE through the API path: read, rewrite, replace
    val api = freshRoot("dml_api")
    Snapshots.commitReplace(spark, api, Snapshots.readSnapshot(spark, root)
      .withColumn("id", when(col("id") === 1L, lit(99L)).otherwise(col("id"))).coalesce(1))
    // the copy-on-write rewrite writes the nested columns and commits
    val before = Snapshots.currentVersion(spark, root)
    spark.sql(s"UPDATE snap.`$root` SET id = 99 WHERE id = 1")
    assert(Snapshots.currentVersion(spark, root) == before + 1)
    val flat = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"),
      col("props"), col("arr"), map_entries(col("meta"))).orderBy("id").collect().toSeq
    val got = flat(Snapshots.readSnapshot(spark, root))
    assert(got.map(_.getLong(0)) == Seq(2L, 4L, 5L, 6L, 99L))
    assert(got == flat(Snapshots.readSnapshot(spark, api)))
    assert(flat(batchRead(root)) == got)
  }

  test("legacy 2-level list layout reads as spark.read.parquet does") {
    val root = freshRoot("legacy")
    val dir = s"$root/data/c-legacy"
    spark.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    try Seq((1L, Seq(1L, 2L)), (2L, Seq.empty[Long])).toDF("id", "arr")
      .coalesce(1).write.parquet(dir)
    finally spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    // hand-publish the legacy file as a table: the DSv2 scan decodes it
    // through Spark's own materializer, as spark.read.parquet does
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file = f.listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    Snapshots.commitAppendFiles(spark, root, Seq(WrittenFile(file, Nil)),
      spark.read.parquet(file).schema)
    val want = spark.read.parquet(file).orderBy("id").collect().toSeq
    assert(want.map(_.getSeq[Long](1)) == Seq(Seq(1L, 2L), Seq.empty[Long]))
    assert(batchRead(root).orderBy("id").collect().toSeq == want)
    assert(Snapshots.readSnapshot(spark, root).orderBy("id").collect().toSeq == want)
  }
}
