package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, AggregateFunc, CountStar, Min}

import graft.SparkTestBase
import graft.sources.Snapshots

/** Round-14 hardening of the DSv2 snapshot surface:
  *  - aggregate pushdown reads ONE pinned version even when a commit
  *    lands between `supportCompletePushDown` and `pushAggregation`
  *    (VERDICT r13 ask #2 / ADVICE r12 medium — the two calls used to
  *    resolve `currentVersion` independently per metadata walk);
  *  - equality-delete key files whose physical type does not widen
  *    losslessly to the table's declared column type fail LOUDLY at
  *    load instead of silently matching nothing (ADVICE r13 medium #1).
  */
class SnapshotIsolationSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_isolation/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def aggRows(scan: org.apache.spark.sql.connector.read.Scan): Seq[Seq[Any]] = {
    val batch = scan.asInstanceOf[SnapshotAggScan].toBatch
    val parts = batch.planInputPartitions()
    val rf = batch.createReaderFactory()
    parts.toSeq.flatMap { p =>
      val r = rf.createReader(p)
      val out = Seq.newBuilder[Seq[Any]]
      while (r.next()) {
        val row = r.get()
        out += (0 until scan.readSchema().length).map(i =>
          row.get(i, scan.readSchema()(i).dataType))
      }
      r.close()
      out.result()
    }
  }

  test("agg pushdown is snapshot-isolated across a concurrent commit") {
    val root = freshRoot("aggpin")
    Snapshots.commitAppend(spark, root,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    val tableSchema = SnapshotBatchSource.inferSchemaAt(spark, root, -1L)
    val builder = new SnapshotScanBuilder(root, -1L, tableSchema)
    val agg = new Aggregation(
      Array[AggregateFunc](new CountStar, new Min(Expressions.column("id"))),
      Array.empty[Expression])
    assert(builder.supportCompletePushDown(agg))
    // a concurrent writer commits BETWEEN the support check and the push
    // — new rows with a smaller min. The pushed result must be entirely
    // version-1: count 100 AND min 1 (the pre-fix form could mix
    // count@v1 with min@v2 = -5 in one row).
    Snapshots.commitAppend(spark, root,
      Seq((-5L, 0L)).toDF("id", "v").coalesce(1))
    assert(builder.pushAggregation(agg))
    val rows = aggRows(builder.build())
    assert(rows == Seq(Seq(100L, 1L)),
      s"pushed aggregate mixed versions: $rows (want count=100, min=1, both @v1)")
  }

  test("a fresh builder after the commit sees the new version (the pin is per scan, not a cache)") {
    val root = freshRoot("aggpin2")
    Snapshots.commitAppend(spark, root,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    Snapshots.commitAppend(spark, root, Seq((-5L, 0L)).toDF("id", "v").coalesce(1))
    val tableSchema = SnapshotBatchSource.inferSchemaAt(spark, root, -1L)
    val builder = new SnapshotScanBuilder(root, -1L, tableSchema)
    val agg = new Aggregation(
      Array[AggregateFunc](new CountStar, new Min(Expressions.column("id"))),
      Array.empty[Expression])
    assert(builder.supportCompletePushDown(agg) && builder.pushAggregation(agg))
    assert(aggRows(builder.build()) == Seq(Seq(101L, -5L)))
  }

  test("delete-key file with a non-widening physical type fails loudly at load") {
    // write a key file of LONGs by hand and load it declared INT — the
    // pre-fix widen() passed the Long through, the in-task hash set
    // matched no Int, and the delete was silently ignored
    val dir = freshRoot("widen")
    Seq(3L, 7L).toDF("id").coalesce(1).write.parquet(dir)
    val file = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    val conf = SnapshotReaderFactory.readerConf(spark)
    def load(f: String, declared: String) = SnapshotDeleteSets.get(
      SnapshotDeleteSets.spec(spark, f, Map("id" -> declared), _ => 0), conf)
    val e = intercept[IllegalStateException] { load(file, "INT") }
    assert(e.getMessage.contains("does not widen losslessly"))
    // the declared widenings still load: INT32 keys read as BIGINT
    val dir2 = freshRoot("widen2")
    Seq(3, 7).toDF("id").coalesce(1).write.parquet(dir2)
    val file2 = new Path(dir2).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir2)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).head
    assert(load(file2, "BIGINT") ==
      Set(Seq(3L), Seq(7L)))
  }

  test("commitDelete type-checks keys on UNTRACKED tables too") {
    val root = freshRoot("untracked_del")
    Snapshots.commitAppend(spark, root,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag").coalesce(1))
    // BIGINT keys against the INT column: loud at commit time now
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitDelete(spark, root, Seq(3L).toDF("id"))
    }
    assert(e.getMessage.contains("INT"))
    // exact-typed keys commit and both read paths agree
    Snapshots.commitDelete(spark, root, Seq(3).toDF("id"))
    assert(Snapshots.readSnapshot(spark, root).count() == 2L)
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load().count() == 2L)
  }
}
