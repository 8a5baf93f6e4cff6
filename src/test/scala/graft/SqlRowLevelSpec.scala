package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.sources.v2.WrittenFile

/** SQL UPDATE / MERGE INTO over the snapshot catalog (round 14, VERDICT
  * r13 ask #3): group-based copy-on-write through Spark's own row-level
  * rewrites ([[graft.sources.v2.SnapshotRowLevelOperation]]). The
  * load-bearing assertions:
  *  - GROUP COMPLETENESS: non-matching rows in rewritten files survive
  *    (a residual row filter on the rewrite scan would silently drop
  *    them — the data-loss failure mode of a mis-wired COW);
  *  - PRUNING: an UPDATE whose condition the manifest stats can bound
  *    rewrites only the candidate files — untouched files keep their
  *    byte-identical paths across the commit;
  *  - MERGE with NOT MATCHED BY SOURCE: rows matching no source row
  *    are still rewritten (runtime join-key pruning is ignored on
  *    row-level scans — it would skip exactly these);
  *  - equality DELETEs keep the cheap merge-on-read path (a D entry,
  *    no rewrite); range DELETEs take copy-on-write;
  *  - CONCURRENCY: a commit that lands between the rewrite's read and
  *    its publish aborts the rewrite loudly (read-set validation),
  *    never silently drops the concurrent commit.
  */
class SqlRowLevelSpec extends SparkTestBase {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_rowlevel/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def filePaths(root: String): Set[String] =
    spark.sql(s"SELECT file_path FROM snap.`$root$$files`")
      .collect().map(_.getString(0)).toSet

  test("UPDATE: matching rows change, non-matching rows in the same file survive") {
    val root = freshRoot("upd_basic")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, i * 10, s"t$i")).toDF("id", "v", "tag").coalesce(1))
    spark.sql(s"UPDATE snap.`$root` SET v = v + 1000 WHERE id <= 3")
    val got = Snapshots.readSnapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == (1L to 10L).map(i =>
      (i, if (i <= 3) i * 10 + 1000 else i * 10, s"t$i")))
    assert(Snapshots.currentVersion(spark, root) == 2L, "one commit per UPDATE")
  }

  test("UPDATE prunes: only candidate files are rewritten") {
    val root = freshRoot("upd_prune")
    val d = (1L to 100L).map(i => (i, i)).toDF("id", "v")
    // four disjoint-range files: manifest stats bound each quarter
    for (k <- 0 until 4)
      Snapshots.commitAppend(spark, root,
        d.filter(col("id") > k * 25 && col("id") <= (k + 1) * 25).coalesce(1))
    val before = filePaths(root)
    assert(before.size == 4)
    spark.sql(s"UPDATE snap.`$root` SET v = 0 WHERE id <= 10")
    val after = filePaths(root)
    // 3 of 4 original files untouched (path-identical), 1 swapped
    assert((before intersect after).size == 3,
      s"expected 3 untouched files, got ${(before intersect after).size}")
    assert(Snapshots.readSnapshot(spark, root)
      .filter(col("v") === 0).count() == 10L)
    assert(Snapshots.readSnapshot(spark, root).agg(sum("v")).head.getLong(0) ==
      (1L to 100L).sum - (1L to 10L).sum)
  }

  test("UPDATE matching nothing plans zero rewrites and publishes no version") {
    val root = freshRoot("upd_noop")
    Snapshots.commitAppend(spark, root,
      (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val v0 = Snapshots.currentVersion(spark, root)
    spark.sql(s"UPDATE snap.`$root` SET v = 0 WHERE id > 1000")
    assert(Snapshots.currentVersion(spark, root) == v0,
      "a fully-pruned UPDATE must not publish a version")
  }

  test("MERGE INTO: matched update, not-matched insert, not-matched-by-source delete") {
    val root = freshRoot("merge_full")
    Snapshots.commitAppend(spark, root,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v").coalesce(2))
    Seq((2L, 200L), (5L, 500L)).toDF("id", "v").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO snap.`$root` t USING merge_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
         |WHEN NOT MATCHED BY SOURCE AND t.id = 4 THEN DELETE""".stripMargin)
    val got = Snapshots.readSnapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 1,3 untouched; 2 updated; 4 deleted (not matched by source); 5 inserted
    assert(got == Seq((1L, 10L), (2L, 200L), (3L, 30L), (5L, 500L)))
  }

  test("MERGE upsert shape: UPDATE SET * / INSERT *") {
    val root = freshRoot("merge_star")
    Snapshots.commitAppend(spark, root,
      (1L to 6L).map(i => (i, s"old$i")).toDF("id", "tag").coalesce(1))
    Seq((4L, "new4"), (9L, "new9")).toDF("id", "tag")
      .createOrReplaceTempView("merge_src2")
    spark.sql(
      s"""MERGE INTO snap.`$root` t USING merge_src2 s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = Snapshots.readSnapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(1L -> "old1", 2L -> "old2", 3L -> "old3",
      4L -> "new4", 5L -> "old5", 6L -> "old6", 9L -> "new9"))
  }

  test("DELETE: equality keeps merge-on-read; a range condition takes copy-on-write") {
    val root = freshRoot("del_paths")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val before = filePaths(root)
    // equality shape → metadata delete: a D entry, data files untouched
    spark.sql(s"DELETE FROM snap.`$root` WHERE id = 7")
    assert(filePaths(root) == before, "equality DELETE must not rewrite files")
    val hist = spark.sql(s"SELECT n_delete_files FROM snap.`$root$$history` " +
      "ORDER BY version DESC LIMIT 1").head.getLong(0)
    assert(hist == 1L, "equality DELETE publishes one delete file")
    // range shape → copy-on-write: files swapped, no new delete file
    spark.sql(s"DELETE FROM snap.`$root` WHERE id > 8")
    assert(filePaths(root) != before, "range DELETE rewrites the affected files")
    val got = Snapshots.readSnapshot(spark, root).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L))
  }

  test("UPDATE through column-ID schema evolution (renamed column, pending delete)") {
    val root = freshRoot("upd_evolved")
    Snapshots.commitAppend(spark, root,
      (1L to 8L).map(i => (i, s"s$i")).toDF("id", "src").coalesce(1))
    Snapshots.initSchema(spark, root)
    Snapshots.renameColumn(spark, root, "src", "origin")
    spark.sql(s"UPDATE snap.`$root` SET origin = 'fixed' WHERE id <= 2")
    val got = Snapshots.readSnapshot(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1L to 8L).map(i => (i, if (i <= 2) "fixed" else s"s$i")))
  }

  test("rewrite commit validates its read set: concurrent delete/schema aborts, append passes") {
    val root = freshRoot("rmw_arbit")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val v1 = Snapshots.currentVersion(spark, root)
    val paths = filePaths(root).toSeq
    // stage a rewrite's output
    val dir = freshRoot("rmw_files")
    (1L to 10L).map(i => (i, i + 1)).toDF("id", "v").coalesce(1).write.parquet(dir)
    val mine = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.map(WrittenFile(_, Nil))
    val schema = Snapshots.readSnapshot(spark, root).schema
    // (a) a concurrent DELETE after the pinned version → abort (the
    // rewrite's pre-image does not reflect it)
    Snapshots.commitDelete(spark, root, Seq(3L).toDF("id"))
    intercept[Snapshots.ConcurrentTableChangeException] {
      Snapshots.commitRewriteFiles(spark, root, paths, mine, schema, v1)
    }
    // (b) re-read at the new version: a concurrent APPEND does not
    // conflict — the swap lands and the appended rows survive
    val v2 = Snapshots.currentVersion(spark, root)
    Snapshots.commitAppend(spark, root, Seq((99L, 99L)).toDF("id", "v").coalesce(1))
    Snapshots.commitRewriteFiles(spark, root, paths, mine, schema, v2)
    val ids = Snapshots.readSnapshot(spark, root).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((1L to 10L) :+ 99L).sorted,
      "append carried through the swap; old delete no longer applies to rewritten files")
    // (c) a removed path no longer listed → abort
    intercept[Snapshots.ConcurrentTableChangeException] {
      Snapshots.commitRewriteFiles(spark, root, paths, Nil, schema,
        Snapshots.currentVersion(spark, root))
    }
  }

  test("an all-rows range DELETE on a tracked table leaves a valid, writable empty table") {
    // round 15, ADVICE r14 medium #3: the >=1-file invariant was stale —
    // a schema-tracked table legally serves zero files (CREATE TABLE
    // already reads empty), so a rewrite DELETE matching every row
    // succeeds instead of erroring
    val root = freshRoot("del_all")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT, n_chars BIGINT)")
    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"DELETE FROM snap.`$root` WHERE n_chars > 0")
    val got = spark.sql(s"SELECT * FROM snap.`$root`")
    assert(got.count() == 0L)
    assert(got.schema.fieldNames.toSeq == Seq("id", "n_chars"),
      "empty table keeps its tracked schema")
    // the table stays fully usable after the wipe
    spark.sql(s"INSERT INTO snap.`$root` VALUES (4, 40)")
    assert(spark.sql(s"SELECT id FROM snap.`$root`").collect().map(_.getLong(0))
      .toSeq == Seq(4L))
  }

  test("UPDATE on a VERSION-pinned read refuses loudly") {
    val root = freshRoot("upd_pinned")
    Snapshots.commitAppend(spark, root,
      (1L to 4L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    Snapshots.commitAppend(spark, root, Seq((5L, 5L)).toDF("id", "v").coalesce(1))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE snap.`$root` VERSION AS OF 1 SET v = 0 WHERE id = 1")
    }
    assert(e.getMessage != null)
  }
}
