package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.Snapshots
import graft.sources.v2.WrittenFile

/** The NATIVE streaming sink of the snapshot lake (round 14):
  * `df.writeStream.toTable("snap.`root`")` — one atomic append commit
  * per micro-batch, exactly-once via a `T` idempotence marker committed
  * IN the same manifest version as the files (no marker-vs-commit crash
  * window; commitMergeOnce commits its marker the same way). */
class StreamSinkSpec extends SparkTestBase {
  import spark.implicits._

  spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_streamsink/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  test("writeStream.toTable: one commit per epoch, content exact, markers invisible") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("basic")
    val ckpt = freshRoot("basic_ckpt")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT, v BIGINT)")
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", ckpt)
      .toTable(s"snap.`$root`")
    try {
      in.addData((1L, 10L), (2L, 20L)); q.processAllAvailable()
      in.addData((3L, 30L)); q.processAllAvailable()
      in.addData((4L, 40L), (5L, 50L)); q.processAllAvailable()
    } finally q.stop()
    // CREATE = v1, three non-empty epochs = v2..v4
    assert(Snapshots.currentVersion(spark, root) == 4L)
    val got = spark.sql(s"SELECT id, v FROM snap.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1 to 5).map(i => (i.toLong, i * 10L)))
    // markers are invisible to every reader surface
    assert(Snapshots.readSnapshot(spark, root).count() == 5L)
    assert(spark.sql(s"SELECT sum(added_files) FROM snap.`$root$$history`")
      .head.getLong(0) == 3L)
    // batch SQL DML composes on the streamed table
    spark.sql(s"DELETE FROM snap.`$root` WHERE id = 2")
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root`").head.getLong(0) == 4L)
  }

  test("epoch replay commits nothing: the T marker is atomic with the files") {
    val root = freshRoot("replay")
    Snapshots.commitAppend(spark, root, Seq((1L, 1L)).toDF("id", "v").coalesce(1))
    val dir = freshRoot("replay_files")
    Seq((2L, 2L)).toDF("id", "v").coalesce(1).write.parquet(dir)
    val files = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.map(WrittenFile(_, Nil))
    val schema = Snapshots.readSnapshot(spark, root).schema
    val v1 = Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-q1-e7")
    // the replay: same txn id → same version back, no new commit, no
    // duplicate rows
    val v2 = Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-q1-e7")
    assert(v1 == v2 && Snapshots.currentVersion(spark, root) == v1)
    assert(Snapshots.readSnapshot(spark, root).count() == 2L)
    // a DIFFERENT epoch commits normally
    val v3 = Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-q1-e8")
    assert(v3 == v1 + 1)
    assert(Snapshots.readSnapshot(spark, root).count() == 3L)
  }

  test("a restarted stream resumes without re-committing its epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("restart")
    val ckpt = freshRoot("restart_ckpt")
    spark.sql(s"CREATE TABLE snap.`$root` (id BIGINT)")
    val in = MemoryStream[Long]
    def start() = in.toDF().toDF("id").writeStream
      .option("checkpointLocation", ckpt).toTable(s"snap.`$root`")
    val q1 = start()
    try { in.addData(1L, 2L); q1.processAllAvailable() } finally q1.stop()
    val vAfter = Snapshots.currentVersion(spark, root)
    // restart from the same checkpoint: the committed epoch is not
    // re-run; only new data commits
    val q2 = start()
    try { in.addData(3L); q2.processAllAvailable() } finally q2.stop()
    assert(Snapshots.currentVersion(spark, root) == vAfter + 1)
    assert(spark.sql(s"SELECT id FROM snap.`$root` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("T markers survive appends/deletes AND replaces, bound one-per-writer, ignored by vacuum and CDC") {
    val root = freshRoot("marker_life")
    Snapshots.commitAppend(spark, root, Seq((1L, 1L)).toDF("id", "v").coalesce(1))
    val dir = freshRoot("marker_files")
    Seq((2L, 2L)).toDF("id", "v").coalesce(1).write.parquet(dir)
    val files = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.map(WrittenFile(_, Nil))
    val schema = Snapshots.readSnapshot(spark, root).schema
    Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-mk-e1")
    val vMarked = Snapshots.currentVersion(spark, root)
    // appended-files CDC over the marker version serves data files only
    assert(Snapshots.readAppendedSince(spark, root, vMarked - 1).count() == 1L)
    // the DSv2 plain scan of a marker-carrying table stays planned
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load().count() == 2L)
    // a delete commit CARRIES the marker (replay still suppressed)
    Snapshots.commitDelete(spark, root, Seq(1L).toDF("id"))
    assert(Snapshots.commitAppendFilesOnce(spark, root, files, schema,
      "sq-mk-e1") == Snapshots.currentVersion(spark, root))
    // a REPLACE CARRIES markers (round 15, ADVICE r14): a compaction
    // landing between an epoch's commit and its checkpoint write must
    // not reopen the exactly-once window — the replay still dedupes
    Snapshots.commitReplace(spark, root, Snapshots.readSnapshot(spark, root).coalesce(1))
    val vR = Snapshots.currentVersion(spark, root)
    assert(Snapshots.commitAppendFilesOnce(spark, root, files, schema,
      "sq-mk-e1") == vR, "markers survive a REPLACE — epoch replay after compaction dedupes")
    // a LATER epoch of the same writer commits, REPLACES the writer's
    // marker (one per writer — SetTransaction model), and then any
    // OLDER epoch replay dedupes against it via >= comparison
    val vE9 = Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-mk-e9")
    assert(vE9 == vR + 1)
    assert(Snapshots.commitAppendFilesOnce(spark, root, files, schema,
      "sq-mk-e1") == vE9, "older epoch dedupes against the single latest marker")
    assert(Snapshots.commitAppendFilesOnce(spark, root, files, schema,
      "sq-mk-e9") == vE9, "same epoch dedupes")
    // a DIFFERENT writer's marker is independent
    val vQ2 = Snapshots.commitAppendFilesOnce(spark, root, files, schema, "sq-q2-e1")
    assert(vQ2 == vE9 + 1)
    // vacuum never tries to delete a txn id as a file
    Snapshots.vacuum(spark, root, vR)
    assert(Snapshots.readSnapshot(spark, root).count() == 3L)
  }

  test("a long-lived stream holds ONE marker line, not one per epoch") {
    val root = freshRoot("marker_bound")
    Snapshots.commitAppend(spark, root, Seq((1L, 1L)).toDF("id", "v").coalesce(1))
    val dir = freshRoot("marker_bound_files")
    Seq((2L, 2L)).toDF("id", "v").coalesce(1).write.parquet(dir)
    val files = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.map(WrittenFile(_, Nil))
    val schema = Snapshots.readSnapshot(spark, root).schema
    (1 to 8).foreach(e =>
      Snapshots.commitAppendFilesOnce(spark, root, files, schema, s"sq-long-e$e"))
    // manifest text: exactly one T line for writer sq-long (the latest)
    val v = Snapshots.currentVersion(spark, root)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", f"v$v%05d.list")), "UTF-8")
    val tLines = manifest.linesIterator.filter(_.startsWith("T\t")).toSeq
    assert(tLines.size == 1, s"one marker per writer, got: $tLines")
    assert(tLines.head.endsWith("sq-long-e8"))
    assert(Snapshots.readSnapshot(spark, root).count() == 9L)
  }

  test("Complete output mode refuses loudly (append-only sink)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("complete")
    val ckpt = freshRoot("complete_ckpt")
    spark.sql(s"CREATE TABLE snap.`$root` (v BIGINT, n BIGINT)")
    val in = MemoryStream[Long]
    val e = intercept[Exception] {
      val q = in.toDF().toDF("v").groupBy("v").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt).toTable(s"snap.`$root`")
      try { in.addData(1L); q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage != null)
  }
}
