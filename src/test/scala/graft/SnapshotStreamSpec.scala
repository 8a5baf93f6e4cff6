package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** The DSv2 streaming CDC source over the snapshot log
  * (sources/v2/SnapshotStreamSource): version offsets, per-commit
  * micro-batches, checkpoint resume, schema inference, and the loud
  * append-only failure (round 10). */
class SnapshotStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_snapstream/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def tailStream(root: String) =
    spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
      .option("root", root).load()

  private def ckptDir() =
    java.nio.file.Files.createTempDirectory("graft_snapstream_ckpt")

  test("each commit becomes exactly one incremental micro-batch; no recommitted rows") {
    val root = freshRoot("tail")
    Snapshots.commitAppend(spark, root,
      (1 to 4).map(i => (i.toLong, "a")).toDF("id", "tag").coalesce(1))
    val ckpt = ckptDir()
    val q = tailStream(root).writeStream.format("memory")
      .queryName("snapstream_tail").option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      assert(spark.table("snapstream_tail").count() == 4)
      Snapshots.commitAppend(spark, root,
        (5 to 6).map(i => (i.toLong, "b")).toDF("id", "tag").coalesce(1))
      q.processAllAvailable()
      assert(spark.table("snapstream_tail").count() == 6,
        "the second batch must deliver ONLY the appended rows")
      Snapshots.commitAppend(spark, root,
        Seq((7L, "c")).toDF("id", "tag").coalesce(1))
      q.processAllAvailable()
      val rows = spark.table("snapstream_tail").select("id", "tag")
        .as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
        (5L, "b"), (6L, "b"), (7L, "c")))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("a restarted stream resumes from the checkpointed version offset") {
    val root = freshRoot("resume")
    val out = freshRoot("resume_out")
    Snapshots.commitAppend(spark, root,
      (1 to 3).map(i => (i.toLong, "a")).toDF("id", "tag").coalesce(1))
    val ckpt = ckptDir()
    def start() = tailStream(root).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt.toString).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // commits landing while the stream is DOWN
    Snapshots.commitAppend(spark, root,
      (4 to 5).map(i => (i.toLong, "b")).toDF("id", "tag").coalesce(1))
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    val rows = spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
    assert(rows == (1L to 5L), s"resume must deliver 4,5 exactly once, got $rows")
  }

  test("schema inference covers the primitive types and null round-trip") {
    val root = freshRoot("schema")
    val df = Seq((1L, 1, 1.5, "x", true, Some("y")), (2L, 2, 2.5, "z", false, None))
      .toDF("l", "i", "d", "s", "b", "opt").coalesce(1)
    Snapshots.commitAppend(spark, root, df)
    val ckpt = ckptDir()
    val q = tailStream(root).writeStream.format("memory")
      .queryName("snapstream_schema").option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      val got = spark.table("snapstream_schema")
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      val rows = got.as[(Long, Int, Double, String, Boolean, Option[String])]
        .collect().toSet
      assert(rows == Set((1L, 1, 1.5, "x", true, Some("y")),
        (2L, 2, 2.5, "z", false, None)))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("maxVersionsPerTrigger throttles a backfill into one-version micro-batches") {
    val root = freshRoot("throttle")
    for (i <- 1 to 3)
      Snapshots.commitAppend(spark, root,
        Seq((i.toLong, s"c$i")).toDF("id", "tag").coalesce(1))
    def run(throttled: Boolean): Int = {
      val ckpt = ckptDir()
      val base = spark.readStream.format("graft.sources.v2.SnapshotStreamSource")
        .option("root", root)
      val src = (if (throttled) base.option("maxVersionsPerTrigger", "1") else base).load()
      val sink = s"snapstream_throttle_$throttled"
      val q = src.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        q.processAllAvailable()
        assert(spark.table(sink).count() == 3, "all three commits delivered either way")
        q.recentProgress.count(_.numInputRows > 0)
      } finally {
        q.stop()
        org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      }
    }
    assert(run(throttled = false) == 1, "unthrottled backfill = one catch-up batch")
    assert(run(throttled = true) == 3, "throttled backfill = one batch per version")
  }

  test("latestOffset honors the engine-passed ReadLimit, not just the constructor option") {
    // ADVICE r10 #4: getDefaultReadLimit advertises maxFiles, so the
    // engine may legally drive admission control through the limit
    // PARAMETER (Trigger.AvailableNow composes limits this way); the
    // round-10 form ignored it. Drive the MicroBatchStream directly.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot("readlimit")
    for (i <- 1 to 3)
      Snapshots.commitAppend(spark, root,
        Seq((i.toLong, s"c$i")).toDF("id", "tag").coalesce(1))
    val schema = graft.sources.v2.SnapshotStreamSource.inferFromLatest(spark, root)
    def stream(opt: Option[Long]) =
      new graft.sources.v2.SnapshotMicroBatchStream(root, schema, opt)
    val s = stream(None)
    val o0 = s.initialOffset()
    // engine-passed maxFiles(1) caps the batch at one version
    assert(s.latestOffset(o0, ReadLimit.maxFiles(1)).json() == "1")
    assert(s.latestOffset(o0, ReadLimit.maxFiles(2)).json() == "2")
    // allAvailable reads to current
    assert(s.latestOffset(o0, ReadLimit.allAvailable()).json() == "3")
    // composite: tightest member wins
    assert(s.latestOffset(o0, ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(2), ReadLimit.maxFiles(1)))).json() == "1")
    // constructor option still binds when it is TIGHTER than the limit
    val t = stream(Some(1L))
    assert(t.latestOffset(o0, ReadLimit.maxFiles(2)).json() == "1")
    // and the engine limit binds when IT is tighter than the option
    val u = stream(Some(2L))
    assert(u.latestOffset(o0, ReadLimit.maxFiles(1)).json() == "1")
  }

  // -------------------------------------------------------------------
  // SnapshotBatchSource: DSv2 batch read with pushdown-driven skipping
  // -------------------------------------------------------------------

  private def rangedTable4(name: String): String = {
    val root = freshRoot(name)
    for (k <- 0 to 3)
      Snapshots.commitAppend(spark, root,
        (k * 10 + 1 to k * 10 + 10).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
          .coalesce(1))
    root
  }

  private def batchRead(root: String) =
    spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load()

  test("batch source: a Catalyst-pushed filter prunes input partitions; result exact") {
    val root = rangedTable4("dsv2skip")
    val df = batchRead(root)
    assert(df.rdd.getNumPartitions == 4, "one partition per file unfiltered")
    val filtered = df.filter(col("id") <= 10)
    // the ORDINARY .filter drove file skipping — no special API
    assert(filtered.rdd.getNumPartitions == 1,
      "pushdown must plan only the one file whose range can match")
    val expect = Snapshots.readSnapshot(spark, root).filter(col("id") <= 10)
      .orderBy("id").collect().toSeq
    assert(filtered.orderBy("id").collect().toSeq == expect)
    // a fully-pruned scan plans ZERO partitions and returns empty
    val none = df.filter(col("id") > 1000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0L)
  }

  test("batch source: column pruning projects the parquet read; values exact") {
    val root = rangedTable4("dsv2proj")
    val tags = batchRead(root).filter(col("id") <= 10).select("tag")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(tags == (1 to 10).map(i => s"t$i").sorted)
    // count(*) survives the empty-projection path
    assert(batchRead(root).count() == 40L)
  }

  test("batch source: runtime filters prune files at execution (the DPP shape)") {
    import org.apache.spark.sql.sources.{Filter => SFilter, In}
    val root = rangedTable4("dsv2rt")
    val schema = graft.sources.v2.SnapshotStreamSource.inferFromLatest(spark, root)
    val scan = new graft.sources.v2.SnapshotBatchScan(root, -1L, schema, schema, Array.empty)
    assert(scan.planInputPartitions().length == 4)
    // the engine delivers the dim side's key set at execution: only the
    // files whose ranges can hold a key stay planned
    scan.filter(Array[SFilter](In("id", Array(5L, 7L))))
    assert(scan.planInputPartitions().length == 1,
      "runtime In over one range must keep one file")
    scan.filter(Array[SFilter](In("id", Array(5L, 35L))))
    assert(scan.planInputPartitions().length == 2)
    // a broadcast join over the source stays CORRECT whether or not the
    // engine chooses to deliver runtime filters
    val dim = Seq(5L, 35L).toDF("id")
    val joined = batchRead(root).join(broadcast(dim), "id")
    assert(joined.collect().map(_.getString(1)).sorted.toSeq == Seq("t35", "t5"))
  }

  test("batch source: ungrouped count/min/max collapse to one manifest row (aggregate pushdown)") {
    val root = rangedTable4("dsv2agg")
    val df = batchRead(root)
    val out = df.agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    assert(out.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "the aggregation must be answered from the manifest, zero files opened")
    assert(out.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((40L, 1L, 40L)))
    // declined shapes stay on the ordinary scan and stay correct
    val grouped = df.groupBy("tag").count()
    assert(!grouped.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(grouped.count() == 40L)
    val filtered = df.filter(col("id") <= 10).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(filtered.head.getLong(0) == 10L)
    val str = df.agg(min("tag"))
    assert(!str.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(str.head.getString(0) == "t1")
  }

  test("batch source: planner statistics reflect the PRUNED scan, not the table") {
    import org.apache.spark.sql.sources.{Filter => SFilter, LessThanOrEqual}
    val root = rangedTable4("dsv2stats")
    val schema = graft.sources.v2.SnapshotStreamSource.inferFromLatest(spark, root)
    def statsOf(pushed: Array[SFilter]) = {
      val st = new graft.sources.v2.SnapshotBatchScan(root, -1L, schema, schema, pushed)
        .estimateStatistics()
      (st.numRows(), st.sizeInBytes())
    }
    val (fullRows, fullBytes) = statsOf(Array.empty)
    assert(fullRows.getAsLong == 40L, "manifest row count feeds the planner")
    assert(fullBytes.isPresent && fullBytes.getAsLong > 0L)
    val (selRows, selBytes) = statsOf(Array(LessThanOrEqual("id", 10L)))
    assert(selRows.getAsLong == 10L,
      "a selective scan reports its post-prune row count")
    assert(selBytes.getAsLong < fullBytes.getAsLong,
      "post-prune bytes shrink with the file set — what lets Spark " +
        "auto-broadcast a selective read of a huge table")
  }

  test("batch source: version pin time-travels; deletes serve through the reader (r13)") {
    val root = rangedTable4("dsv2ver")
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).option("version", "2").load().count() == 20L)
    // round 13 (VERDICT r12 ask #1): a delete no longer throws — the
    // DSv2 reader applies it in-task, identical to readSnapshot
    Snapshots.commitDelete(spark, root, Seq(5L).toDF("id"))
    assert(batchRead(root).count() == 39L)
    assert(batchRead(root).filter(col("id") === 5L).count() == 0L)
    // the version pin still reads the pre-delete state
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).option("version", "4").load().count() == 40L)
  }

  test("ReadMaxFiles is a cumulative FILE budget across versions, not a version cap") {
    // ADVICE r11 #4: the round-11 form counted ReadMaxFiles in
    // VERSIONS, so a version listing many files admitted up to
    // files-per-version × the requested count. Now versions are
    // admitted while their cumulative appended-file total fits the
    // budget — at least one version always (progress floor).
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = freshRoot("filebudget")
    for (i <- 1 to 3) // each version appends TWO files
      Snapshots.commitAppend(spark, root,
        Seq((i.toLong, "a"), (i + 10L, "b")).toDF("id", "tag").repartition(2))
    assert(graft.sources.Manifest.walk(spark, root, 0L, Iterator(1L)).next().added.count(_.kind == "A") == 2L)
    val schema = graft.sources.v2.SnapshotStreamSource.inferFromLatest(spark, root)
    val s = new graft.sources.v2.SnapshotMicroBatchStream(root, schema)
    val o0 = s.initialOffset()
    // budget 4 admits v1+v2 (4 files), not v3 (would be 6)
    assert(s.latestOffset(o0, ReadLimit.maxFiles(4)).json() == "2")
    // budget 3 admits only v1 (v2 would overflow to 4)
    assert(s.latestOffset(o0, ReadLimit.maxFiles(3)).json() == "1")
    // budget 1 < one version's files: the progress floor still admits v1
    assert(s.latestOffset(o0, ReadLimit.maxFiles(1)).json() == "1")
    // the user-facing option drives the same budget via the default limit
    val t = new graft.sources.v2.SnapshotMicroBatchStream(root, schema,
      maxFilesPerTrigger = Some(4L))
    assert(t.getDefaultReadLimit.isInstanceOf[
      org.apache.spark.sql.connector.read.streaming.ReadMaxFiles])
    assert(t.latestOffset(o0, t.getDefaultReadLimit).json() == "2")
    // version cap and file budget compose: tightest wins
    val u = new graft.sources.v2.SnapshotMicroBatchStream(root, schema,
      maxVersionsPerTrigger = Some(1L), maxFilesPerTrigger = Some(4L))
    assert(u.latestOffset(o0, u.getDefaultReadLimit).json() == "1")
  }

  test("a REPLACE while tailing fails the stream loudly (append-only contract)") {
    val root = freshRoot("replace")
    Snapshots.commitAppend(spark, root,
      (1 to 3).map(i => (i.toLong, "a")).toDF("id", "tag").coalesce(1))
    val ckpt = ckptDir()
    val q = tailStream(root).writeStream.format("memory")
      .queryName("snapstream_replace").option("checkpointLocation", ckpt.toString).start()
    try {
      q.processAllAvailable()
      Snapshots.commitReplace(spark, root, Seq((9L, "r")).toDF("id", "tag").coalesce(1))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally {
      try q.stop() catch { case _: Throwable => () }
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }
}
