package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.plans.{DeleteScope, SnapshotDeleteFilter}
import graft.sources.Snapshots

/** The snapshot read path's planning contracts: building a
  * `readSnapshot` / `readSnapshotPruned` frame starts no Spark job
  * (schemas come from footers on the driver), deletes apply inside the
  * scan as one codegen'd predicate whose answer does not depend on the
  * physical regime, and the frame reads exactly the live data files.
  * The DSv2 read of an evolved table with deletes is regime-independent
  * too. */
class SnapshotReadPlanSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_readplan/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  /** Appends over several files, then a delete, then a merge: versions
    * 1–3 carry no delete file, versions 4–5 do. */
  private lazy val root: String = {
    val r = freshRoot("lake")
    for (b <- 0 until 3)
      Snapshots.commitAppend(spark, r, (1 to 200).map { i =>
        val id = b * 200L + i
        (id, (id % 7).toInt, id * 0.5, s"t$id")
      }.toDF("id", "grp", "value", "tag").repartition(2))
    Snapshots.commitDelete(spark, r, (1L to 600L by 9).toDF("id"))
    Snapshots.commitMerge(spark, r,
      (5L to 300L by 5).map(id => (id, 99, -1.0, s"m$id")).toDF("id", "grp", "value", "tag"),
      Seq("id"))
    r
  }

  /** A tracked table whose `grp` column was re-typed INT → STRING
    * between two appends, with deletes keyed on `id` and on `grp`. */
  private lazy val evolved: String = {
    val r = freshRoot("evolved")
    Snapshots.commitAppend(spark, r, (1 to 300).map(i => (i.toLong, i % 7, s"t$i"))
      .toDF("id", "grp", "tag").repartition(2))
    Snapshots.initSchema(spark, r)
    Snapshots.alterColumnType(spark, r, "grp", "STRING")
    Snapshots.commitAppend(spark, r, (301 to 500).map(i => (i.toLong, s"g${i % 5}", s"t$i"))
      .toDF("id", "grp", "tag").repartition(2))
    Snapshots.commitDelete(spark, r, (1L to 500L by 7).toDF("id"))
    Snapshots.commitDelete(spark, r, Seq("3", "g2").toDF("grp"))
    r
  }

  private def dsv2(root: String): DataFrame =
    spark.read.format("graft.sources.v2.SnapshotBatchSource").option("root", root).load()

  private val pruned = Seq(GreaterThanOrEqual("id", 150L), LessThanOrEqual("id", 420L))

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

  private def sorted(df: DataFrame) = df.orderBy("id", "tag").collect().toSeq

  test("building a snapshot read starts no Spark job, with and without deletes") {
    val r = root // the commits run jobs; build the table first
    for (v <- Seq(3L, 5L)) {
      assert(jobsDuring(Snapshots.readSnapshot(spark, r, v)) == 0, s"readSnapshot v$v")
      assert(jobsDuring(Snapshots.readSnapshotPruned(spark, r, pruned, v)) == 0,
        s"readSnapshotPruned v$v")
    }
  }

  test("a delete-carrying read gives the same rows under every physical regime") {
    val want = sorted(Snapshots.readSnapshot(spark, root))
    val wantPruned = sorted(Snapshots.readSnapshotPruned(spark, root, pruned))
    // 600 rows, 67 deleted, 53 more replaced by the merge's 60
    assert(want.size == 540 && wantPruned.nonEmpty)
    val wantDsv2 = sorted(dsv2(evolved))
    assert(wantDsv2 == sorted(Snapshots.readSnapshot(spark, evolved)))
    assert(wantDsv2.nonEmpty && wantDsv2.size < 500)
    val regimes = Seq(
      Map("spark.sql.adaptive.enabled" -> "false"),
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.codegen.wholeStage" -> "false"))
    for (conf <- regimes) {
      val before = conf.keys.map(k => k -> spark.conf.getOption(k))
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        assert(sorted(Snapshots.readSnapshot(spark, root)) == want, conf.toString)
        assert(sorted(Snapshots.readSnapshotPruned(spark, root, pruned)) == wantPruned,
          conf.toString)
        assert(sorted(dsv2(evolved)) == wantDsv2, s"DSv2 $conf")
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Plan traversal that descends into adaptive query stages. */
  private object Stages extends AdaptiveSparkPlanHelper

  test("the executed plan applies deletes in the scan with no join and no CodegenFallback") {
    val df = Snapshots.readSnapshot(spark, root).groupBy("grp").agg(sum("value"))
    df.collect()
    val plan = df.queryExecution.executedPlan
    val exprs = Stages.collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[SnapshotDeleteFilter]), plan.toString)
    assert(!exprs.exists(_.isInstanceOf[CodegenFallback]), plan.toString)
    assert(Stages.collect(plan) { case j if j.nodeName.contains("Join") => j }.isEmpty,
      plan.toString)
  }

  test("a DSv2 scan plan reads its pinned manifest once") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[ManifestCountingFs].getName)
    for (r <- Seq(root, evolved)) {
      // the same table through a scheme that counts manifest opens
      val df = dsv2(s"countfs://$r").filter(col("id") >= 150L).select("id", "tag")
      ManifestCountingFs.opens.set(0)
      val got = sorted(df)
      assert(ManifestCountingFs.opens.get == 1, s"$r: manifest opens")
      assert(got == sorted(dsv2(r).filter(col("id") >= 150L).select("id", "tag")))
    }
  }

  test("a pushed-down aggregate reads its pinned manifest once") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[ManifestCountingFs].getName)
    // delete-free, one file per commit, `grp` single-valued per file
    val r = freshRoot("aggs")
    for (b <- 0 until 3)
      Snapshots.commitAppend(spark, r, (1 to 50).map(i => (b * 50L + i, b))
        .toDF("id", "grp").coalesce(1))
    val aggs = Seq[(String, DataFrame => DataFrame)](
      "ungrouped" -> (_.agg(count(lit(1)), min("id"), max("id"))),
      "grouped" -> (_.groupBy("grp").agg(count(lit(1)), min("id"), max("id"))))
    for ((name, agg) <- aggs) {
      val q = agg(dsv2(s"countfs://$r"))
      ManifestCountingFs.opens.set(0)
      val plan = q.queryExecution.executedPlan.toString
      assert(ManifestCountingFs.opens.get == 1,
        s"$name: ${ManifestCountingFs.opens.get} manifest opens at planning")
      assert(plan.contains("PushedAggregates"), s"$name: not pushed down\n$plan")
      assert(q.collect().map(_.toString).sorted.toSeq ==
        agg(Snapshots.readSnapshot(spark, r)).collect().map(_.toString).sorted.toSeq, name)
    }
  }

  test("inputFiles lists exactly the live data files") {
    for (v <- Seq(3L, 5L)) {
      val live = Snapshots.fileInfos(spark, root, v).map(f => Snapshots.normPath(f._1)).toSet
      val read = Snapshots.readSnapshot(spark, root, v).inputFiles.map(DeleteScope.barePath).toSet
      assert(read == live, s"v$v")
    }
  }
}

/** The local file system under the scheme `countfs`, counting opens of
  * manifest (`.list`) files. */
class ManifestCountingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".list")) ManifestCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object ManifestCountingFs {
  val opens = new AtomicInteger(0)
}
