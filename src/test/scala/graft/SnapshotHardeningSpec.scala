package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

import graft.sources.{SnapshotRead, Snapshots}
import graft.sources.v2.WrittenFile

/** Round-14 hardening of the snapshot commit/prune layer (VERDICT r13
  * ask #5 + ADVICE r13):
  *  - reserved-key collision: a DATA column literally named `__rows`
  *    never prunes against file row counts (ADVICE r12 low #2);
  *  - publish retry budget derives from the claim lease, so orphan
  *    takeover always fits inside it (ADVICE r12 low #3);
  *  - the admission-control file-count walk is LAZY — O(admitted)
  *    manifest reads, not O(backlog) (ADVICE r12 low #4);
  *  - clustering compaction validates its read set at publish and
  *    retries instead of silently dropping a concurrent commit
  *    (ADVICE r13 medium #2);
  *  - pre-fix manifests with 'l'-tagged decimal bounds degrade to
  *    keep-everything under decimal predicates (ADVICE r13 low #1).
  */
class SnapshotHardeningSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_hardening/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  test("a data column named __rows never prunes against file row counts") {
    val root = freshRoot("reserved")
    // two files of 5 rows each; the DATA column __rows holds values far
    // from 5 — the pre-fix keyer resolved the attribute to the reserved
    // file fact and pruned both files for __rows = 600
    val df = (1 to 10).map(i => (i, 500L + i * 10)).toDF("id", "__rows")
    Snapshots.commitAppend(spark, root, df.filter(col("id") <= 5).coalesce(1))
    Snapshots.commitAppend(spark, root, df.filter(col("id") > 5).coalesce(1))
    val f = Seq(EqualTo("__rows", 600L))
    assert(Snapshots.pruneCounts(spark, root, f) == (2L, 2L),
      "files must be KEPT — __rows is a data column here, not the file fact")
    val got = Snapshots.readSnapshotPruned(spark, root, f).collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(10))
  }

  test("publish retry budget derives from the lease") {
    assert(graft.sources.Commit.publishDeadlineMs(30000L) == 60000L)
    assert(graft.sources.Commit.publishDeadlineMs(45000L) == 90000L)
    assert(graft.sources.Commit.publishDeadlineMs(10L * 60 * 1000) == 20L * 60 * 1000)
    val huge = graft.sources.Commit.publishDeadlineMs(Long.MaxValue)
    assert(huge > 0 && huge == Long.MaxValue / 2, "must saturate, not overflow")
  }

  test("appendedFileCountsIter is lazy — manifests read only as consumed") {
    val root = freshRoot("lazyiter")
    for (k <- 1 to 4)
      Snapshots.commitAppend(spark, root, Seq((k, k)).toDF("a", "b").coalesce(1))
    // remove version 4's manifest: an EAGER walk over (0, 4] would throw
    // at construction; the lazy iterator serves v1..v3 and only fails
    // when the consumer actually reaches v4
    val m4 = new Path(root, "_manifests/v00004.list")
    m4.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m4, false)
    val it = graft.sources.Manifest.walk(spark, root, 0L, (1L to 4L).iterator)
      .map(_.added.count(_.kind == "A").toLong)
    assert(it.next() == 1L && it.next() == 1L && it.next() == 1L)
    intercept[IllegalArgumentException] { it.next() }
  }

  test("clustering compaction aborts on a concurrent commit instead of dropping it") {
    val root = freshRoot("cluster_rmw")
    Snapshots.commitAppend(spark, root,
      (1 to 20).map(i => (i.toLong, i % 3)).toDF("id", "g").coalesce(2))
    // capture the read set a rewrite would have consumed at v1
    val manifest = new Path(root, "_manifests/v00001.list")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(manifest)
    val consumed =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.startsWith("A\t") || l.startsWith("D\t")).toSet
      finally in.close()
    // a concurrent append lands after the read
    Snapshots.commitAppend(spark, root, Seq((99L, 0)).toDF("id", "g").coalesce(1))
    // the stale rewrite must NOT publish (it would drop id=99)
    val dir = freshRoot("cluster_rmw_files")
    (1L to 20L).map(i => (i, (i % 3).toInt)).toDF("id", "g").coalesce(1)
      .write.parquet(dir)
    val mine = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet")).toSeq.map(WrittenFile(_, Nil))
    intercept[Snapshots.ConcurrentTableChangeException] {
      Snapshots.commitReplaceFiles(spark, root, mine,
        Snapshots.readSnapshot(spark, root).schema, Some(consumed))
    }
    // the table is undamaged and the PUBLIC clustering path (which
    // re-reads fresh state) still lands with every row intact
    Snapshots.commitReplaceClustered(spark, root, Seq("id"), 2)
    val ids = Snapshots.readSnapshot(spark, root).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((1L to 20L) :+ 99L).sorted)
  }

  test("orphan sweep never touches referenced files, even old ones; tolerates vacuumed history") {
    val root = freshRoot("orphan_safe")
    Snapshots.commitAppend(spark, root,
      (1 to 10).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1))
    Snapshots.commitReplace(spark, root,
      Snapshots.readSnapshot(spark, root).coalesce(1))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // age EVERY file far past the grace: referenced files (current AND
    // the time-travel-reachable v1 file) must still survive
    val it = fs.listFiles(new Path(root, "data"), true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) fs.setTimes(st.getPath, 1000L, -1)
    }
    // commits leave no marker files, and every DATA file is referenced
    // by SOME version and must survive — proven by both versions
    // still reading
    val swept = Snapshots.removeOrphanFiles(spark, root, graceMs = 1L)
    assert(swept == 0L, s"nothing unreferenced to sweep, got $swept")
    assert(Snapshots.readSnapshot(spark, root, 1).count() == 10L)
    assert(Snapshots.readSnapshot(spark, root).count() == 10L)
    assert(Snapshots.removeOrphanFiles(spark, root, graceMs = 1L) == 0L,
      "idempotent: a second sweep finds nothing")
    // vacuum v1 away: its file becomes unreferenced and NOW sweepable
    Snapshots.vacuum(spark, root, keepFrom = 2L)
    assert(Snapshots.removeOrphanFiles(spark, root, graceMs = 1L) == 0L,
      "vacuum already deleted the v1 file; the sweep finds nothing and " +
        "tolerates the missing manifest")
    assert(Snapshots.readSnapshot(spark, root).count() == 10L)
  }

  test("stale 'l'-tagged decimal bounds degrade to keep, never unsound pruning") {
    // a pre-fix manifest stored DECIMAL bounds UNSCALED under tag 'l';
    // the pushed predicate value for a decimal column is a BigDecimal —
    // the pair is now incomparable by decree (keep)
    val stale = Map("d" -> graft.sources.FileStats.ColStats('l', "12345", "12345"))
    val keyer: String => Option[String] = n => Some(n)
    assert(SnapshotRead.mayMatch(stale, keyer, EqualTo("d", new java.math.BigDecimal("1.2345"))),
      "a decimal predicate against 'l' bounds must KEEP the file")
    assert(SnapshotRead.mayMatch(stale, keyer, EqualTo("d", BigDecimal("999999"))))
    // genuine longs still compare (and prune) exactly
    assert(!SnapshotRead.mayMatch(stale, keyer, EqualTo("d", 999L)))
    assert(SnapshotRead.mayMatch(stale, keyer, EqualTo("d", 12345L)))
    // fresh 'm' stats compare decimals in value space
    val fresh = Map("d" -> graft.sources.FileStats.ColStats('m', "1.10", "2.20"))
    assert(SnapshotRead.mayMatch(fresh, keyer, EqualTo("d", new java.math.BigDecimal("1.50"))))
    assert(!SnapshotRead.mayMatch(fresh, keyer, EqualTo("d", new java.math.BigDecimal("9.99"))))
  }
}
