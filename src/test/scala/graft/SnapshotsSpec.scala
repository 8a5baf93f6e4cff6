package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.Snapshots
import graft.sources.v2.WrittenFile

/** The manifest-versioned commit protocol, exercised directly: append /
  * replace visibility, snapshot isolation under concurrent commits,
  * time travel, crash-invisible `.tmp` manifests, and vacuum's
  * keep-boundary semantics (round 10). */
class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_snapspec/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def table(n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")

  /** Append `df` as one file published WITHOUT manifest stats. */
  private def appendStatsless(root: String, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val dir = s"$root/data/c-$name"
    df.coalesce(1).write.parquet(dir)
    val file = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new Path(dir)).map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    Snapshots.commitAppendFiles(spark, root, Seq(WrittenFile(file, Nil)), df.schema)
  }

  test("append carries prior files; replace starts a fresh list; both read back exactly") {
    val root = freshRoot("basic")
    assert(Snapshots.currentVersion(spark, root) == 0L)
    val v1 = Snapshots.commitAppend(spark, root, table(10, "a").coalesce(1))
    val v2 = Snapshots.commitAppend(spark, root, table(5, "b").coalesce(1))
    assert((v1, v2) == (1L, 2L))
    assert(Snapshots.readSnapshot(spark, root, v1).count() == 10)
    assert(Snapshots.readSnapshot(spark, root, v2).count() == 15)
    assert(Snapshots.fileCount(spark, root, v2) == 2)
    val v3 = Snapshots.commitReplace(spark, root, table(3, "c").coalesce(1))
    assert(Snapshots.readSnapshot(spark, root, v3).count() == 3)
    assert(Snapshots.fileCount(spark, root, v3) == 1)
    // time travel below the replace still reads the old data
    assert(Snapshots.readSnapshot(spark, root, v2).count() == 15)
    // default read = current version
    assert(Snapshots.readSnapshot(spark, root).count() == 3)
  }

  test("snapshot isolation: a reader pinned before later commits is unaffected by them") {
    val root = freshRoot("iso")
    val v1 = Snapshots.commitAppend(spark, root, table(7, "a").coalesce(1))
    val pinned = Snapshots.readSnapshot(spark, root, v1)
    Snapshots.commitAppend(spark, root, table(100, "b").coalesce(1))
    Snapshots.commitReplace(spark, root, table(1, "c").coalesce(1))
    assert(pinned.count() == 7, "pinned reader must see only its frozen manifest")
    assert(pinned.filter(col("tag") =!= "a").count() == 0)
  }

  test("a .tmp manifest from a writer killed mid-commit is invisible") {
    val root = freshRoot("crash")
    Snapshots.commitAppend(spark, root, table(4, "a").coalesce(1))
    // simulate the crash: a half-written v2 manifest that never renamed
    val tmp = new Path(root, "_manifests/v00002.list.tmp")
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    out.write("bogus/path.parquet\n".getBytes("UTF-8")); out.close()
    assert(Snapshots.currentVersion(spark, root) == 1L)
    assert(Snapshots.readSnapshot(spark, root).count() == 4)
    // the next real commit claims version 2 normally
    val v2 = Snapshots.commitAppend(spark, root, table(2, "b").coalesce(1))
    assert(v2 == 2L && Snapshots.readSnapshot(spark, root, v2).count() == 6)
  }

  test("vacuum deletes only files unreachable from kept versions; kept reads survive") {
    val root = freshRoot("vacuum")
    val v1 = Snapshots.commitAppend(spark, root, table(10, "a").coalesce(1))
    val v2 = Snapshots.commitAppend(spark, root, table(5, "b").coalesce(1))
    val v3 = Snapshots.commitReplace(spark, root, table(3, "c").coalesce(1))
    // keep from v2: v1's file is STILL referenced by v2 (append carry) →
    // nothing deletable except... nothing; manifest v1 goes away
    val d1 = Snapshots.vacuum(spark, root, keepFrom = v2)
    assert(d1 == 0L, "v1's data is carried by v2's manifest and must survive")
    intercept[IllegalArgumentException] { Snapshots.readSnapshot(spark, root, v1) }
    assert(Snapshots.readSnapshot(spark, root, v2).count() == 15)
    // keep from v3: the replace references neither append file → both go
    val d2 = Snapshots.vacuum(spark, root, keepFrom = v3)
    assert(d2 == 2L)
    assert(Snapshots.readSnapshot(spark, root, v3).count() == 3)
  }

  test("readAppendedSince reads exactly the delta; a REPLACE in between fails the append-only contract") {
    val root = freshRoot("cdc")
    val v1 = Snapshots.commitAppend(spark, root, table(6, "a").coalesce(1))
    val v2 = Snapshots.commitAppend(spark, root, table(4, "b").coalesce(1))
    val delta = Snapshots.readAppendedSince(spark, root, v1, v2)
    assert(delta.count() == 4)
    assert(delta.filter(col("tag") =!= "b").count() == 0,
      "the delta must contain ONLY the appended commit's rows")
    val v3 = Snapshots.commitReplace(spark, root, table(2, "c").coalesce(1))
    val e = intercept[IllegalArgumentException] {
      Snapshots.readAppendedSince(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("append-only"))
  }

  test("equality deletes: merge-on-read drops matching rows; pinned readers keep them; re-insert survives") {
    val root = freshRoot("del")
    val v1 = Snapshots.commitAppend(spark, root, table(10, "a").coalesce(1))
    val v2 = Snapshots.commitDelete(spark, root, Seq(2L, 4L, 6L).toDF("id"))
    assert(v2 == 2L)
    val afterDel = Snapshots.readSnapshot(spark, root, v2)
    assert(afterDel.count() == 7)
    assert(afterDel.filter(col("id").isin(2L, 4L, 6L)).count() == 0)
    // snapshot isolation covers deletes: the v1 reader still sees all 10
    assert(Snapshots.readSnapshot(spark, root, v1).count() == 10)
    // sequence scoping: re-inserting a deleted key AFTER the delete survives
    val v3 = Snapshots.commitAppend(spark, root, Seq((4L, "re")).toDF("id", "tag").coalesce(1))
    val afterRe = Snapshots.readSnapshot(spark, root, v3)
    assert(afterRe.count() == 8)
    assert(afterRe.filter(col("id") === 4L).select("tag").as[String].collect().toSeq == Seq("re"),
      "only the re-inserted copy of id=4 may survive")
    // a second delete (later version) kills the re-insert too; deletes accumulate
    val v4 = Snapshots.commitDelete(spark, root, Seq(4L, 8L).toDF("id"))
    val afterDel2 = Snapshots.readSnapshot(spark, root, v4)
    assert(afterDel2.count() == 6)
    assert(afterDel2.filter(col("id").isin(2L, 4L, 6L, 8L)).count() == 0)
    // a REPLACE materializes deletes away: fresh table, no delete entries
    val v5 = Snapshots.commitReplace(spark, root, Snapshots.readSnapshot(spark, root, v4).coalesce(1))
    assert(Snapshots.readSnapshot(spark, root, v5).count() == 6)
    // after the purge, re-inserting a previously deleted key is clean
    val v6 = Snapshots.commitAppend(spark, root, Seq((2L, "back")).toDF("id", "tag").coalesce(1))
    assert(Snapshots.readSnapshot(spark, root, v6).filter(col("id") === 2L).count() == 1)
  }

  test("commitMerge: one atomic version upserts — updates replace, inserts land, rest untouched") {
    val root = freshRoot("merge")
    val v1 = Snapshots.commitAppend(spark, root, table(6, "orig").coalesce(1))
    // update ids 2,4; insert id 9 — all in ONE commit
    val v2 = Snapshots.commitMerge(spark, root,
      Seq((2L, "upd"), (4L, "upd"), (9L, "new")).toDF("id", "tag").coalesce(1),
      keyCols = Seq("id"))
    assert(v2 == 2L)
    val rows = Snapshots.readSnapshot(spark, root, v2)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "orig", 2L -> "upd", 3L -> "orig",
      4L -> "upd", 5L -> "orig", 6L -> "orig", 9L -> "new"))
    // atomicity/isolation: the pinned v1 reader sees none of the merge
    assert(Snapshots.readSnapshot(spark, root, v1)
      .filter(col("tag") =!= "orig").count() == 0)
    // a later delete still kills merged rows (sequence order respected)
    val v3 = Snapshots.commitDelete(spark, root, Seq(2L).toDF("id"))
    assert(Snapshots.readSnapshot(spark, root, v3).count() == 6)
  }

  test("readAppendedSince refuses a range containing a delete commit") {
    val root = freshRoot("cdcdel")
    val v1 = Snapshots.commitAppend(spark, root, table(6, "a").coalesce(1))
    Snapshots.commitDelete(spark, root, Seq(1L).toDF("id"))
    val v3 = Snapshots.commitAppend(spark, root, table(3, "b").coalesce(1))
    val e = intercept[IllegalArgumentException] {
      Snapshots.readAppendedSince(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("row deletes"))
  }

  test("additive schema evolution: merged read NULLs old rows' new columns; evolution composes with deletes") {
    val root = freshRoot("evo")
    Snapshots.commitAppend(spark, root, Seq((1L, "a"), (2L, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((3L, "b", 30L), (4L, "b", 40L)).toDF("id", "tag", "extra").coalesce(1))
    val merged = Snapshots.readSnapshot(spark, root, mergeSchema = true)
      .select("id", "tag", "extra").as[(Long, String, Option[Long])].collect().toSet
    assert(merged == Set((1L, "a", None), (2L, "a", None),
      (3L, "b", Some(30L)), (4L, "b", Some(40L))))
    // the merge-on-read delete path still works on the evolved table
    Snapshots.commitDelete(spark, root, Seq(1L, 3L).toDF("id"))
    val after = Snapshots.readSnapshot(spark, root, mergeSchema = true)
      .select("id").as[Long].collect().toSet
    assert(after == Set(2L, 4L))
  }

  test("snapshotDiff tags row-level adds and dels across a REPLACE") {
    val root = freshRoot("diff")
    val v1 = Snapshots.commitReplace(spark, root, table(6, "a").coalesce(1))   // ids 1..6
    val v2 = Snapshots.commitReplace(spark, root,
      (4 to 9).map(i => (i.toLong, "a")).toDF("id", "tag").coalesce(1))        // ids 4..9
    val diff = Snapshots.snapshotDiff(spark, root, v1, v2)
      .select("change", "id").as[(String, Long)].collect().toSet
    assert(diff == Set(("add", 7L), ("add", 8L), ("add", 9L),
      ("del", 1L), ("del", 2L), ("del", 3L)))
  }

  test("concurrent appenders all commit; no append is lost; versions are dense") {
    val root = freshRoot("conc")
    val writers = 6
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to writers).map { w =>
      Future(Snapshots.commitAppend(spark, root,
        Seq((w.toLong, s"w$w")).toDF("id", "tag").coalesce(1)))
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds)
    assert(versions.sorted == (1L to writers.toLong),
      s"every writer must win a distinct dense version, got $versions")
    val rows = Snapshots.readSnapshot(spark, root).select("tag").as[String].collect().toSet
    assert(rows == (1 to writers).map(w => s"w$w").toSet, "no append may be lost")
  }

  test("commitMergeOnce commits its marker in its own version; epoch ids keep one marker per writer") {
    val root = freshRoot("once_atomic")
    Snapshots.commitAppend(spark, root, table(4, "orig").coalesce(1))
    val up = Seq((2L, "new")).toDF("id", "tag").coalesce(1)
    val v2 = Snapshots.commitMergeOnce(spark, root, up, Seq("id"), "m-0")
    assert(graft.sources.Manifest.entries(spark, root, v2)
      .exists(e => e.kind == "T" && e.ver == v2 && e.path == "m-0"), "marker in the merge's version")
    val dir = new Path(root, "_manifests")
    val names = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath.getName)
    assert(!names.exists(_.startsWith("txn-")), s"no side file: ${names.mkString(",")}")
    assert(Snapshots.commitMergeOnce(spark, root, up, Seq("id"), "m-0") == v2)
    assert(Snapshots.currentVersion(spark, root) == v2)
    for (e <- 1 to 3) Snapshots.commitMergeOnce(spark, root, up, Seq("id"), s"upsert-e$e")
    val cur = Snapshots.currentVersion(spark, root)
    assert(cur == v2 + 3)
    assert(graft.sources.Manifest.entries(spark, root, cur).filter(_.kind == "T").map(_.path)
      .sorted == Seq("m-0", "upsert-e3"), "one marker per writer")
    assert(Snapshots.commitMergeOnce(spark, root, up, Seq("id"), "upsert-e2") == cur,
      "an older epoch of the same writer is already committed")
    assert(Snapshots.readSnapshot(spark, root).count() == 4L)
  }

  test("commitMergeOnce: a replayed txn id is skipped; an unmarked replay still converges (idempotent merge)") {
    val root = freshRoot("once")
    Snapshots.commitAppend(spark, root, table(4, "orig").coalesce(1))
    val up = Seq((2L, "new")).toDF("id", "tag").coalesce(1)
    val v2 = Snapshots.commitMergeOnce(spark, root, up, Seq("id"), "b-0")
    assert(v2 == 2L)
    // replay with the SAME txn id: no new version
    assert(Snapshots.commitMergeOnce(spark, root, up, Seq("id"), "b-0") == 2L)
    assert(Snapshots.currentVersion(spark, root) == 2L)
    // crash-window simulation: the commit landed but the marker didn't —
    // an unmarked replay re-merges, creating a version but the SAME state
    val v3 = Snapshots.commitMerge(spark, root, up, Seq("id"))
    assert(v3 == 3L)
    val rows = Snapshots.readSnapshot(spark, root)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "orig", 2L -> "new", 3L -> "orig", 4L -> "orig"))
  }

  test("model-based protocol check: random append/delete/merge/replace sequences match a reference model at EVERY version") {
    // The executable semantics of the whole commit surface, checked
    // against an in-memory model under randomized (seeded, reproducible)
    // op sequences — every historical version must read back exactly the
    // model's multiset (snapshot isolation + time travel + the
    // strictly-earlier delete-scoping rule, under arbitrary mixes).
    final case class ModelRow(id: Long, tag: String, ver: Long)
    final case class ModelDel(id: Long, ver: Long)
    // round 11: the op mix gains a CRASH action — a writer claims the
    // next version and dies before publishing. The lease takeover must
    // let the NEXT commit recover that exact version number with no
    // manual cleanup and no committed state lost; the per-version
    // read-back below proves versions stay dense and correct across
    // arbitrary crash interleavings.
    spark.conf.set("spark.graft.snapshots.claimLeaseMs", "100")
    try for (seed <- Seq(11, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      def freshRows(n: Int, v: Long): Seq[(Long, String)] =
        (1 to n).map(_ => (rnd.nextInt(12).toLong, s"v$v-${rnd.nextInt(100)}"))
      val root2 = freshRoot(s"model$seed")
      var rs = Vector.empty[ModelRow]; var ds = Vector.empty[ModelDel]
      val exp = scala.collection.mutable.Map.empty[Long, Map[(Long, String), Int]]
      var cur = 0L
      // visibility AT a version — needed since the race action records
      // expectations for TWO versions at once
      def visAt(v: Long): Map[(Long, String), Int] =
        rs.filter(_.ver <= v)
          .filter(r => !ds.exists(d => d.id == r.id && d.ver > r.ver && d.ver <= v))
          .map(r => (r.id, r.tag))
          .groupBy(identity).view.mapValues(_.size).toMap
      def commit(op: Int): Unit = {
        cur += 1
        op match {
          case 0 => // append
            val rws = freshRows(1 + rnd.nextInt(3), cur)
            Snapshots.commitAppend(spark, root2, rws.toDF("id", "tag").coalesce(1))
            rs ++= rws.map { case (i, t) => ModelRow(i, t, cur) }
          case 1 => // delete random keys
            val keys = (1 to 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(12).toLong).distinct
            Snapshots.commitDelete(spark, root2, keys.toDF("id"))
            ds ++= keys.map(ModelDel(_, cur))
          case 2 => // merge (upsert)
            val rws = freshRows(1 + rnd.nextInt(3), cur)
            Snapshots.commitMerge(spark, root2, rws.toDF("id", "tag").coalesce(1), Seq("id"))
            ds ++= rws.map(_._1).distinct.map(ModelDel(_, cur))
            rs ++= rws.map { case (i, t) => ModelRow(i, t, cur) }
          case 3 => // replace (also clears delete files)
            val rws = freshRows(2 + rnd.nextInt(3), cur)
            Snapshots.commitReplace(spark, root2, rws.toDF("id", "tag").coalesce(1))
            rs = rws.map { case (i, t) => ModelRow(i, t, cur) }.toVector
            ds = Vector.empty
        }
        exp(cur) = visAt(cur)
      }
      def crash(): Unit = { // claim cur+1, die before publish
        val cp = new org.apache.hadoop.fs.Path(root2, f"_manifests/v${cur + 1}%05d.claim")
        new java.io.File(cp.toUri.getPath).getParentFile.mkdirs()
        new java.io.File(cp.toUri.getPath).createNewFile()
        Thread.sleep(150) // age the orphan past the 100 ms test lease
      }
      // round 12 (VERDICT r11 ask #4): TWO LIVE WRITERS race the same
      // version. Claim arbitration must serialize them — both land, on
      // consecutive versions, neither lost, each carrying the other's
      // state correctly (the loser rebases via the atomic publish fence)
      def race(): Unit = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val rwsA = freshRows(1 + rnd.nextInt(2), cur + 1)
        val rwsB = freshRows(1 + rnd.nextInt(2), cur + 2)
        val fa = Future(Snapshots.commitAppend(spark, root2,
          rwsA.toDF("id", "tag").coalesce(1)))
        val fb = Future(Snapshots.commitAppend(spark, root2,
          rwsB.toDF("id", "tag").coalesce(1)))
        val va = Await.result(fa, 2.minutes)
        val vb = Await.result(fb, 2.minutes)
        assert(Set(va, vb) == Set(cur + 1, cur + 2),
          s"seed=$seed: racing commits must land on consecutive versions, got ($va, $vb)")
        rs ++= rwsA.map { case (i, t) => ModelRow(i, t, va) }
        rs ++= rwsB.map { case (i, t) => ModelRow(i, t, vb) }
        cur += 1; exp(cur) = visAt(cur)
        cur += 1; exp(cur) = visAt(cur)
      }
      commit(0) // seed the table
      for (_ <- 1 to 8) {
        val a = rnd.nextInt(6)
        if (a == 4) crash() else if (a == 5) race() else commit(a)
      }
      crash(); commit(0) // a takeover always closes the sequence
      race() // and racing writers always close the sequence too
      for ((ver, want) <- exp) {
        val got = Snapshots.readSnapshot(spark, root2, ver)
          .select("id", "tag").as[(Long, String)].collect()
          .groupBy(identity).view.mapValues(_.size).toMap
        assert(got == want, s"seed=$seed version=$ver: got $got want $want")
      }
      // versions are dense: every number up to the model's counter
      // published despite the crashes (no wedged claim survived)
      assert(Snapshots.currentVersion(spark, root2) == cur,
        s"seed=$seed: takeovers must keep versions dense")
    } finally spark.conf.unset("spark.graft.snapshots.claimLeaseMs")
  }

  test("two live writers under an aggressive lease: every commit lands exactly once") {
    // lease 1 ms: every held claim is instantly breakable, so takeovers
    // and zombie publishes fire CONSTANTLY — the adversarial schedule
    // for the round-12 rebase contract. Whatever the interleaving, the
    // atomic publish fence plus rebase must land all 2×4 commits on
    // distinct consecutive versions with zero lost rows.
    val root = freshRoot("race2")
    Snapshots.commitAppend(spark, root, table(1, "seed").coalesce(1))
    spark.conf.set("spark.graft.snapshots.claimLeaseMs", "1")
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val n = 4
      val fs = (1 to 2).map { w =>
        Future {
          (1 to n).map { i =>
            Snapshots.commitAppend(spark, root,
              Seq((w * 1000L + i, s"w$w-$i")).toDF("id", "tag").coalesce(1))
          }
        }
      }
      val versions = Await.result(Future.sequence(fs), 5.minutes).flatten
      assert(versions.toSet.size == 2 * n, s"no two commits may share a version: $versions")
      assert(Snapshots.currentVersion(spark, root) == 1L + 2 * n,
        "versions stay dense under constant takeovers")
      assert(Snapshots.readSnapshot(spark, root).count() == 1L + 2 * n,
        "no commit's rows were lost")
    } finally spark.conf.unset("spark.graft.snapshots.claimLeaseMs")
  }

  test("normPath: driver side and executor expression normalize authority URIs identically") {
    // ADVICE r10 #1: the two sides used DIFFERENT normalizations, so on
    // hdfs://host / s3a://bucket paths deletes matched nothing and a
    // snapshot with deletes read EMPTY. The executor side sees each file
    // as `_metadata.file_path`, a URL-encoded URI; this corpus pins the
    // authority-bearing and escaped shapes local tests can't exercise
    // end-to-end.
    val corpus = Seq(
      "file:/tmp/t/data/c-1/part-0.parquet",
      "file:///tmp/t/data/c-1/part-0.parquet",
      "hdfs://namenode:9000/warehouse/t/data/c-2/part-1.parquet",
      "hdfs://nn-ha/warehouse/t/part.parquet",
      "s3a://my-bucket/lake/t/data/c-3/part-0.parquet",
      "abfss://cont@acct.dfs.core.windows.net/t/part.parquet",
      "file:/tmp/a b/c%d+e/part-0.parquet",
      "/bare/local/path/part.parquet")
    val scalaSide = corpus.map(Snapshots.normPath)
    val executorSide = corpus.map(p =>
      graft.plans.DeleteScope.barePath(new Path(p).toUri.toString))
    assert(scalaSide == executorSide)
    // authority is gone on BOTH sides — the r10 bug class
    assert(scalaSide.forall(p => p.startsWith("/") && !p.contains(":")))
    assert(Snapshots.normPath("hdfs://namenode:9000/w/p.parquet") == "/w/p.parquet")
    assert(Snapshots.normPath("s3a://my-bucket/lake/p.parquet") == "/lake/p.parquet")
  }

  test("merge-on-read delete filtering joins on identically-normalized paths (fs-level)") {
    // end-to-end on the local fs: commit, delete, read back — the join
    // keys on both sides come from the SHARED normalizer now, so this
    // asserts the fs-level contract the corpus test pins symbolically
    val root = freshRoot("normjoin")
    Snapshots.commitAppend(spark, root, table(10, "a").coalesce(2))
    Snapshots.commitDelete(spark, root, Seq(3L, 7L).toDF("id"))
    val got = Snapshots.readSnapshot(spark, root).select("id")
      .as[Long].collect().sorted.toSeq
    assert(got == (1L to 10L).filterNot(Set(3L, 7L)))
  }

  test("column-id evolution: rename survives reads; drop/re-add same name reads NULL from old files") {
    val root = freshRoot("schemaevo")
    Snapshots.commitAppend(spark, root,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "tag", "n").coalesce(1))
    Snapshots.initSchema(spark, root)
    val vRename = Snapshots.renameColumn(spark, root, "tag", "label")
    // pre-rename files read under the NEW name (resolved by column id)
    val r1 = Snapshots.readSnapshot(spark, root)
    assert(r1.columns.toSeq == Seq("id", "label", "n"))
    assert(r1.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 20L)))
    // writes under the OLD name are rejected loudly — and the rejected
    // attempt must not wedge the version number (claim released)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark, root,
        Seq((3L, "c", 30L)).toDF("id", "tag", "n").coalesce(1))
    }
    Snapshots.commitAppend(spark, root,
      Seq((3L, "c", 30L)).toDF("id", "label", "n").coalesce(1))
    // time travel BEFORE the rename serves the old name
    assert(Snapshots.readSnapshot(spark, root, vRename - 1).columns.toSeq ==
      Seq("id", "tag", "n"))
    // drop n, re-add the SAME NAME: fresh id — dropped data must not
    // resurface under the re-added column
    Snapshots.dropColumn(spark, root, "n")
    assert(Snapshots.readSnapshot(spark, root).columns.toSeq == Seq("id", "label"))
    Snapshots.addColumn(spark, root, "n", "BIGINT")
    Snapshots.commitAppend(spark, root,
      Seq((4L, "d", 40L)).toDF("id", "label", "n").coalesce(1))
    val r2 = Snapshots.readSnapshot(spark, root).orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(r2 == Seq((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some(40L))))
    // ids are never recycled: 1,2 kept; 3 dropped; re-add minted 4
    assert(Snapshots.trackedSchema(spark, root).get.map(_._1) == Seq(1, 2, 4))
  }

  test("column-id evolution: type widen casts at read; deletes block alters; replace keeps schema") {
    val root = freshRoot("schemawiden")
    Snapshots.commitAppend(spark, root,
      Seq((1, "a"), (2, "b")).toDF("id", "tag").coalesce(1)) // id is INT here
    Snapshots.initSchema(spark, root)
    Snapshots.alterColumnType(spark, root, "id", "BIGINT")
    val r = Snapshots.readSnapshot(spark, root)
    assert(r.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(r.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // pending equality deletes block schema changes (keys live by name)
    Snapshots.commitDelete(spark, root, Seq(1L).toDF("id"))
    intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, root, "tag", "t2")
    }
    // merge-on-read delete filtering composes with the column-id read
    assert(Snapshots.readSnapshot(spark, root).as[(Long, String)]
      .collect().toSeq == Seq((2L, "b")))
    // a REPLACE materializes the deletes AND carries the schema binding
    Snapshots.commitReplace(spark, root, Snapshots.readSnapshot(spark, root))
    Snapshots.renameColumn(spark, root, "tag", "t2")
    assert(Snapshots.readSnapshot(spark, root).columns.toSeq == Seq("id", "t2"))
    assert(Snapshots.readSnapshot(spark, root).as[(Long, String)]
      .collect().toSeq == Seq((2L, "b")))
  }

  test("column-id guards: initSchema rejects additive-tier history; writes type-checked") {
    // initSchema binds ONE schema for all pre-tracking (sid 0) files —
    // a table grown through the additive mergeSchema tier must be
    // compacted first, loudly (round-11 self-review finding)
    val root = freshRoot("schemaguards")
    Snapshots.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((2L, "b", 9L)).toDF("id", "tag", "extra").coalesce(1))
    intercept[IllegalArgumentException] { Snapshots.initSchema(spark, root) }
    // compact → init works; the failed init released its claim
    Snapshots.commitReplace(spark, root,
      Snapshots.readSnapshot(spark, root, 1L)) // the uniform v1 shape
    Snapshots.initSchema(spark, root)
    // a name-matched but TYPE-mismatched write is rejected loudly
    // (same-sid files share one scan group — a string 'id' would
    // corrupt it silently otherwise)
    intercept[IllegalArgumentException] {
      Snapshots.commitAppend(spark, root,
        Seq(("3", "c")).toDF("id", "tag").coalesce(1)) // id STRING, not BIGINT
    }
    Snapshots.commitAppend(spark, root, Seq((3L, "c")).toDF("id", "tag").coalesce(1))
    assert(Snapshots.readSnapshot(spark, root).count() == 2)
  }

  test("lease takeover: an orphaned claim is broken after the lease; no committed state lost") {
    val root = freshRoot("lease")
    Snapshots.commitAppend(spark, root, table(5, "a").coalesce(1))
    // crash model: a writer claimed v2 and died before publishing —
    // exactly the on-disk state a kill between claim and publish leaves
    val orphan = new java.io.File(
      new Path(root, "_manifests/v00002.claim").toUri.getPath)
    assert(orphan.createNewFile(), "orphan claim planted")
    spark.conf.set("spark.graft.snapshots.claimLeaseMs", "250")
    try {
      Thread.sleep(300) // age the orphan past the lease
      // the next writer recovers WITHOUT manual cleanup…
      val v2 = Snapshots.commitAppend(spark, root, table(3, "b").coalesce(1))
      assert(v2 == 2L, "takeover publishes the wedged version number")
      // …and no committed state was lost
      assert(Snapshots.readSnapshot(spark, root, 1L).count() == 5)
      assert(Snapshots.readSnapshot(spark, root, 2L).count() == 8)
    } finally spark.conf.unset("spark.graft.snapshots.claimLeaseMs")
  }

  test("lease takeover: a claim younger than the lease is NOT broken") {
    val root = freshRoot("leaseyoung")
    Snapshots.commitAppend(spark, root, table(2, "a").coalesce(1))
    val orphan = new java.io.File(
      new Path(root, "_manifests/v00002.claim").toUri.getPath)
    assert(orphan.createNewFile())
    spark.conf.set("spark.graft.snapshots.claimLeaseMs", "3600000") // 1 h
    try {
      // direct observation of the retry loop's decision: the claim
      // survives attempts while young (we can't wait out the 60 s
      // publish deadline here, so assert the file outlives a window
      // longer than several retry sleeps by racing a commit thread)
      val t = new Thread(() => try {
        Snapshots.commitAppend(spark, root, table(1, "b").coalesce(1))
      } catch { case _: Throwable => () })
      t.start()
      Thread.sleep(1500)
      assert(orphan.exists(), "a young claim must not be broken")
      t.interrupt()
      t.join(5000)
    } finally spark.conf.unset("spark.graft.snapshots.claimLeaseMs")
  }

  test("registered lake_schema_rename query matches its fixture recipe") {
    val out = QueriesCore.lakeSchemaRename(spark, sf)
    assert(out.columns.toSeq == Seq("doc_id", "origin", "n_chars"))
    val d = Tables.documents(spark, sf)
    val n = d.count()
    val n9 = d.filter(col("doc_id") % 9 === 0).count()
    assert(out.count() == n + n9)
    // every original row reads NULL n_chars (old field id was dropped);
    // only the re-added rows carry values
    assert(out.filter(col("n_chars").isNotNull).count() == n9)
    assert(out.filter(col("doc_id") >= 1000000000L && col("n_chars").isNull).count() == 0)
  }

  test("registered lake_snapshot query: versions, counts, file counts, isolation flag") {
    val out = QueriesCore.lakeSnapshot(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    val o = Tables.orders(spark, sf)
    val c1 = o.filter(col("o_orderkey") % 3 === 0).count()
    val c2 = c1 + o.filter(col("o_orderkey") % 3 === 1).count()
    assert(out(0)._2 == c1 && out(1)._2 == c2 && out(2)._2 == o.count())
    assert(out.map(_._3).toSeq == Seq(2L, 4L, 1L))
    assert(out.forall(_._4), "the pinned reader must have been isolated")
  }

  // -------------------------------------------------------------------
  // Manifest column statistics + file skipping (round 12)
  // -------------------------------------------------------------------
  import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq, GreaterThan => FGt, In => FIn, LessThanOrEqual => FLe, Or => FOr, StringStartsWith => FStarts}

  /** Four single-file commits with DISJOINT id ranges 1-10 / 11-20 /
    * 21-30 / 31-40 — the layout file skipping is built for. */
  private def rangedTable(name: String): String = {
    val root = freshRoot(name)
    for (k <- 0 to 3)
      Snapshots.commitAppend(spark, root,
        (k * 10 + 1 to k * 10 + 10).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
          .coalesce(1))
    root
  }

  test("file skipping: a selective predicate scans strictly fewer files; answer is invariant") {
    val root = rangedTable("skip")
    // id <= 10 can only live in the first commit's file
    val f = Seq[org.apache.spark.sql.sources.Filter](FLe("id", 10L))
    val (kept, total) = Snapshots.pruneCounts(spark, root, f)
    assert(total == 4L && kept == 1L, s"expected 1/4 files, got $kept/$total")
    val pruned = Snapshots.readSnapshotPruned(spark, root, f)
    val plain = Snapshots.readSnapshot(spark, root).filter(col("id") <= 10)
    assert(pruned.orderBy("id").collect().toSeq ==
      plain.orderBy("id").collect().toSeq)
    // middle range via And of bounds: exactly one file
    val mid = Seq[org.apache.spark.sql.sources.Filter](
      FAnd(FGt("id", 20L), FLe("id", 30L)))
    assert(Snapshots.pruneCounts(spark, root, mid)._1 == 1L)
    // In hits two ranges -> two files
    val in2 = Seq[org.apache.spark.sql.sources.Filter](FIn("id", Array(5L, 35L)))
    assert(Snapshots.pruneCounts(spark, root, in2)._1 == 2L)
    // Or spans two ranges -> two files
    val or2 = Seq[org.apache.spark.sql.sources.Filter](
      FOr(FEq("id", 1L), FEq("id", 40L)))
    assert(Snapshots.pruneCounts(spark, root, or2)._1 == 2L)
    // unsupported-for-pruning kinds keep everything but still filter rows
    val starts = Seq[org.apache.spark.sql.sources.Filter](FStarts("tag", "t1"))
    assert(Snapshots.pruneCounts(spark, root, starts)._1 == 4L)
    assert(Snapshots.readSnapshotPruned(spark, root, starts).count() ==
      Snapshots.readSnapshot(spark, root).filter(col("tag").startsWith("t1")).count())
  }

  test("file skipping: everything pruned keeps one schema anchor and returns empty") {
    val root = rangedTable("skipall")
    val f = Seq[org.apache.spark.sql.sources.Filter](FGt("id", 1000L))
    val (kept, total) = Snapshots.pruneCounts(spark, root, f)
    assert(total == 4L && kept == 1L, "one anchor file survives a total prune")
    val out = Snapshots.readSnapshotPruned(spark, root, f)
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("id", "tag"), "schema preserved on empty result")
  }

  test("file skipping: stats-off commits are never pruned (conservative)") {
    val root = freshRoot("skipoff")
    appendStatsless(root, "nostats", table(10, "a"))
    Snapshots.commitAppend(spark, root, table(5, "b").coalesce(1)) // stats on
    val f = Seq[org.apache.spark.sql.sources.Filter](FGt("id", 100L))
    val (kept, total) = Snapshots.pruneCounts(spark, root, f)
    // the stats-less file must survive; the stats-bearing one prunes
    assert(total == 2L && kept == 1L)
    assert(Snapshots.readSnapshotPruned(spark, root, f).count() == 0L)
  }

  test("file skipping: string bounds prune in UTF-8 order; over-long bounds drop the stat") {
    val root = freshRoot("skipstr")
    Snapshots.commitAppend(spark, root,
      Seq((1L, "apple"), (2L, "banana")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((3L, "melon"), (4L, "zucchini")).toDF("id", "tag").coalesce(1))
    // only the second file can contain tags > "kiwi"
    val f = Seq[org.apache.spark.sql.sources.Filter](FGt("tag", "kiwi"))
    assert(Snapshots.pruneCounts(spark, root, f) == ((1L, 2L)))
    // a >64-char value poisons that column's stat for its file: kept
    val root2 = freshRoot("skiplong")
    Snapshots.commitAppend(spark, root2,
      Seq((1L, "a" * 80)).toDF("id", "tag").coalesce(1))
    assert(Snapshots.pruneCounts(spark, root2,
      Seq[org.apache.spark.sql.sources.Filter](FGt("tag", "zzz")))._1 == 1L)
  }

  test("file skipping: composes with merge-on-read deletes exactly") {
    val root = rangedTable("skipdel")
    Snapshots.commitDelete(spark, root, Seq(5L, 25L).toDF("id"))
    val f = Seq[org.apache.spark.sql.sources.Filter](FLe("id", 10L))
    val pruned = Snapshots.readSnapshotPruned(spark, root, f)
    val plain = Snapshots.readSnapshot(spark, root).filter(col("id") <= 10)
    assert(pruned.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
    assert(pruned.filter(col("id") === 5L).count() == 0L, "deleted key stays deleted")
  }

  test("file skipping soundness: randomized predicate trees never change an answer") {
    // property-style sweep over the whole pruning surface: random data
    // (with NULL strings and NULL doubles, so 'n' tags and null
    // semantics are exercised), random single-file commits, random
    // And/Or/compare/In predicate trees over all three column types —
    // the pruned read must equal the unpruned filtered read EXACTLY,
    // every time. Seeded: failures reproduce.
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(7)
    val root = freshRoot("skipprop")
    for (_ <- 0 until 5) {
      val rows = (1 to 40).map { _ =>
        (rnd.nextInt(1000).toLong,
          if (rnd.nextInt(10) == 0) Option.empty[String] else Some(s"s${rnd.nextInt(100)}"),
          if (rnd.nextInt(5) == 0) Option.empty[Double] else Some(rnd.nextDouble() * 100))
      }
      Snapshots.commitAppend(spark, root, rows.toDF("id", "s", "d").coalesce(1))
    }
    def leaf(): Filter = rnd.nextInt(7) match {
      case 0 => GreaterThan("id", rnd.nextInt(1000).toLong)
      case 1 => LessThanOrEqual("id", rnd.nextInt(1000).toLong)
      case 2 => EqualTo("id", rnd.nextInt(1000).toLong)
      case 3 => In("id", Array.fill(3)(rnd.nextInt(1000).toLong: Any))
      case 4 => GreaterThanOrEqual("s", s"s${rnd.nextInt(100)}")
      case 5 => LessThan("d", rnd.nextDouble() * 100)
      case 6 => GreaterThan("d", rnd.nextDouble() * 100)
    }
    def tree(depth: Int): Filter =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) And(tree(depth - 1), tree(depth - 1))
      else Or(tree(depth - 1), tree(depth - 1))
    def toCol(f: Filter): Column = f match {
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case EqualTo(a, v) => col(a) === lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case And(l, r) => toCol(l) && toCol(r)
      case Or(l, r) => toCol(l) || toCol(r)
      case other => fail(s"unexpected $other")
    }
    for (i <- 1 to 30) {
      val f = tree(2)
      val pruned = Snapshots.readSnapshotPruned(spark, root, Seq(f))
        .orderBy("id", "s", "d").collect().toSeq
      val plain = Snapshots.readSnapshot(spark, root).filter(toCol(f))
        .orderBy("id", "s", "d").collect().toSeq
      assert(pruned == plain, s"predicate #$i changed the answer: $f")
    }
  }

  test("metadata-only aggregates: count/min/max from the manifest; gaps → None, never wrong") {
    val root = freshRoot("meta")
    Snapshots.commitAppend(spark, root, table(10, "a").coalesce(1))
    Snapshots.commitAppend(spark, root, table(5, "b").coalesce(1))
    assert(Snapshots.metadataRowCount(spark, root).contains(15L))
    assert(Snapshots.metadataMinMaxLong(spark, root, "id").contains((1L, 10L)))
    // a stats-less file makes the answers unavailable — never wrong
    appendStatsless(root, "nostats", table(3, "c"))
    assert(Snapshots.metadataRowCount(spark, root).isEmpty)
    assert(Snapshots.metadataMinMaxLong(spark, root, "id").isEmpty)
    // time travel still answers at the fully-statted version
    assert(Snapshots.metadataRowCount(spark, root, 2L).contains(15L))
    // a string column is not an integral aggregate target
    assert(Snapshots.metadataMinMaxLong(spark, root, "tag", 2L).isEmpty)
    // unknown column: None
    assert(Snapshots.metadataMinMaxLong(spark, root, "nope", 2L).isEmpty)
    // a DELETE makes file-level stats an over-count / stale bound:
    // both aggregates must DECLINE, not report the pre-delete numbers
    // (the deleted key 10 was the column max) — round-12 self-review
    val root2 = freshRoot("metadel")
    Snapshots.commitAppend(spark, root2, table(10, "a").coalesce(1))
    Snapshots.commitDelete(spark, root2, Seq(10L).toDF("id"))
    assert(Snapshots.metadataRowCount(spark, root2).isEmpty)
    assert(Snapshots.metadataMinMaxLong(spark, root2, "id").isEmpty)
    // the pre-delete version still answers exactly
    assert(Snapshots.metadataRowCount(spark, root2, 1L).contains(10L))
    assert(Snapshots.metadataMinMaxLong(spark, root2, "id", 1L).contains((1L, 10L)))
  }

  test("all-NULL columns: tag 'n' prunes every comparison and keeps metadata min/max sound") {
    val root = freshRoot("allnull")
    Snapshots.commitAppend(spark, root,
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
        .toDF("id", "v").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((3L, Option(30L)), (4L, Option(40L))).toDF("id", "v").coalesce(1))
    // v > 10 cannot match the all-NULL file: it is PRUNED, not kept
    val f = Seq[org.apache.spark.sql.sources.Filter](FGt("v", 10L))
    assert(Snapshots.pruneCounts(spark, root, f) == ((1L, 2L)))
    assert(Snapshots.readSnapshotPruned(spark, root, f).count() == 2L)
    // min/max skips the value-free file, exactly like SQL min/max
    assert(Snapshots.metadataMinMaxLong(spark, root, "v").contains((30L, 40L)))
    assert(Snapshots.metadataRowCount(spark, root).contains(4L))
  }

  test("file skipping: stats are keyed by column ID — pruning survives a rename") {
    val root = freshRoot("skiprename")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, i * 100)).toDF("id", "v").coalesce(1))
    Snapshots.initSchema(spark, root)
    Snapshots.commitAppend(spark, root,
      (11L to 20L).map(i => (i, i * 100)).toDF("id", "v").coalesce(1))
    Snapshots.renameColumn(spark, root, "v", "value")
    // post-rename commits write stats under the SAME id
    Snapshots.commitAppend(spark, root,
      (21L to 30L).map(i => (i, i * 100)).toDF("id", "value").coalesce(1))
    // a predicate on the NEW name prunes files written under the OLD name
    val f = Seq[org.apache.spark.sql.sources.Filter](FGt("value", 2500L))
    val (kept, total) = Snapshots.pruneCounts(spark, root, f)
    assert(total == 3L && kept == 1L,
      s"rename must not orphan stats: got $kept/$total")
    val out = Snapshots.readSnapshotPruned(spark, root, f)
    assert(out.agg(count(lit(1))).head.getLong(0) == 5L) // values 2600..3000
    // dropped-then-re-added name: old ranges must NOT be inherited
    Snapshots.dropColumn(spark, root, "value")
    Snapshots.addColumn(spark, root, "value", "BIGINT")
    val (kept2, total2) = Snapshots.pruneCounts(spark, root,
      Seq[org.apache.spark.sql.sources.Filter](FEq("value", 123456L)))
    // all files read NULL for the fresh id -> no stats -> all kept
    assert(total2 == 3L && kept2 == 3L)
    assert(Snapshots.readSnapshotPruned(spark, root,
      Seq[org.apache.spark.sql.sources.Filter](FEq("value", 123456L))).count() == 0L)
  }

  test("mixed-key delete commits: each delete file applies by its OWN columns") {
    // round-13 in-round find: delete commits keyed on DIFFERENT columns
    // must compose — each file is its own equality-id set (Iceberg
    // semantics); the old single-union read threw, and the DSv2 path
    // keyed every file by the FIRST file's schema (silent over-delete)
    val root = freshRoot("mixedkeys")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"g${i % 3}")).toDF("id", "tag").coalesce(1))
    Snapshots.commitDelete(spark, root, Seq("g1").toDF("tag"))     // by tag
    Snapshots.commitDelete(spark, root, Seq(3L, 6L).toDF("id"))    // by id
    // g1 = {1,4,7,10}; then ids 3,6 — survivors {2,5,8,9}
    assert(Snapshots.readSnapshot(spark, root).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 5L, 8L, 9L))
    // re-insert under one key survives the OTHER key's earlier delete
    Snapshots.commitAppend(spark, root, Seq((3L, "g0")).toDF("id", "tag").coalesce(1))
    assert(Snapshots.readSnapshot(spark, root).filter(col("id") === 3L).count() == 1L)
    // metadata aggregates still decline under any pending deletes
    assert(Snapshots.metadataRowCount(spark, root).isEmpty)
  }

  test("clustering compaction: scattered ingest prunes nothing; clustered files prune; answer invariant") {
    val root = freshRoot("cluster")
    // interleaved ingest: ids k, k+4, k+8, … — every file spans 1..400
    for (k <- 0 until 4)
      Snapshots.commitAppend(spark, root,
        (1 to 400).filter(_ % 4 == k).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
          .coalesce(1))
    val f = Seq[org.apache.spark.sql.sources.Filter](FLe("id", 100L))
    val (kb, tb) = Snapshots.pruneCounts(spark, root, f)
    assert((kb, tb) == ((4L, 4L)), "scattered layout must defeat skipping entirely")
    val before = Snapshots.readSnapshot(spark, root).orderBy("id").collect().toSeq
    val v = Snapshots.commitReplaceClustered(spark, root, Seq("id"), numFiles = 4)
    // answer invariance: the rewrite changes layout, never content
    assert(Snapshots.readSnapshot(spark, root).orderBy("id").collect().toSeq == before)
    // disjoint ranges: the quartile predicate now skips files
    val (ka, ta) = Snapshots.pruneCounts(spark, root, f)
    assert(ka < kb, s"clustering must prune strictly fewer files: $ka vs $kb")
    assert(ta == Snapshots.fileCount(spark, root, v))
    assert(Snapshots.readSnapshotPruned(spark, root, f).count() == 100L)
    // pre-cluster version still reads its own scattered files
    assert(Snapshots.readSnapshot(spark, root, 4L).count() == 400L)
    // pending deletes are materialized away by the rewrite
    val root2 = freshRoot("clusterdel")
    Snapshots.commitAppend(spark, root2,
      (1 to 50).map(i => (i.toLong, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitDelete(spark, root2, Seq(7L, 9L).toDF("id"))
    Snapshots.commitReplaceClustered(spark, root2, Seq("id"), numFiles = 2)
    assert(Snapshots.readSnapshot(spark, root2).count() == 48L)
    // and metadata aggregates (blocked by the delete before) answer again
    assert(Snapshots.metadataRowCount(spark, root2).contains(48L))
  }

  test("grouped metadata aggregates: answer when single-valued per file; decline on any gap") {
    val root = freshRoot("metagrp")
    // bucket-pure files: bucket 1 (3 rows), bucket 2 (2 rows, two files)
    Snapshots.commitAppend(spark, root,
      Seq((1L, 1L, 10L), (2L, 1L, 30L), (3L, 1L, 20L)).toDF("id", "b", "v").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((4L, 2L, 5L)).toDF("id", "b", "v").coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((5L, 2L, 50L)).toDF("id", "b", "v").coalesce(1))
    assert(Snapshots.metadataGroupedRowCount(spark, root, "b").contains(
      Seq(Some("1") -> 3L, Some("2") -> 2L)))
    assert(Snapshots.metadataGroupedMinMaxLong(spark, root, "b", "v").contains(
      Seq(Some("1") -> Some((10L, 30L)), Some("2") -> Some((5L, 50L)))))
    // string group keys work the same way
    val roots = freshRoot("metagrps")
    Snapshots.commitAppend(spark, roots,
      Seq((1L, "x", 7L), (2L, "x", 9L)).toDF("id", "g", "v").coalesce(1))
    Snapshots.commitAppend(spark, roots,
      Seq((3L, "y", 1L)).toDF("id", "g", "v").coalesce(1))
    assert(Snapshots.metadataGroupedRowCount(spark, roots, "g").contains(
      Seq(Some("x") -> 2L, Some("y") -> 1L)))
    // an all-NULL group column file is the SQL NULL group, not a decline
    Snapshots.commitAppend(spark, roots,
      Seq((4L, Option.empty[String], 3L)).toDF("id", "g", "v").coalesce(1))
    assert(Snapshots.metadataGroupedRowCount(spark, roots, "g").contains(
      Seq(None -> 1L, Some("x") -> 2L, Some("y") -> 1L)))
    // DECLINE: a multi-valued file (lo != hi) — the loud scope edge
    val rootm = freshRoot("metagrpmix")
    Snapshots.commitAppend(spark, rootm,
      Seq((1L, 1L, 10L), (2L, 2L, 20L)).toDF("id", "b", "v").coalesce(1))
    assert(Snapshots.metadataGroupedRowCount(spark, rootm, "b").isEmpty)
    assert(Snapshots.metadataGroupedMinMaxLong(spark, rootm, "b", "v").isEmpty)
    // DECLINE: a pending merge-on-read delete (file facts over-count)
    Snapshots.commitDelete(spark, root, Seq(1L).toDF("id"))
    assert(Snapshots.metadataGroupedRowCount(spark, root, "b").isEmpty)
    // the pre-delete version still answers
    assert(Snapshots.metadataGroupedRowCount(spark, root, "b", 3L).isDefined)
    // DECLINE: a non-integral value column for min/max
    assert(Snapshots.metadataGroupedMinMaxLong(spark, roots, "g", "g").isEmpty)
    // group-NULL file with values: min/max flows through the NULL group
    assert(Snapshots.metadataGroupedMinMaxLong(spark, roots, "g", "v").contains(
      Seq(None -> Some((3L, 3L)), Some("x") -> Some((7L, 9L)),
        Some("y") -> Some((1L, 1L)))))
  }

  test("DECIMAL stats: pruning compares in VALUE space, never against unscaled storage") {
    // ADVICE r12 (high): DECIMAL(p<=18) is stored as its UNSCALED
    // INT32/INT64 — the r12 footer pass tagged it 'l' with the raw
    // bounds, so `price < 2` against prices 0.50..0.80 (unscaled 50..80)
    // wrongly EXCLUDED the file. The 'm' tag must keep it — and still
    // prune when the predicate really is outside the value range.
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    val root = freshRoot("decstats")
    Snapshots.commitAppend(spark, root,
      Seq((1L, BigDecimal("0.50")), (2L, BigDecimal("0.80")))
        .toDF("id", "price")
        .select(col("id"), col("price").cast("decimal(9,2)").as("price"))
        .coalesce(1))
    Snapshots.commitAppend(spark, root,
      Seq((3L, BigDecimal("100.25")), (4L, BigDecimal("250.75")))
        .toDF("id", "price")
        .select(col("id"), col("price").cast("decimal(9,2)").as("price"))
        .coalesce(1))
    // the exact ADVICE scenario: price < 2 MUST keep the 0.50-0.80 file
    val lt2 = Seq[org.apache.spark.sql.sources.Filter](
      LessThan("price", new java.math.BigDecimal("2")))
    assert(Snapshots.pruneCounts(spark, root, lt2) == ((1L, 2L)))
    assert(Snapshots.readSnapshotPruned(spark, root, lt2).count() == 2L)
    // and a genuinely-out-of-range predicate still prunes exactly
    val gt300 = Seq[org.apache.spark.sql.sources.Filter](
      GreaterThan("price", new java.math.BigDecimal("300")))
    assert(Snapshots.pruneCounts(spark, root, gt300)._1 == 1L) // anchor only
    assert(Snapshots.readSnapshotPruned(spark, root, gt300).count() == 0L)
    // fractional boundary is exact: > 0.79 keeps file 1, > 0.80 prunes it
    assert(Snapshots.pruneCounts(spark, root, Seq[org.apache.spark.sql.sources.Filter](
      GreaterThan("price", new java.math.BigDecimal("0.79"))))._1 == 2L)
    assert(Snapshots.pruneCounts(spark, root, Seq[org.apache.spark.sql.sources.Filter](
      GreaterThan("price", new java.math.BigDecimal("0.80"))))._1 == 1L)
    // DECIMAL is not an integral metadata-aggregate target: decline
    assert(Snapshots.metadataMinMaxLong(spark, root, "price").isEmpty)
    // answer-invariance end to end
    val pruned = Snapshots.readSnapshotPruned(spark, root, lt2).orderBy("id").collect().toSeq
    val plain = Snapshots.readSnapshot(spark, root)
      .filter(col("price") < lit(new java.math.BigDecimal("2"))).orderBy("id").collect().toSeq
    assert(pruned == plain)
  }

  test("DATE and TIMESTAMP stats: logical-type-aware bounds prune; annotations never read as longs") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    val root = freshRoot("datestats")
    def day(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // INT64 micros carry bounds; the INT96 default keeps none (never prunes)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      Snapshots.commitAppend(spark, root,
        Seq((1L, day("2026-01-05"), ts("2026-01-05 10:00:00")),
          (2L, day("2026-01-20"), ts("2026-01-20 10:00:00")))
          .toDF("id", "d", "t").coalesce(1))
      Snapshots.commitAppend(spark, root,
        Seq((3L, day("2026-02-10"), ts("2026-02-10 10:00:00")),
          (4L, day("2026-02-25"), ts("2026-02-25 10:00:00")))
          .toDF("id", "d", "t").coalesce(1))
    } finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    // date predicate prunes to the February file
    val feb = Seq[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("d", day("2026-02-01")))
    assert(Snapshots.pruneCounts(spark, root, feb) == ((1L, 2L)))
    assert(Snapshots.readSnapshotPruned(spark, root, feb).count() == 2L)
    // timestamp predicate prunes to the January file
    val jan = Seq[org.apache.spark.sql.sources.Filter](
      LessThan("t", ts("2026-02-01 00:00:00")))
    assert(Snapshots.pruneCounts(spark, root, jan) == ((1L, 2L)))
    assert(Snapshots.readSnapshotPruned(spark, root, jan).count() == 2L)
    // answer-invariance both ways
    assert(Snapshots.readSnapshotPruned(spark, root, feb).orderBy("id").collect().toSeq ==
      Snapshots.readSnapshot(spark, root).filter(col("d") >= lit(day("2026-02-01")))
        .orderBy("id").collect().toSeq)
    // date/timestamp are not integral metadata-aggregate targets
    assert(Snapshots.metadataMinMaxLong(spark, root, "d").isEmpty)
    assert(Snapshots.metadataMinMaxLong(spark, root, "t").isEmpty)
  }
}
