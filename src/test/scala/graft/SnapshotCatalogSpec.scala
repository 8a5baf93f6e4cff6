package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** The SQL naming layer over snapshot tables
  * ([[graft.sources.v2.SnapshotCatalog]], round 13): path-addressed and
  * warehouse-resolved identifiers, VERSION AS OF time travel onto
  * manifest versions, pushdown through the ordinary `spark.sql` path,
  * and loud read-only-ness. */
class SnapshotCatalogSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.sources.{LessThanOrEqual => FLeCat}

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_sqlcat/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")

  test("SELECT over a path-addressed snapshot table; WHERE drives file skipping") {
    val root = freshRoot("basic")
    for (k <- 0 to 3)
      Snapshots.commitAppend(spark, root,
        (k * 10 + 1 to k * 10 + 10).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
          .coalesce(1))
    val out = spark.sql(s"SELECT id, tag FROM snap.`$root` WHERE id <= 10 ORDER BY id")
    assert(out.count() == 10L)
    // pushdown observable: the filtered scan plans 1 of 4 files
    assert(spark.sql(s"SELECT id FROM snap.`$root` WHERE id <= 10")
      .rdd.getNumPartitions == 1)
    // joins against ordinary views work (the catalog is just a name source)
    Seq((1L, "x"), (40L, "y")).toDF("id", "k").createOrReplaceTempView("dim")
    val j = spark.sql(
      s"SELECT d.k, count(*) AS n FROM snap.`$root` t JOIN dim d USING (id) GROUP BY d.k")
    assert(j.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("x", 1L), ("y", 1L)))
  }

  test("VERSION AS OF maps onto manifest versions; TIMESTAMP AS OF resolves by commit clock") {
    val root = freshRoot("travel")
    Snapshots.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "tag").coalesce(1))
    assert(spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 1").count() == 1L)
    assert(spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 2").count() == 2L)
    val eBad = intercept[Exception] {
      spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 99").collect()
    }
    assert(eBad.getMessage.contains("does not exist"))
    // TIMESTAMP AS OF (round 14): the adjusted commit clocks resolve —
    // exact instant includes the commit, between-commits resolves to the
    // earlier, pre-table throws loudly (Delta's timestampAsOf contract)
    val times = graft.sources.Manifest.commitTimesMillis(spark, root).map(_._2)
    assert(times.length == 2 && times(1) > times(0), "adjusted clocks increase")
    def fmt(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(
      s"SELECT * FROM snap.`$root` TIMESTAMP AS OF '${fmt(times(0))}'").count() == 1L)
    assert(spark.sql(
      s"SELECT * FROM snap.`$root` TIMESTAMP AS OF '${fmt(times(1))}'").count() == 2L)
    assert(spark.sql(
      s"SELECT * FROM snap.`$root` TIMESTAMP AS OF '${fmt(times(1) - 1)}'").count() == 1L)
    assert(Snapshots.versionAtTimestamp(spark, root, times(1) + 60000) == 2L,
      "after the last commit resolves to the current version")
    val eTs = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM snap.`$root` TIMESTAMP AS OF '${fmt(times(0) - 1)}'").collect()
    }
    assert(eTs.getMessage.contains("did not exist"),
      s"pre-table timestamp must be loud: ${eTs.getMessage}")
    // $history carries the same clock
    val ts = spark.sql(s"SELECT commit_ts FROM snap.`$root$$history` ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts == times.toSeq, "$history.commit_ts IS the resolution clock")
  }

  test("$history and TIMESTAMP AS OF survive a vacuum (round-14 self-review find)") {
    val root = freshRoot("vac_hist")
    for (k <- 1 to 4)
      Snapshots.commitAppend(spark, root,
        Seq((k.toLong, s"t$k")).toDF("id", "tag").coalesce(1))
    Snapshots.vacuum(spark, root, keepFrom = 3)
    // pre-fix both threw FileNotFound on the expired v1 manifest; now
    // they serve the SURVIVING suffix
    val hist = spark.sql(s"SELECT version FROM snap.`$root$$history` ORDER BY version")
      .collect().map(_.getLong(0)).toSeq
    assert(hist == Seq(3L, 4L))
    assert(Snapshots.versionAtTimestamp(spark, root,
      System.currentTimeMillis + 60000) == 4L)
    // a timestamp below the surviving history is loud, naming vacuum
    val times = graft.sources.Manifest.commitTimesMillis(spark, root)
    assert(times.map(_._1) == Seq(3L, 4L), "clocks cover surviving versions only")
    val e = intercept[IllegalArgumentException] {
      Snapshots.versionAtTimestamp(spark, root, times.head._2 - 1)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("warehouse option resolves bare names and lists tables") {
    val wh = freshRoot("wh")
    Snapshots.commitAppend(spark, s"$wh/events",
      Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, s"$wh/docs",
      Seq((2L, "b")).toDF("id", "tag").coalesce(1))
    spark.conf.set("spark.sql.catalog.wsnap", "graft.sources.v2.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.wsnap.warehouse", wh)
    assert(spark.sql("SELECT * FROM wsnap.events").count() == 1L)
    assert(spark.sql("SHOW TABLES IN wsnap").collect().map(_.getString(1)).toSet ==
      Set("events", "docs"))
  }

  test("DELETE FROM maps onto merge-on-read equality deletes; ranges decline loudly") {
    val root = freshRoot("sqldel")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"g${i % 3}")).toDF("id", "grp").coalesce(1))
    // equality predicate → one key-file commit, no rewrite
    spark.sql(s"DELETE FROM snap.`$root` WHERE grp = 'g1'")
    assert(Snapshots.currentVersion(spark, root) == 2L)
    assert(spark.sql(s"SELECT * FROM snap.`$root`").count() == 6L) // g1 = {1,4,7,10}
    assert(spark.sql(s"SELECT * FROM snap.`$root` WHERE grp = 'g1'").count() == 0L)
    // conjunction of IN + equality over distinct columns
    spark.sql(s"DELETE FROM snap.`$root` WHERE id IN (3, 6) AND grp = 'g0'")
    assert(spark.sql(s"SELECT id FROM snap.`$root`").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 5L, 8L, 9L))  // 3,6 are g0: gone; g1 (1,4,7,10) gone earlier
    // re-insert after delete survives (sequence scoping through SQL too)
    spark.sql(s"INSERT INTO snap.`$root` VALUES (1, 'g1')")
    assert(spark.sql(s"SELECT * FROM snap.`$root` WHERE id = 1").count() == 1L)
    // a range predicate is NOT an equality-delete shape — since round 14
    // it no longer declines: it takes the copy-on-write row-level path
    // (SqlRowLevelSpec pins the mechanics; here just the answer)
    spark.sql(s"DELETE FROM snap.`$root` WHERE id > 5")
    assert(spark.sql(s"SELECT id FROM snap.`$root`").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 5L))
  }

  test("$files metadata table: one manifest row per data file, version-pinnable") {
    val root = freshRoot("filesmeta")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "tag").repartition(2))
    Snapshots.commitAppend(spark, root,
      (11L to 15L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    val f = spark.sql(s"SELECT * FROM snap.`$root$$files`")
    assert(f.columns.toSeq ==
      Seq("file_path", "version", "schema_version", "row_count", "size_bytes"))
    assert(f.count() == 3L)
    // row counts come from the manifest stats, no data IO
    assert(f.agg(sum("row_count")).head.getLong(0) == 15L)
    assert(f.filter(col("version") === 2L).count() == 1L)
    // version pin lists only that version's files
    assert(spark.sql(s"SELECT * FROM snap.`$root$$files` VERSION AS OF 1").count() == 2L)
    // the small-file audit query shape
    val small = spark.sql(
      s"SELECT count(*) AS n FROM snap.`$root$$files` WHERE size_bytes < 1048576")
    assert(small.head.getLong(0) == 3L)
  }

  test("SQL INSERT round-trips every supported type, NULLs included, bit-exactly") {
    // the writer/reader type contract pinned end to end: values written
    // by the DSv2 SQL path must read back exactly through the DSv2 scan
    // AND through plain spark.read.parquet (the files are ordinary
    // parquet — no private encoding)
    val root = freshRoot("typert")
    // Option-typed seed: the table schema must be NULLABLE for the
    // NULL-row INSERT below (a plain tuple would pin non-null fields)
    val seed = Seq((
      1L, Option(7), Option(3.5), Option(1.25f), Option(true), Option("täxt"),
      Option(java.sql.Date.valueOf("2026-02-28")),
      Option(java.time.LocalDateTime.parse("2026-02-28T23:59:59.123456"))))
      .toDF("l", "i", "d", "f", "b", "s", "dt", "ts")
    Snapshots.commitAppend(spark, root, seed.coalesce(1))
    spark.sql(
      s"""INSERT INTO snap.`$root` VALUES
         |(2, 8, 4.5, 2.25F, false, 'two', DATE '1969-07-20',
         |  TIMESTAMP_NTZ '1969-07-20 20:17:40.000001'),
         |(3, NULL, NULL, NULL, NULL, NULL, NULL, NULL)""".stripMargin)
    val out = spark.sql(s"SELECT * FROM snap.`$root` ORDER BY l").collect()
    assert(out.length == 3)
    val r2 = out(1)
    assert(r2.getInt(1) == 8 && r2.getDouble(2) == 4.5 && r2.getFloat(3) == 2.25f)
    assert(!r2.getBoolean(4) && r2.getString(5) == "two")
    assert(r2.getDate(6) == java.sql.Date.valueOf("1969-07-20"))
    assert(r2.getAs[java.time.LocalDateTime](7) ==
      java.time.LocalDateTime.parse("1969-07-20T20:17:40.000001"))
    assert((1 to 7).forall(out(2).isNullAt), "NULLs must round-trip as NULLs")
    // the same bytes through stock Spark: no private encoding anywhere
    val plain = spark.read.parquet(
      graft.sources.Snapshots.readSnapshot(spark, root).inputFiles: _*)
    assert(plain.count() == 3)
    assert(plain.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    // and the micros-precision timestamp survives the stats round too:
    // an exact-match pushed predicate keeps exactly the right file
    assert(spark.sql(
      s"""SELECT l FROM snap.`$root`
         |WHERE ts = TIMESTAMP_NTZ '1969-07-20 20:17:40.000001'""".stripMargin)
      .head.getLong(0) == 2L)
  }

  test("$history metadata table: per-version commit forensics from the manifests") {
    val root = freshRoot("histmeta")
    Snapshots.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root, Seq((2L, "b")).toDF("id", "tag").coalesce(1))
    Snapshots.commitDelete(spark, root, Seq(1L).toDF("id"))
    Snapshots.commitReplace(spark, root, Seq((9L, "z")).toDF("id", "tag").coalesce(1))
    val h = spark.sql(s"SELECT * FROM snap.`$root$$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(h == Seq(
      (1L, 1L, 0L, 0L, 1L), // first append
      (2L, 2L, 0L, 0L, 1L), // second append: carries + 1 new
      (3L, 2L, 1L, 0L, 0L), // delete commit: no data files added
      (4L, 1L, 0L, 0L, 1L))) // replace: fresh single file, deletes gone
    // the pinned form truncates the listing
    assert(spark.sql(s"SELECT count(*) FROM snap.`$root$$history` VERSION AS OF 2")
      .head.getLong(0) == 2L)
  }

  test("INSERT INTO / OVERWRITE land as snapshot commits; DDL stays loud") {
    val root = freshRoot("ins")
    Snapshots.commitAppend(spark, root, Seq((1L, "a")).toDF("id", "tag").coalesce(1))
    // INSERT INTO → an append commit through the claim-serialized
    // publish (round 13, SnapshotWrite): atomic, exactly-once
    spark.sql(s"INSERT INTO snap.`$root` VALUES (9, 'z'), (10, NULL)")
    assert(Snapshots.currentVersion(spark, root) == 2L)
    assert(spark.sql(s"SELECT * FROM snap.`$root`").count() == 3L)
    assert(spark.sql(s"SELECT tag FROM snap.`$root` WHERE id = 10").head.isNullAt(0))
    // version 1 still reads pre-insert (snapshot isolation)
    assert(spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 1").count() == 1L)
    // INSERT OVERWRITE → one atomic REPLACE commit
    spark.sql(s"INSERT OVERWRITE snap.`$root` VALUES (7, 'only')")
    assert(spark.sql(s"SELECT * FROM snap.`$root`").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "only")))
    assert(spark.sql(s"SELECT * FROM snap.`$root` VERSION AS OF 2").count() == 3L)
    // the DataFrameWriterV2 surface reaches the same commit path
    Seq((20L, "w")).toDF("id", "tag").writeTo(s"snap.`$root`").append()
    assert(spark.sql(s"SELECT * FROM snap.`$root`").count() == 2L)
    // appended files carry manifest stats: skipping works on them too
    assert(Snapshots.pruneCounts(spark, root,
      Seq[org.apache.spark.sql.sources.Filter](FLeCat("id", 7L))) == ((1L, 2L)))
    // DDL is served since round 14 (SqlDdlSpec pins the lifecycle);
    // RENAME TABLE is the verb that stays loud (path-addressed names)
    val eRen = intercept[Exception] {
      spark.sql(s"ALTER TABLE snap.`$root` RENAME TO snap.`${root}_2`")
    }
    assert(eRen.getMessage != null)
    // a missing table is NoSuchTable, not a stack trace from the scan
    val eMiss = intercept[Exception] {
      spark.sql(s"SELECT * FROM snap.`${root}_nope`").collect()
    }
    assert(eMiss.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      eMiss.getMessage.contains("cannot be found") ||
      eMiss.getMessage.contains("NoSuchTable"))
  }
}
