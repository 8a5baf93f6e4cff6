package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** The WIDENED DSv2 batch source (round 13, VERDICT r12 ask #1):
  * merge-on-read deletes and column-ID schema evolution served through
  * the declarative scan, answer-identical to
  * [[graft.sources.Snapshots.readSnapshot]] — plus the remaining loud
  * edges (non-widening re-types). */
class SnapshotBatchFullSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_dsv2full/$name"
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    root
  }

  private def batchRead(root: String) =
    spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).load()

  private def sameAsReadSnapshot(root: String): Unit = {
    val cols = Snapshots.readSnapshot(spark, root).columns.toSeq
    val a = batchRead(root).orderBy(cols.map(col): _*).collect().toSeq
    val b = Snapshots.readSnapshot(spark, root).orderBy(cols.map(col): _*)
      .collect().toSeq
    assert(a == b, s"DSv2 full read diverged from readSnapshot on $root")
  }

  /** Test-local reference for merge-on-read deletes, independent of the
    * engine's key sets and read paths: the per-key-group left join the
    * V1 read once ran, over rows the test tracks itself. `rows` carries
    * each row's commit version in `__ver`; a row survives unless a
    * delete committed at a STRICTLY later version holds its key tuple
    * under SQL join equality (NULL never matches, -0.0 = 0.0, NaN = NaN).
    * Each delete's own columns are its key. */
  private def referenceRead(rows: DataFrame, deletes: Seq[(Long, DataFrame)]): DataFrame = {
    val outCols = rows.columns.toSeq.filterNot(_ == "__ver")
    deletes.groupBy(_._2.columns.toSeq.sorted).toSeq.sortBy(_._1.mkString(","))
      .foldLeft(rows) { case (cur, (keyCols, ds)) =>
        val maxDel = ds.map { case (v, keys) => keys.withColumn("__dver", lit(v)) }
          .reduce(_ unionByName _)
          .groupBy(keyCols.map(col): _*).agg(max("__dver").as("__dver_max"))
        cur.join(maxDel, keyCols, "left")
          .filter(col("__dver_max").isNull || col("__dver_max") <= col("__ver"))
          .drop("__dver_max")
      }.select(outCols.map(col): _*)
  }

  /** readSnapshot and the DSv2 read both equal the reference, rows
    * ordered by every column (the leading `id` is unique among live rows). */
  private def matchesReference(root: String, expected: DataFrame, what: String): Unit = {
    val cols = expected.columns.toSeq.map(col)
    def rows(df: DataFrame) = df.select(cols: _*).orderBy(cols: _*).collect().toSeq
    val want = rows(expected)
    assert(rows(Snapshots.readSnapshot(spark, root)) == want, s"readSnapshot: $what")
    assert(rows(batchRead(root)) == want, s"DSv2: $what")
  }

  test("equality deletes apply in the reader: sequence scoping, merge, re-insert") {
    val root = freshRoot("del")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    Snapshots.commitDelete(spark, root, Seq(3L, 7L).toDF("id"))
    assert(batchRead(root).count() == 8L)
    sameAsReadSnapshot(root)
    // re-insert: the new file's version exceeds the delete's — survives
    Snapshots.commitAppend(spark, root, Seq((3L, "t3b")).toDF("id", "tag").coalesce(1))
    assert(batchRead(root).filter(col("id") === 3L).collect()
      .map(_.getString(1)).toSeq == Seq("t3b"))
    sameAsReadSnapshot(root)
    // merge (delete + data in ONE version): latest-wins upsert
    Snapshots.commitMerge(spark, root,
      Seq((5L, "t5new"), (99L, "t99")).toDF("id", "tag"), Seq("id"))
    assert(batchRead(root).filter(col("id") === 5L).collect()
      .map(_.getString(1)).toSeq == Seq("t5new"))
    sameAsReadSnapshot(root)
    // file skipping composes with deletes: the pushed filter still
    // prunes data files, and the surviving rows still honor the deletes
    val filtered = batchRead(root).filter(col("id") <= 4L)
    assert(filtered.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("column pruning with deletes: the key column is read for the filter, not emitted") {
    val root = freshRoot("delproj")
    Snapshots.commitAppend(spark, root,
      (1L to 6L).map(i => (i, s"t$i", i * 10.0)).toDF("id", "tag", "score").coalesce(1))
    Snapshots.commitDelete(spark, root, Seq(2L, 4L).toDF("id"))
    // projection EXCLUDES the delete key — the reader must still fetch
    // it to apply the delete, then emit only the projection
    val tags = batchRead(root).select("tag").collect().map(_.getString(0)).sorted.toSeq
    assert(tags == Seq("t1", "t3", "t5", "t6"))
    // count(*) (empty projection) under deletes
    assert(batchRead(root).count() == 4L)
    // and the aggregate pushdown correctly DECLINES under deletes (a
    // manifest count would over-count) — answered by the scan instead
    val agg = batchRead(root).agg(count(lit(1)).as("n"))
    assert(!agg.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(agg.head.getLong(0) == 4L)
  }

  test("column-ID evolution through the scan: rename, drop/re-add, NULL backfill") {
    val root = freshRoot("evo")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"s$i", i * 100L)).toDF("id", "src", "v").coalesce(1))
    Snapshots.initSchema(spark, root)
    Snapshots.renameColumn(spark, root, "src", "origin")
    Snapshots.commitAppend(spark, root,
      (11L to 20L).map(i => (i, s"s$i", i * 100L)).toDF("id", "origin", "v").coalesce(1))
    // pre-rename files serve under the NEW name
    assert(batchRead(root).columns.toSeq == Seq("id", "origin", "v"))
    assert(batchRead(root).filter(col("id") === 1L).head.getString(1) == "s1")
    sameAsReadSnapshot(root)
    // drop then re-add same name: old values must NOT resurface
    Snapshots.dropColumn(spark, root, "v")
    Snapshots.addColumn(spark, root, "v", "BIGINT")
    Snapshots.commitAppend(spark, root,
      Seq((21L, "s21", 777L)).toDF("id", "origin", "v").coalesce(1))
    val vs = batchRead(root).select("id", "v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(vs(1L) == -1L, "dropped data resurfaced under a re-added name")
    assert(vs(21L) == 777L)
    sameAsReadSnapshot(root)
    // pruning on the renamed column still skips files (stats by id)
    val parts = batchRead(root).filter(col("id") <= 10L).rdd.getNumPartitions
    assert(parts == 1, s"rename must not defeat file skipping: $parts")
    // deletes compose with evolution in the same scan
    Snapshots.commitDelete(spark, root, Seq(1L, 21L).toDF("id"))
    assert(batchRead(root).count() == 19L)
    sameAsReadSnapshot(root)
  }

  test("additive mergeSchema through the declarative scan: NULL backfill, pruning pinned, deletes compose") {
    // round 15, VERDICT r14 ask #2 — the untracked additive-mergeSchema
    // loud edge retired: plain .load() on a table that GREW a column
    // serves the union schema, old files reading NULL, answer-identical
    // to readSnapshot(mergeSchema = true)
    val root = freshRoot("grow")
    Snapshots.commitAppend(spark, root,
      (1L to 10L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    Snapshots.commitAppend(spark, root,
      (11L to 20L).map(i => (i, s"t$i", i * 1.5)).toDF("id", "tag", "score").coalesce(1))
    val df = batchRead(root)
    assert(df.columns.toSeq == Seq("id", "tag", "score"))
    val scores = df.select("id", "score").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(scores(1L).isNaN, "pre-growth file must read NULL for the grown column")
    assert(scores(15L) == 22.5)
    // answer ≡ the explicit mergeSchema API
    val a = df.orderBy("id").collect().toSeq
    val b = Snapshots.readSnapshot(spark, root, mergeSchema = true)
      .select("id", "tag", "score").orderBy("id").collect().toSeq
    assert(a == b, "DSv2 additive read diverged from readSnapshot(mergeSchema=true)")
    // manifest pruning still pinned: a selective id filter plans 1 file
    assert(df.filter(col("id") <= 5L).rdd.getNumPartitions == 1,
      "growth must not defeat file skipping")
    // filter ON the grown column: the statless old file is kept (missing
    // stat = cannot exclude) and its NULL rows drop in the residual
    val hot = df.filter(col("score") > 20.0)
    assert(hot.rdd.getNumPartitions == 2)
    assert(hot.count() == 7L)
    // VERSION time travel below the growth reads the old shape
    assert(spark.read.format("graft.sources.v2.SnapshotBatchSource")
      .option("root", root).option("version", "1").load()
      .columns.toSeq == Seq("id", "tag"))
    // merge-on-read deletes compose with the additive bindings
    Snapshots.commitDelete(spark, root, Seq(3L, 13L).toDF("id"))
    assert(batchRead(root).count() == 18L)
    assert(batchRead(root).orderBy("id").collect().toSeq ==
      Snapshots.readSnapshot(spark, root, mergeSchema = true)
        .select("id", "tag", "score").orderBy("id").collect().toSeq)
    // a CONFLICTING re-type across commits is not additive — Spark's
    // schema merge refuses it loudly on both paths
    val bad = freshRoot("grow_conflict")
    Snapshots.commitAppend(spark, bad, Seq((1L, 1L)).toDF("id", "v").coalesce(1))
    Snapshots.commitAppend(spark, bad, Seq((2L, "s")).toDF("id", "v").coalesce(1))
    val e = intercept[Exception] { batchRead(bad).collect() }
    assert(e.getMessage.contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"), e.getMessage)
    val e1 = intercept[Exception] { Snapshots.readSnapshot(spark, bad, mergeSchema = true) }
    assert(e1.getMessage.contains("CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE"), e1.getMessage)
  }

  test("a root deleted and re-committed reads its new schema through DSv2 and SQL") {
    val root = freshRoot("recreated")
    spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    def sql = spark.sql(s"SELECT * FROM snap.`$root`")
    Snapshots.commitAppend(spark, root, Seq((1L, "a1")).toDF("id", "a").coalesce(1))
    for (df <- Seq(batchRead(root), sql)) {
      assert(df.columns.toSeq == Seq("id", "a"))
      assert(df.collect().length == 1)
    }
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // the re-created table reuses version 1
    assert(Snapshots.commitAppend(spark, root,
      Seq((2L, "b2"), (3L, "b3")).toDF("id", "b").coalesce(1)) == 1L)
    for ((what, df) <- Seq("DSv2" -> batchRead(root), "SQL" -> sql)) {
      assert(df.columns.toSeq == Seq("id", "b"), what)
      assert(df.orderBy("id").collect().map(r => r.getLong(0) -> r.getString(1)).toSeq ==
        Seq(2L -> "b2", 3L -> "b3"), what)
    }
  }

  test("untracked DECIMAL widening reads through DSv2 as readSnapshot(mergeSchema = true)") {
    val root = freshRoot("decwiden")
    def commit(id: Long, d: String, typ: String): Unit = Snapshots.commitAppend(spark, root,
      Seq((id, d)).toDF("id", "d").select(col("id"), col("d").cast(typ)).coalesce(1))
    commit(1L, "1.25", "DECIMAL(10,2)")
    commit(2L, "1234567890.50", "DECIMAL(12,2)")
    val dsv2 = batchRead(root)
    for (vectorized <- Seq("true", "false")) {
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      try {
        val merged = Snapshots.readSnapshot(spark, root, mergeSchema = true)
        assert(merged.schema("d").dataType.sql == "DECIMAL(12,2)")
        assert(dsv2.schema == merged.schema)
        assert(dsv2.orderBy("id").collect().toSeq == merged.orderBy("id").collect().toSeq,
          s"vectorized=$vectorized")
        assert(merged.orderBy("id").collect().map(_.getDecimal(1).toPlainString).toSeq ==
          Seq("1.25", "1234567890.50"))
      } finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    }
  }

  test("untracked struct growth: one schema, DSv2 refuses the struct cast at planning") {
    // Cast.canCast is false for a struct that gained a field, so the one
    // binding rule refuses it on the driver, naming the column, while
    // readSnapshot(mergeSchema = true) serves it through the parquet
    // reader's by-name struct resolution
    val root = freshRoot("structgrow")
    Snapshots.commitAppend(spark, root,
      spark.sql("SELECT 1L AS id, named_struct('a', 1) AS s").coalesce(1))
    Snapshots.commitAppend(spark, root,
      spark.sql("SELECT 2L AS id, named_struct('a', 2, 'b', 'x') AS s").coalesce(1))
    val merged = Snapshots.readSnapshot(spark, root, mergeSchema = true)
    assert(merged.schema("s").dataType.sql == "STRUCT<a: INT, b: STRING>")
    assert(merged.orderBy("id").select("s.a", "s.b").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq == Seq((1, None), (2, Some("x"))))
    val dsv2 = batchRead(root)
    assert(dsv2.schema == merged.schema)
    val e = intercept[Exception](dsv2.collect())
    val refused = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
    assert(refused.exists(_.getMessage.contains("column 's'")), e.toString)
    assert(!e.getMessage.contains("stage failure"), "the refusal must come before any task")
  }

  test("re-types cast in-scan as readSnapshot casts them") {
    val root = freshRoot("widen")
    Snapshots.commitAppend(spark, root,
      (1 to 5).map(i => (i.toLong, i)).toDF("id", "v").coalesce(1)) // v: INT
    Snapshots.initSchema(spark, root)
    Snapshots.alterColumnType(spark, root, "v", "BIGINT")
    Snapshots.commitAppend(spark, root,
      Seq((6L, 600000000000L)).toDF("id", "v").coalesce(1)) // v: BIGINT
    val out = batchRead(root)
    assert(out.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(out.agg(sum("v")).head.getLong(0) == 15L + 600000000000L)
    sameAsReadSnapshot(root)
    // a re-type outside the lossless widenings reads with Spark cast
    // semantics, as readSnapshot reads it
    val root2 = freshRoot("widenbad")
    Snapshots.commitAppend(spark, root2,
      Seq((1L, 5)).toDF("id", "v").coalesce(1))
    Snapshots.initSchema(spark, root2)
    Snapshots.alterColumnType(spark, root2, "v", "STRING")
    assert(batchRead(root2).head.getString(1) == "5")
    assert(Snapshots.readSnapshot(spark, root2).head.getString(1) == "5")
    sameAsReadSnapshot(root2)
  }

  private type R = (Long, Int, String, java.sql.Timestamp, Long) // id, v, tag, ts, w

  test("randomized equivalence: commits, deletes, renames, widens — DSv2 ≡ readSnapshot") {
    // both paths against the test-local reference, not only each other:
    // they share one key-matching implementation. Rows are tracked with
    // v and w in their first types; the reference casts them to the
    // current types, as the read paths do
    val rnd = new scala.util.Random(13)
    val root = freshRoot("fuzz")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(): java.sql.Timestamp = new java.sql.Timestamp(t0 + rnd.nextInt(50) * 3600000L)
    def row(i: Long): R = (i, rnd.nextInt(100), s"x$i", ts(), rnd.nextInt(1000) * 1000000007L)
    var tagName = "tag"
    var vType = "INT"
    var wType = "BIGINT"
    // re-types outside the lossless widenings, each applied once
    val retypes = scala.collection.mutable.Queue(
      "v" -> (if (rnd.nextBoolean()) "STRING" else "DECIMAL(20,0)"), "w" -> "STRING")
    def typed(df: DataFrame): DataFrame = df
      .withColumn("v", col("v").cast(vType)).withColumn("w", col("w").cast(wType))
    def frame(batch: Seq[R]): DataFrame =
      typed(batch.toDF("id", "v", tagName, "ts", "w")).coalesce(1)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, R)]
    val deletes = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame)]
    def reference(): DataFrame = referenceRead(
      typed(rows.toSeq.map { case (ver, (i, v, t, s0, w)) => (ver, i, v, t, s0, w) }
        .toDF("__ver", "id", "v", tagName, "ts", "w")), deletes.toSeq)
    // a REPLACE of the live rows materializes pending deletes, which
    // schema evolution requires
    def materialize(): Unit = if (deletes.nonEmpty) {
      val live = reference().select("id").as[Long].collect().toSet
      val kept = rows.map(_._2).filter(r => live(r._1)).toSeq
      val vr = Snapshots.commitReplace(spark, root, frame(kept))
      rows.clear(); rows ++= kept.map(vr -> _); deletes.clear()
    }
    def evolve(): Unit = {
      materialize()
      if (retypes.nonEmpty && rnd.nextBoolean()) {
        val (c, t) = retypes.dequeue()
        Snapshots.alterColumnType(spark, root, c, t)
        if (c == "v") vType = t else wType = t
      } else {
        val to = if (tagName == "tag") "label" else "tag"
        Snapshots.renameColumn(spark, root, tagName, to); tagName = to
      }
    }
    val first = (1L to 20L).map(row)
    val v1 = Snapshots.commitAppend(spark, root, frame(first))
    Snapshots.initSchema(spark, root)
    rows ++= first.map(v1 -> _)
    var nextId = 21L
    def check(what: String): Unit = {
      assert(batchRead(root).schema == Snapshots.readSnapshot(spark, root).schema, what)
      matchesReference(root, reference(), what)
    }
    for (step <- 1 to 12) {
      rnd.nextInt(4) match {
        case 0 => // append a small batch under the current schema
          val batch = (0 until 5).map { _ => val r = row(nextId); nextId += 1; r }
          val v = Snapshots.commitAppend(spark, root, frame(batch))
          rows ++= batch.map(v -> _)
        case 1 => // delete a random slice — alternating KEY COLUMNS, so
          // the fuzz also exercises mixed-key delete composition (the
          // r13 in-round find: per-delete-file key resolution)
          val keys = rnd.nextInt(3) match {
            case 0 => (1L until nextId).filter(_ => rnd.nextInt(10) == 0).toDF("id")
            case 1 if !vType.startsWith("DECIMAL") => // DECIMAL is no key type
              typed((0 until 100).filter(_ => rnd.nextInt(25) == 0).map(v => (v, 0L))
                .toDF("v", "w")).select("v")
            case _ => rows.map(_._2._4).distinct.filter(_ => rnd.nextInt(8) == 0).toSeq.toDF("ts")
          }
          if (!keys.isEmpty) deletes += Snapshots.commitDelete(spark, root, keys) -> keys
        case 2 => evolve()
        case 3 => () // no-op round
      }
      check(s"step $step")
    }
    while (retypes.nonEmpty) { evolve(); check(s"$vType / $wType") }
    assert(batchRead(root).schema.map(_.dataType.sql) ==
      Seq("BIGINT", vType, "STRING", "TIMESTAMP", "STRING"))
  }

  test("deletes against the reference: NULL / -0.0 / NaN keys, mixed keys, re-inserts, merge") {
    val root = freshRoot("keys")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double], Option[String])]
    val deletes = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame)]
    def append(batch: Seq[(Long, Option[Double], Option[String])]): Unit = {
      val v = Snapshots.commitAppend(spark, root, batch.toDF("id", "score", "tag").coalesce(1))
      rows ++= batch.map { case (i, sc, t) => (v, i, sc, t) }
    }
    def delete(keys: DataFrame): Unit = deletes += Snapshots.commitDelete(spark, root, keys) -> keys
    def check(what: String): Unit = matchesReference(root,
      referenceRead(rows.toSeq.toDF("__ver", "id", "score", "tag"), deletes.toSeq), what)
    append(Seq((1L, Some(0.0), Some("t1")), (2L, Some(-0.0), Some("t2")),
      (3L, Some(Double.NaN), Some("t3")), (4L, None, Some("t4")), (5L, Some(1.5), Some("t5")),
      (6L, Some(2.5), None), (7L, Some(3.5), Some("t7")), (8L, Some(0.0), None)))
    // -0.0 matches 0.0 and -0.0, NaN matches NaN, a NULL key matches nothing
    delete(Seq(Some(-0.0), Some(Double.NaN), None).toDF("score"))
    check("signed zero, NaN and NULL keys")
    assert(Snapshots.readSnapshot(spark, root).count() == 4L)
    // a two-column key beside the one-column one; NULL components never match
    delete(Seq((5L, Option("t5")), (6L, Option.empty[String]), (7L, Option("nope")))
      .toDF("id", "tag"))
    check("mixed one- and two-column keys")
    // re-inserted keys survive the earlier deletes
    append(Seq((1L, Some(0.0), Some("t1b")), (5L, Some(1.5), Some("t5")),
      (9L, Some(Double.NaN), None)))
    check("re-inserts")
    delete(Seq(5L).toDF("id"))
    check("delete after re-insert")
    // a merge's delete and data share one version: its own rows survive
    val updates = Seq((1L, Some(9.0), Some("m1")), (10L, Some(-0.0), Some("m10")))
    val vm = Snapshots.commitMerge(spark, root, updates.toDF("id", "score", "tag"), Seq("id"))
    deletes += vm -> Seq(1L, 10L).toDF("id")
    rows ++= updates.map { case (i, sc, t) => (vm, i, sc, t) }
    check("merge")
  }

  test("deletes against the reference on a tracked table across renames") {
    val root = freshRoot("tracked_keys")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
    val deletes = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame)]
    var names = Seq("id", "src", "n")
    def append(batch: Seq[(Long, String, Int)]): Unit = {
      val v = Snapshots.commitAppend(spark, root, batch.toDF(names: _*).coalesce(1))
      rows ++= batch.map { case (i, s0, n) => (v, i, s0, n) }
    }
    def check(what: String): Unit = matchesReference(root,
      referenceRead(rows.toSeq.toDF("__ver" +: names: _*), deletes.toSeq), what)
    append((1L to 6L).map(i => (i, s"s${i % 3}", i.toInt)))
    Snapshots.initSchema(spark, root)
    Snapshots.renameColumn(spark, root, "src", "origin")
    names = Seq("id", "origin", "n")
    append((7L to 10L).map(i => (i, s"s${i % 3}", i.toInt)))
    // a key on the renamed column reaches pre-rename files by column id
    val k1 = Seq("s1").toDF("origin")
    deletes += Snapshots.commitDelete(spark, root, k1) -> k1
    check("delete on a renamed column")
    append(Seq((11L, "s1", 11)))
    val k2 = Seq((2L, 2), (8L, 0)).toDF("id", "n")
    deletes += Snapshots.commitDelete(spark, root, k2) -> k2
    check("two-column key after a re-insert of a deleted key value")
  }

  test("SQL catalog serves evolved tables through the same full scan") {
    val root = freshRoot("sqlfull")
    Snapshots.commitAppend(spark, root,
      (1L to 8L).map(i => (i, s"s$i")).toDF("id", "src").coalesce(1))
    Snapshots.initSchema(spark, root)
    Snapshots.renameColumn(spark, root, "src", "origin")
    Snapshots.commitDelete(spark, root, Seq(2L).toDF("id"))
    spark.conf.set("spark.sql.catalog.snap", "graft.sources.v2.SnapshotCatalog")
    val out = spark.sql(s"SELECT origin FROM snap.`$root` WHERE id <= 3 ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("s1", "s3"))
  }
}
