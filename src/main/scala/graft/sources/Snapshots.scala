package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.FileStats.ColStats
import graft.sources.Manifest.{Entry, SchemaCol}
import graft.sources.v2.WrittenFile

/** The snapshot lake: manifest-versioned tables over a plain parquet
  * prefix, the table format over the kind of S3 prefix the reference
  * provisions (`src/copy_from_template.py:316-327`,
  * `synapseformation_templates/default.yaml:5-10`). Data files are
  * immutable and a small manifest per version is the unit of
  * atomicity, the design Iceberg and Delta formalize. This object holds
  * the public verbs: commits, schema DDL, reads, metadata and
  * maintenance. The manifest format and its reads are [[Manifest]]'s,
  * the commit protocol [[Commit]]'s, file statistics [[FileStats]]'s
  * and read planning [[SnapshotRead]]'s.
  *
  * Contracts:
  *  - **Isolation.** A commit writes its files into a commit-private
  *    directory first, then publishes one manifest version; a reader
  *    pinned at a version reads that version's frozen file list, so
  *    later commits never change what it reads.
  *  - **Concurrency and fencing.** Any number of writers may commit
  *    concurrently: each commit lands exactly once, at some version, in
  *    claim order, and no committed state is lost ([[Commit]]).
  *    Read-modify-write commits (layout rewrites, copy-on-write
  *    UPDATE/MERGE) validate what they read and abort with
  *    [[ConcurrentTableChangeException]] instead of dropping a
  *    concurrent commit.
  *  - **Idempotence.** [[commitMergeOnce]] and the streaming sink's
  *    appends commit a transaction id in the same version as their
  *    files; a replayed id publishes nothing.
  *  - **Deletes.** Row-level deletes are merge-on-read equality deletes
  *    with Iceberg v2 sequence scoping: a delete removes matching rows
  *    of data files committed strictly before it, so a re-inserted key
  *    survives and a commit's own delete spares its own rows. A REPLACE
  *    materializes pending deletes away.
  *  - **Skip safety.** File skipping and metadata answers use manifest
  *    statistics only when every needed fact is known; any gap keeps
  *    the file or declines the answer, never a wrong result. */
object Snapshots {

  /** Highest committed version, or 0 when the table has none. */
  def currentVersion(spark: SparkSession, root: String): Long =
    Manifest.currentVersion(spark, root)

  // ---------------------------------------------------------------------
  // Commits. Every commit writes its files through the lake's one writer
  // ([[graft.sources.v2.SnapshotFileWriter]]: Spark's parquet output
  // under the session's write settings) into a commit-private directory
  // `data/c-<uuid>` or `deletes/c-<uuid>`, with no committer rename and
  // no `_SUCCESS` marker. Each write task returns its file with the
  // stats of the footer it just closed, so the publish neither lists a
  // directory nor re-reads a footer. The `commit*Files` publishers take
  // those written files; the manifest publish is the commit point.
  // ---------------------------------------------------------------------

  /** Write `df` under `dir` (relative to `root`), one file per task, in
    * one Spark job: the `FileFormatWriter` file-set rule — task 0 writes
    * a file even when empty (so an empty frame keeps its schema in a
    * footer), other empty tasks write none, and a frame with no
    * partitions runs one empty task. Returns the files sorted by path. */
  private def writeFiles(spark: SparkSession, root: String, dir: String,
      df: DataFrame): Seq[WrittenFile] = {
    val writer = graft.sources.v2.SnapshotFileWriter(spark, Commit.privateDir(root, dir), df.schema)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(df.queryExecution,
        Some("snapshot commit")) {
      val rows = df.queryExecution.toRdd
      val tasks =
        if (rows.getNumPartitions > 0) rows
        else spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.catalyst.InternalRow], 1)
      tasks.mapPartitionsWithIndex((i, it) => writer.write(i, it, always = i == 0).iterator)
        .collect().toSeq.sortBy(_.path)
    }
  }

  /** The manifest line of data file `f` committed at version `v`: the
    * current schema version and the file's statistics, keyed as a read
    * of that version keys them ([[FileStats.keyer]]). */
  private def dataLine(v: Long, carried: Seq[Entry])(f: WrittenFile): String = {
    val e = Entry("A", v, f.path, Manifest.currentSchema(carried).map(_._1).getOrElse(0L))
    e.copy(stats = FileStats.encodeStats(f.stats, FileStats.keyer(carried)(e))).line
  }

  /** Loud name AND type check for writes into a schema-tracked table:
    * new data must carry exactly the current column names with the
    * tracked DDL types (the writer-side half of the column-ID contract
    * — the read side resolves by id and groups same-sid files into one
    * scan, so a name- or type-mismatched write would silently bind
    * wrong columns). */
  private def checkWriteSchema(carried: Seq[Entry],
      written: org.apache.spark.sql.types.StructType, what: String): Unit =
    Manifest.currentSchema(carried).foreach { case (_, cur) =>
      val got = written.fields.map(f => f.name -> f.dataType).toMap
      require(got.keySet == cur.map(_.name).toSet,
        s"$what columns ${got.keySet.toSeq.sorted.mkString(",")} must match the " +
          s"tracked schema ${cur.map(_.name).sorted.mkString(",")}")
      // nullability is no type difference: a NOT NULL nested field (a
      // SQL write keeps its query's) is a valid value of the nullable one
      cur.foreach { c =>
        require(org.apache.spark.sql.graftbridge.SchemaBridge.equalsIgnoreCompatibleNullability(
            got(c.name), org.apache.spark.sql.types.DataType.fromDDL(c.typ)),
          s"$what column '${c.name}' has type ${got(c.name).sql} but the tracked " +
            s"schema requires ${c.typ}")
      }
    }

  /** APPEND commit: new version = previous version's entries + `df`'s
    * files. On a schema-tracked table the new files are stamped with the
    * current schema version and the columns are checked loudly. Returns
    * the committed version number. */
  def commitAppend(spark: SparkSession, root: String, df: DataFrame): Long =
    commitAppendFiles(spark, root, writeFiles(spark, root, "data", df), df.schema)

  /** APPEND of written files (the DSv2 write path and [[commitAppend]]);
    * `written` is the files' schema, checked against a tracked binding. */
  private[graft] def commitAppendFiles(spark: SparkSession, root: String,
      mine: Seq[WrittenFile], written: org.apache.spark.sql.types.StructType): Long =
    appendFiles(spark, root, mine, written, None)

  /** [[commitAppendFiles]] exactly once per `txnId` (the streaming
    * sink's epoch commit): a replayed id returns the current version and
    * publishes nothing ([[Commit.publishAdding]]). */
  private[graft] def commitAppendFilesOnce(spark: SparkSession, root: String,
      mine: Seq[WrittenFile], written: org.apache.spark.sql.types.StructType,
      txnId: String): Long =
    Commit.committed(spark, root, txnId).getOrElse(
      appendFiles(spark, root, mine, written, Some(txnId)))

  private def appendFiles(spark: SparkSession, root: String, mine: Seq[WrittenFile],
      written: org.apache.spark.sql.types.StructType, txnId: Option[String]): Long =
    Commit.publishAdding(spark, root, txnId) { (v, carried) =>
      checkWriteSchema(carried, written, "commitAppend")
      mine.map(dataLine(v, carried))
    }

  /** A read-modify-write commit (clustering, UPDATE/MERGE rewrites)
    * found that the table changed between its read and its claim —
    * publishing would silently DROP the concurrent commit's entries.
    * Callers catch this and retry the whole read-rewrite-publish. */
  private[graft] final class ConcurrentTableChangeException(root: String)
    extends RuntimeException(
      s"table $root changed between a rewrite's read and its publish — the " +
        "rewrite must re-read and retry (its commit-private files are unused)")

  /** REPLACE with written files (INSERT OVERWRITE and [[commitReplace]]):
    * one atomic version listing only the new files; schema entries and
    * idempotence markers are carried, pending deletes materialized away.
    * With `expectCarried` (the data/delete lines a rewrite read) the
    * publish aborts with [[ConcurrentTableChangeException]] when the
    * table changed since that read. */
  private[graft] def commitReplaceFiles(spark: SparkSession, root: String,
      mine: Seq[WrittenFile],
      written: org.apache.spark.sql.types.StructType,
      expectCarried: Option[Set[String]] = None): Long =
    Commit.publish(spark, root) { (v, carried) =>
      expectCarried.foreach { exp =>
        val now = carried.filter(e => e.kind == "A" || e.kind == "D")
          .map(_.line).toSet
        if (now != exp) throw new ConcurrentTableChangeException(root)
      }
      checkWriteSchema(carried, written, "commitReplace")
      // markers are carried: a replace landing between a streaming
      // epoch's commit and its checkpoint must not reopen the replay
      carried.filter(e => e.kind == "S" || e.kind == "T").map(_.line) ++
        mine.map(dataLine(v, carried))
    }

  /** REPLACE commit: new version lists ONLY `df`'s files (compaction /
    * rewrite), dropping carried delete files too — a replace
    * materializes pending deletes away. Schema entries ARE carried (a
    * compaction does not forget the table's column identity). Prior
    * versions keep reading their own files — nothing is deleted until
    * [[vacuum]]. */
  def commitReplace(spark: SparkSession, root: String, df: DataFrame): Long =
    commitReplaceFiles(spark, root, writeFiles(spark, root, "data", df), df.schema)

  /** CLUSTERING compaction: a REPLACE that re-sorts the table by
    * `sortCols` into `numFiles` range-partitioned, internally sorted
    * files with fresh manifest statistics — the snapshot-native
    * `OPTIMIZE … ZORDER` / `rewrite_data_files(sort)`. After clustering
    * the files hold disjoint ranges of the sort key, so a selective
    * predicate prunes to the few files it intersects. One full shuffle
    * (`repartitionByRange`); multi-column `sortCols` range-partitions by
    * the leading column and co-sorts the rest. A validated
    * read-modify-write ([[commitReplaceRewrite]]). */
  def commitReplaceClustered(spark: SparkSession, root: String,
      sortCols: Seq[String], numFiles: Int): Long = {
    require(sortCols.nonEmpty, "clustering needs at least one sort column")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val cols = sortCols.map(col)
    commitReplaceRewrite(spark, root)(cur =>
      cur.repartitionByRange(numFiles, cols: _*).sortWithinPartitions(cols: _*))
  }

  /** Z-ORDER clustering compaction: a REPLACE that lays the table out on
    * the Morton interleave of two keys ([[FileView.zOrdered]]), so each
    * file covers a compact rectangle of the key space and manifest
    * statistics prune on either key's predicate. A validated
    * read-modify-write ([[commitReplaceRewrite]]). */
  def commitReplaceZOrdered(spark: SparkSession, root: String,
      keyA: String, keyB: String, numFiles: Int, bits: Int = 16): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    commitReplaceRewrite(spark, root)(cur =>
      FileView.zOrdered(cur, keyA, keyB, numFiles, bits))
  }

  /** The validated read-modify-write REPLACE loop of the layout
    * rewrites: pin the version the rewrite reads, remember the
    * data/delete entries it consumed, let [[commitReplaceFiles]] abort
    * if the table changed in between, then re-read and retry, so a
    * concurrent append or merge is never dropped. At most five retries:
    * a table that hot should run its maintenance off-peak. */
  private def commitReplaceRewrite(spark: SparkSession, root: String)(
      xform: DataFrame => DataFrame): Long = {
    var attempt = 0
    while (true) {
      val v0 = currentVersion(spark, root)
      val consumed = Manifest.entries(spark, root, v0)
        .filter(e => e.kind == "A" || e.kind == "D").map(_.line).toSet
      val cur = readSnapshot(spark, root, v0)
      val mine = writeFiles(spark, root, "data", xform(cur))
      try {
        return commitReplaceFiles(spark, root, mine, cur.schema,
          expectCarried = Some(consumed))
      } catch {
        case _: ConcurrentTableChangeException if attempt < 5 =>
          // the losing attempt's files are in no manifest: reclaim them
          mine.headOption.foreach { f =>
            val dir = new Path(f.path).getParent
            Manifest.fs(spark, dir).delete(dir, true)
          }
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** REWRITE commit — the storage half of copy-on-write SQL UPDATE /
    * MERGE INTO / non-equality DELETE: atomically swap exactly
    * `removed` data files for `added` ones in one version. Untouched
    * data files, schema entries and delete entries up to `readVersion`
    * are carried (the new files' version exceeds those deletes, whose
    * effect the rewrite already applied).
    *
    * Validated read-modify-write: the publish aborts with
    * [[ConcurrentTableChangeException]] when a removed path is no longer
    * listed (a concurrent rewrite or replace touched it) or a delete or
    * schema entry landed after `readVersion` (it would apply to the
    * pre-image this rewrite consumed). Concurrent appends are carried
    * through untouched. */
  private[graft] def commitRewriteFiles(spark: SparkSession, root: String,
      removed: Seq[String], added: Seq[WrittenFile],
      written: org.apache.spark.sql.types.StructType, readVersion: Long): Long =
    Commit.publish(spark, root) { (v, carried) =>
      val dataPaths = carried.filter(_.kind == "A").map(_.path).toSet
      val removedSet = removed.toSet
      if (!removedSet.subsetOf(dataPaths) ||
          carried.exists(e => (e.kind == "D" || e.kind == "S") && e.ver > readVersion))
        throw new ConcurrentTableChangeException(root)
      checkWriteSchema(carried, written, "commitRewrite")
      // a schema-tracked table may end with zero data files (it reads as
      // an empty frame of its tracked schema); an untracked table's
      // schema lives only in its files' footers
      require(Manifest.currentSchema(carried).isDefined ||
          carried.count(_.kind == "A") - removedSet.size + added.size > 0,
        s"rewrite would leave UNTRACKED table $root with no data files (its " +
          "schema lives in the files) — an all-rows DELETE on an untracked " +
          "table should commitReplace a new table instead")
      carried.filterNot(e => e.kind == "A" && removedSet(e.path)).map(_.line) ++
        added.map(dataLine(v, carried))
    }

  /** Equality-delete keys must be of a type both read paths match
    * exactly ([[graft.sources.v2.SnapshotDeleteSets.PrimitiveDdl]]:
    * integral INT/BIGINT, floating, BOOLEAN, STRING, DATE, TIMESTAMP,
    * TIMESTAMP_NTZ). Other types (DECIMAL, SMALLINT, BINARY, nested, …)
    * fail here, before any file is written. */
  private def checkDeleteKeyTypes(keys: org.apache.spark.sql.types.StructType,
      what: String): Unit =
    keys.fields.foreach { f =>
      require(graft.sources.v2.SnapshotDeleteSets.PrimitiveDdl.contains(f.dataType.sql),
        s"$what: delete key '${f.name}' has type ${f.dataType.sql}; equality-delete " +
          "keys must be INT, BIGINT, FLOAT, DOUBLE, BOOLEAN, STRING, DATE, TIMESTAMP " +
          "or TIMESTAMP_NTZ")
    }

  /** Row-level DELETE commit (merge-on-read equality deletes): publish
    * `keys` (deduplicated; its columns ARE the equality key) as a
    * delete file. No data file is rewritten — [[readSnapshot]] applies
    * the delete, scoped to data committed BEFORE it, so a later
    * re-insert of the same key survives (Iceberg v2 semantics). All
    * delete commits against one table must share the key schema. */
  def commitDelete(spark: SparkSession, root: String, keys: DataFrame): Long = {
    checkDeleteKeyTypes(keys.schema, "commitDelete")
    val mine = writeFiles(spark, root, "deletes", keys.dropDuplicates())
    Commit.publishAdding(spark, root, None) { (v, carried) =>
      require(carried.exists(_.kind == "A"), s"cannot delete from an empty table $root")
      // keys must name current columns with the current TYPES: both read
      // paths compare key tuples in the current type domain, and a
      // narrower or wider key file would silently match nothing.
      // Untracked tables check against the first data file's footer.
      val curTypes: Map[String, String] = Manifest.currentSchema(carried) match {
        case Some((_, cur)) => cur.map(c => c.name -> c.typ).toMap
        case None =>
          ParquetFooters.schema(spark, carried.find(_.kind == "A").get.path)
            .fields.map(f => f.name -> f.dataType.sql).toMap
      }
      require(keys.columns.forall(curTypes.contains),
        s"delete key columns ${keys.columns.mkString(",")} must be current " +
          s"table columns (${curTypes.keys.toSeq.sorted.mkString(",")})")
      keys.schema.fields.foreach { f =>
        require(curTypes(f.name) == f.dataType.sql,
          s"delete key '${f.name}' has type ${f.dataType.sql} but the table " +
            s"column is ${curTypes(f.name)}")
      }
      mine.map(f => Entry("D", v, f.path).line)
    }
  }

  /** MERGE (upsert) commit: ONE atomic version carrying both a delete
    * file on `keyCols` and `updates`' data files. The sequence rule
    * (deletes kill only data from STRICTLY EARLIER versions) means the
    * delete erases every pre-existing row sharing a key with an update
    * while the update rows themselves — same version as the delete —
    * survive: latest-wins upsert, no read-modify-write of any data
    * file, and a reader either sees the whole merge or none of it. */
  def commitMerge(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String]): Long =
    merge(spark, root, updates, keyCols, None)

  /** [[commitMerge]] exactly once per `txnId` (the `foreachBatch`
    * streaming upsert): the id is committed as a marker in the merge's
    * own version, so a replayed id returns the current version and
    * publishes nothing, with no crash window. Ids of the form
    * `<writer>-e<epoch>` keep one marker per writer. An id recorded
    * nowhere re-merges; re-merging the same updates is idempotent under
    * latest-wins (the replay's delete kills the first attempt's copies
    * and re-inserts identical rows), so a replay costs at most a
    * duplicate version, never wrong data. Returns the committed (or
    * already-committed) version. */
  def commitMergeOnce(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], txnId: String): Long =
    Commit.committed(spark, root, txnId).getOrElse(
      merge(spark, root, updates, keyCols, Some(txnId)))

  private def merge(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String], txnId: Option[String]): Long = {
    checkDeleteKeyTypes(org.apache.spark.sql.types.StructType(
      keyCols.map(k => updates.schema(k))), "commitMerge")
    val adds = writeFiles(spark, root, "data", updates)
    val dels = writeFiles(spark, root, "deletes",
      updates.select(keyCols.map(col): _*).dropDuplicates())
    Commit.publishAdding(spark, root, txnId) { (v, carried) =>
      require(carried.exists(_.kind == "A"), s"cannot merge into an empty table $root")
      checkWriteSchema(carried, updates.schema, "commitMerge")
      dels.map(f => Entry("D", v, f.path).line) ++ adds.map(dataLine(v, carried))
    }
  }

  // ---------------------------------------------------------------------
  // Column-ID schema evolution (Iceberg's schema model): every column
  // gets a stable integer id when tracking begins; a rename changes only
  // the (id → name) binding, a drop removes it and an add mints a
  // never-reused id. Data files record the schema version they were
  // written under and reads resolve their columns by id, so a rename
  // survives, a dropped-then-re-added name reads NULL from old files and
  // a re-type is one cast at read. Schema changes are ordinary commits:
  // time travel below a rename reads the old names.
  // ---------------------------------------------------------------------

  /** CREATE a new, empty, schema-tracked table: version 1 is a single S
    * entry binding the declared columns to ids 1..n. Reads of the empty
    * table return an empty frame of the tracked schema. Loud if the
    * root already holds a table. */
  def createTable(spark: SparkSession, root: String,
      cols: Seq[(String, String)]): Long = {
    require(cols.nonEmpty, "a table needs at least one column")
    Commit.publish(spark, root) { (v, carried) =>
      require(carried.isEmpty && v == 1,
        s"$root already holds a snapshot table — drop it first")
      val sc = cols.zipWithIndex.map { case ((n, t), i) =>
        // normalize through catalyst so the stored DDL round-trips
        SchemaCol(i + 1, n, org.apache.spark.sql.types.DataType.fromDDL(t).sql)
      }
      Seq(Entry("S", v, Manifest.encodeSchema(sc)).line)
    }
  }

  /** Begin schema tracking: capture the table's current parquet schema
    * as the initial column-ID binding (ids 1..n in field order), as its
    * own commit. Files committed before it (sid 0) resolve against this
    * binding, which is sound only when every pre-tracking file shares
    * one schema: that is checked (one footer per commit), so a table
    * grown through the additive mergeSchema tier must be REPLACE-
    * compacted first. A second init fails loudly. */
  def initSchema(spark: SparkSession, root: String): Long =
    Commit.publish(spark, root) { (v, carried) =>
      require(carried.forall(_.kind != "S"), s"$root already tracks a schema")
      val data = carried.filter(_.kind == "A")
      require(data.nonEmpty, s"cannot init schema on empty table $root")
      val one = ParquetFooters.schema(spark, data.head.path)
      val merged = ParquetFooters.merged(spark, SnapshotRead.commitRepresentatives(data).map(_._2))
      require(
        merged.fields.map(f => (f.name, f.dataType)).toSet ==
          one.fields.map(f => (f.name, f.dataType)).toSet,
        s"pre-tracking files of $root do not share one schema (additive-tier " +
          "history) — commitReplace to normalize before initSchema")
      val cols = one.fields.zipWithIndex.map {
        case (f, i) => SchemaCol(i + 1, f.name, f.dataType.sql)
      }
      carried.map(_.line) :+ Entry("S", v, Manifest.encodeSchema(cols.toSeq)).line
    }

  /** Shared alter-commit: publish a new S entry derived from the
    * current binding. `xform` receives the current columns and the next
    * never-used id (max over ALL history — ids are never recycled, even
    * across drops). Pending equality deletes block ALL schema changes
    * (delete files store key columns by NAME; a REPLACE materializes
    * them away first). */
  private def alterSchema(spark: SparkSession, root: String, what: String)(
      xform: (Seq[SchemaCol], Int) => Seq[SchemaCol]): Long =
    Commit.publish(spark, root) { (v, carried) =>
      val (_, cur) = Manifest.currentSchema(carried).getOrElse(
        throw new IllegalStateException(
          s"$root does not track a schema — call initSchema first"))
      require(carried.forall(_.kind != "D"),
        s"$what: materialize pending deletes (commitReplace) before schema " +
          "evolution — delete files store key columns by name")
      val nextId = (carried.filter(_.kind == "S")
        .flatMap(e => Manifest.decodeSchema(e.path)).map(_.id) :+ 0).max + 1
      carried.map(_.line) :+ Entry("S", v, Manifest.encodeSchema(xform(cur, nextId))).line
    }

  /** RENAME a column: same id, new name — existing files keep reading
    * into the renamed column; new writes must use the new name. */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String): Long =
    alterSchema(spark, root, s"renameColumn($from -> $to)") { (cur, _) =>
      require(cur.exists(_.name == from), s"no column '$from' to rename")
      require(!cur.exists(_.name == to), s"column '$to' already exists")
      cur.map(c => if (c.name == from) c.copy(name = to) else c)
    }

  /** DROP a column: the id's binding is removed (never reused), so a
    * later [[addColumn]] under the SAME NAME gets a fresh id and old
    * files read NULL for it — dropped data does not resurface. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long =
    alterSchema(spark, root, s"dropColumn($name)") { (cur, _) =>
      require(cur.exists(_.name == name), s"no column '$name' to drop")
      require(cur.size > 1, "cannot drop the last column")
      cur.filterNot(_.name == name)
    }

  /** ADD a column with a fresh id; files written before it read NULL.
    * `typeDdl` is a Spark DDL type string (e.g. "BIGINT", "STRING"). */
  def addColumn(spark: SparkSession, root: String, name: String,
      typeDdl: String): Long =
    alterSchema(spark, root, s"addColumn($name)") { (cur, nextId) =>
      require(!cur.exists(_.name == name), s"column '$name' already exists")
      cur :+ SchemaCol(nextId, name, typeDdl)
    }

  /** WIDEN (re-type) a column in place: same id, new DDL type; every
    * file's values cast at read (Spark cast semantics — callers pick
    * widenings that are lossless, e.g. INT → BIGINT). */
  def alterColumnType(spark: SparkSession, root: String, name: String,
      typeDdl: String): Long =
    alterSchema(spark, root, s"alterColumnType($name)") { (cur, _) =>
      require(cur.exists(_.name == name), s"no column '$name' to re-type")
      cur.map(c => if (c.name == name) c.copy(typ = typeDdl) else c)
    }

  /** The tracked schema visible at version `v` (None before
    * [[initSchema]]) — (id, name, type) triples in column order. */
  def trackedSchema(spark: SparkSession, root: String,
      v: Long = -1L): Option[Seq[(Int, String, String)]] =
    Manifest.currentSchema(Manifest.at(spark, root, v))
      .map(_._2.map(c => (c.id, c.name, c.typ)))

  /** Scheme-and-authority stripper for manifest paths: `file:/x`,
    * `file:///x`, `hdfs://host:9000/x` and `s3a://bucket/x` all
    * normalize to the bare path. The executor side
    * ([[graft.plans.DeleteScope.barePath]]) decodes a
    * `_metadata.file_path` URI to the same bare path. Within one table
    * every file shares the root, so dropping the authority cannot alias
    * two distinct files. */
  private[graft] val SchemeAuthorityRe = "^[a-z][a-zA-Z0-9+.-]*:(//[^/]*)?"

  private[graft] def normPath(p: String): String =
    p.replaceFirst(SchemeAuthorityRe, "")

  // ---------------------------------------------------------------------
  // Reads
  // ---------------------------------------------------------------------

  /** Read the table AT a version (time travel); defaults to the current
    * version. The returned frame's file list is frozen at call time —
    * concurrent later commits cannot change what it reads. With no
    * delete files this is a PLAIN parquet scan (pushdown/pruning
    * untouched); with deletes the scan applies the sequence-scoped
    * equality anti-filter: keep a row iff no delete with version
    * STRICTLY GREATER than the row's data-file version matches its key
    * columns (same-version data survives its own commit's delete — what
    * makes [[commitMerge]]'s single-commit upsert work). Planning and
    * the frame are [[SnapshotRead]]'s; building the frame starts no
    * Spark job.
    *
    * SCHEMA EVOLUTION, two tiers:
    *  - additive-only (untracked tables): `mergeSchema = true` unions
    *    the file footers' schemas (one footer per commit), so a commit
    *    that ADDED columns coexists with older files (their rows read
    *    NULL for the new columns). Off by default: the read schema is
    *    the first data file's.
    *  - FULL column-ID evolution (after [[initSchema]]): rename, drop,
    *    add and re-type all survive reads across commits — files are
    *    resolved by column id.
    */
  def readSnapshot(spark: SparkSession, root: String, version: Long = -1L,
      mergeSchema: Boolean = false): DataFrame =
    readSnapshotPruned(spark, root, Nil, version, mergeSchema)

  /** [[readSnapshot]] with MANIFEST-LEVEL FILE SKIPPING: before Spark
    * sees any file, each data file's manifest statistics are tested
    * against `filters` (the public `org.apache.spark.sql.sources.Filter`
    * ADT — the same representation DSv2 pushdown hands a source) and
    * files whose ranges cannot contain a match are dropped from the
    * scan. The filters are ALSO applied to the surviving rows, so the
    * result equals `readSnapshot(...).filter(...)` exactly — skipping is
    * pure optimization.
    *
    * Supported for pruning: EqualTo / EqualNullSafe / GreaterThan(OrEq)
    * / LessThan(OrEq) / In / And / Or over integral, floating, string,
    * date, timestamp and decimal columns. Anything else (IsNull,
    * StringStartsWith, Not, …) prunes nothing but still filters rows.
    * Files with no stats for a referenced column (stats-less commits,
    * nested/unsupported types, over-long string bounds) are always
    * kept. On a schema-tracked table filter columns resolve through the
    * CURRENT binding's stable ids, so pruning keeps working across
    * renames — and never mis-prunes a dropped-then-re-added name
    * against old ranges. A selective read costs O(files) driver-side
    * string compares and no data IO for skipped files. */
  def readSnapshotPruned(spark: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Long = -1L, mergeSchema: Boolean = false): DataFrame =
    SnapshotRead.frame(spark, root, Manifest.at(spark, root, version), filters, mergeSchema)

  /** (files kept, files total) that [[readSnapshotPruned]] would scan —
    * the observable the gate and specs pin. */
  def pruneCounts(spark: SparkSession, root: String,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Long = -1L): (Long, Long) = {
    val es = Manifest.at(spark, root, version)
    (SnapshotRead.prune(es, filters, keepAnchor = true).size.toLong,
      es.count(_.kind == "A").toLong)
  }

  /** Number of DATA files version `v` lists — the observable the gate
    * pins (file counts are deterministic under explicit coalesce). */
  def fileCount(spark: SparkSession, root: String, v: Long): Long =
    Manifest.entries(spark, root, v).count(_.kind == "A").toLong

  /** File-level CDC for APPEND-ONLY history: read exactly the rows
    * committed after `sinceV` up to `toV` (default: current) by
    * diffing the two manifests and scanning ONLY the added files —
    * old data is never touched, which is what makes incremental
    * consumption O(|delta|). ENFORCED contract ([[appendedDataFiles]]):
    * `toV` lists everything `sinceV` lists, with no new DELETE files
    * (for replaces and deletes use [[snapshotDiff]], the row-level
    * path). */
  def readAppendedSince(spark: SparkSession, root: String, sinceV: Long,
      toV: Long = -1L): DataFrame = {
    val to = Manifest.resolve(spark, root, toV)
    val added = appendedDataFiles(spark, root, sinceV, to)
    require(added.nonEmpty, s"no files were appended between $sinceV and $to")
    spark.read.schema(ParquetFooters.schema(spark, added.head)).parquet(added: _*)
  }

  /** Data files appended in `(sinceV, toV]` (`sinceV = 0` = from the
    * table's beginning) — also each streaming micro-batch's files
    * ([[graft.sources.v2.SnapshotStreamSource]]). Loud unless `toV`
    * lists every entry `sinceV` lists, adds no delete file, and adds no
    * schema entry that postdates a data file (a schema CHANGE: files
    * written under different bindings cannot be read as one; a schema
    * entry predating all data, i.e. table creation, is fine). May be
    * empty. */
  private[graft] def appendedDataFiles(spark: SparkSession, root: String,
      sinceV: Long, toV: Long): Seq[String] = {
    val step = Manifest.walk(spark, root, sinceV, Iterator(toV)).next()
    require(step.dropped.isEmpty,
      s"versions $sinceV → $toV are not append-only (a REPLACE rewrote files); " +
        "file-diff CDC is only sound over append commits")
    require(!step.added.exists(_.kind == "D"),
      s"versions $sinceV → $toV include row deletes; file-diff CDC covers pure " +
        "inserts — use snapshotDiff for the row-level delta")
    require(step.added.filter(_.kind == "S").forall(se =>
      step.entries.forall(e => e.kind != "A" || e.ver > se.ver)),
      s"versions $sinceV → $toV include a schema CHANGE; file-diff CDC does " +
        "not span schema-change commits — restart the consumer from the new " +
        "schema (a schema entry predating all data, i.e. table creation, is fine)")
    step.added.filter(_.kind == "A").map(_.path)
  }

  /** Row-level diff between two versions, the general-commit CDC
    * (handles REPLACE and delete commits, where file-diff is unsound):
    * one `change` column tagging rows `add` (in `toV` only) / `del`
    * (in `fromV` only), compared by the full row via EXCEPT ALL — the
    * honest one-shuffle cost of diffing a rewrite; appends should
    * prefer [[readAppendedSince]], which reads only the delta files. */
  def snapshotDiff(spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    val a = readSnapshot(spark, root, fromV)
    val b = readSnapshot(spark, root, toV)
    b.exceptAll(a).withColumn("change", lit("add"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("del")))
  }

  // ---------------------------------------------------------------------
  // Metadata: answered from manifests alone, zero data IO. Each
  // aggregate is a function of one version's entries; the public forms
  // read that version once.
  // ---------------------------------------------------------------------

  /** Per-data-file facts of a version for the `$files` metadata table:
    * (path, committing version, schema version, row count, on-disk
    * bytes), the last two None when the file has no stats. */
  private[graft] def fileInfos(spark: SparkSession, root: String,
      version: Long): Seq[(String, Long, Long, Option[Long], Option[Long])] =
    Manifest.at(spark, root, version).filter(_.kind == "A").map { e =>
      val st = FileStats.decodeStats(e.stats)
      (e.path, e.ver, e.sid, rowsOf(st), st.get("__bytes").map(_.lo.toLong))
    }

  /** Per-version facts for the `$history` metadata table: (version,
    * data files listed, delete files listed, schema entries, data files
    * added over the previous surviving version) for every surviving
    * version up to `upTo` (negative = current). The first surviving
    * version of a vacuumed table counts all it lists as added: its
    * predecessor's manifest is gone. */
  private[graft] def historyInfos(spark: SparkSession, root: String,
      upTo: Long): Seq[(Long, Long, Long, Long, Long)] = {
    val versions = Manifest.surviving(spark, root, Manifest.resolve(spark, root, upTo))
    Manifest.walk(spark, root, 0L, versions.iterator).map { s =>
      def n(es: Seq[Entry], kind: String) = es.count(_.kind == kind).toLong
      (s.version, n(s.entries, "A"), n(s.entries, "D"), n(s.entries, "S"), n(s.added, "A"))
    }.toList
  }

  /** The last version committed at-or-before `tsMillis` (the adjusted
    * commit clocks of [[Manifest.commitTimesMillis]]) — the `TIMESTAMP
    * AS OF` resolution. A timestamp equal to a commit's instant includes
    * that commit; between two commits resolves to the earlier; before
    * the first surviving commit is a loud error (the table did not
    * exist yet, or that history was vacuumed). */
  def versionAtTimestamp(spark: SparkSession, root: String,
      tsMillis: Long): Long = {
    val times = Manifest.commitTimesMillis(spark, root)
    require(times.nonEmpty, s"snapshot table $root has no committed version")
    require(tsMillis >= times.head._2,
      s"timestamp $tsMillis predates $root's first surviving commit " +
        s"(${times.head._2}) — the table did not exist yet, or that history " +
        "was vacuumed")
    times.filter(_._2 <= tsMillis).last._1
  }

  /** The data files of `es` with their decoded statistics, or None when
    * `es` lists a delete file: a deleted row still sits in its immutable
    * file, so file-level counts over-count and ranges may bound a
    * deleted extreme. The one delete guard of the metadata aggregates. */
  private def factFiles(es: Seq[Entry]): Option[Seq[(Entry, Map[String, ColStats])]] =
    if (es.exists(_.kind == "D")) None
    else Some(es.filter(_.kind == "A").map(e => e -> FileStats.decodeStats(e.stats)))

  private def allKnown[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.exists(_.isEmpty)) None else Some(xs.flatten)

  private def rowsOf(st: Map[String, ColStats]): Option[Long] = st.get("__rows").map(_.lo.toLong)

  /** A file's integral range of a column: Some(None) when the column is
    * all-NULL in it, None when unknown or not integral. */
  private def longRange(cs: Option[ColStats]): Option[Option[(Long, Long)]] = cs match {
    case Some(c) if c.tag == 'n' => Some(None)
    case Some(c) if c.tag == 'l' => Some(Some((c.lo.toLong, c.hi.toLong)))
    case _ => None
  }

  /** The (min, max) over ranges; None when there are none (SQL min/max
    * of only NULLs is NULL). */
  private def span(rs: Seq[(Long, Long)]): Option[(Long, Long)] =
    if (rs.isEmpty) None else Some((rs.map(_._1).min, rs.map(_._2).max))

  /** METADATA-ONLY aggregates — the Iceberg "metadata table"
    * capability: a count(*) or min/max of any size in one manifest read.
    * Each answers only when every data file carries the needed stat and
    * the version lists no delete file; any gap returns None, and a
    * caller falls back to the scan, never to a wrong answer. */
  def metadataRowCount(spark: SparkSession, root: String,
      version: Long = -1L): Option[Long] =
    metadataRowCount(Manifest.at(spark, root, version))

  private[graft] def metadataRowCount(es: Seq[Entry]): Option[Long] =
    factFiles(es).flatMap(fs => allKnown(fs.map(f => rowsOf(f._2)))).map(_.sum)

  /** Manifest-only (min, max) of an integral column (tag 'l'). A
    * re-typed column's stats stay in the write-time integral domain —
    * values are numerically exact, the caller gets longs either way. */
  def metadataMinMaxLong(spark: SparkSession, root: String, column: String,
      version: Long = -1L): Option[(Long, Long)] =
    metadataMinMaxLong(Manifest.at(spark, root, version), column)

  private[graft] def metadataMinMaxLong(es: Seq[Entry], column: String): Option[(Long, Long)] = {
    val keyFor = FileStats.keyer(es)
    factFiles(es).flatMap(fs => allKnown(fs.map { case (e, st) =>
      longRange(keyFor(e)(column).flatMap(st.get))
    })).flatMap(rs => span(rs.flatten))
  }

  /** Per data file: (group key, entry, stats) when `groupCol` is
    * single-valued in EVERY file ('l'/'s'/'t' with lo == hi, or 'n' =
    * the NULL group, key None) — what a partition-shaped ingest gives,
    * and what makes "rows per day/source" answerable from the manifest.
    * None on any gap. Keys are the encoded bound strings. */
  private def singleValued(es: Seq[Entry],
      groupCol: String): Option[Seq[(Option[String], Entry, Map[String, ColStats])]] = {
    val keyFor = FileStats.keyer(es)
    factFiles(es).flatMap(fs => allKnown(fs.map { case (e, st) =>
      keyFor(e)(groupCol).flatMap(st.get) match {
        case Some(cs) if cs.tag == 'n' => Some((None, e, st))
        case Some(cs) if (cs.tag == 'l' || cs.tag == 's' || cs.tag == 't') &&
          cs.lo == cs.hi => Some((Some(cs.lo), e, st))
        case _ => None // missing, multi-valued, or un-modeled tag
      }
    }))
  }

  /** Manifest-only `SELECT groupCol, count(*) … GROUP BY groupCol`:
    * one (key, rows) pair per distinct per-file value, keys as encoded
    * bound strings (longs render decimal, dates as epoch days), None =
    * the NULL group. Sorted by key for determinism. */
  def metadataGroupedRowCount(spark: SparkSession, root: String,
      groupCol: String, version: Long = -1L): Option[Seq[(Option[String], Long)]] =
    metadataGroupedRowCount(Manifest.at(spark, root, version), groupCol)

  private[graft] def metadataGroupedRowCount(es: Seq[Entry],
      groupCol: String): Option[Seq[(Option[String], Long)]] =
    singleValued(es, groupCol)
      .flatMap(fs => allKnown(fs.map { case (k, _, st) => rowsOf(st).map(k -> _) }))
      .map(_.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1))

  /** Manifest-only `SELECT groupCol, min(valCol), max(valCol) … GROUP
    * BY groupCol` for an integral `valCol`. Inner None = the group's
    * files are all-NULL in `valCol` (SQL min/max would be NULL). */
  def metadataGroupedMinMaxLong(spark: SparkSession, root: String,
      groupCol: String, valCol: String, version: Long = -1L)
      : Option[Seq[(Option[String], Option[(Long, Long)])]] =
    metadataGroupedMinMaxLong(Manifest.at(spark, root, version), groupCol, valCol)

  private[graft] def metadataGroupedMinMaxLong(es: Seq[Entry], groupCol: String,
      valCol: String): Option[Seq[(Option[String], Option[(Long, Long)])]] = {
    val keyFor = FileStats.keyer(es)
    singleValued(es, groupCol).flatMap(fs => allKnown(fs.map { case (k, e, st) =>
      longRange(keyFor(e)(valCol).flatMap(st.get)).map(k -> _)
    })).map(_.groupBy(_._1).view.mapValues(xs => span(xs.flatMap(_._2))).toSeq.sortBy(_._1))
  }

  // ---------------------------------------------------------------------
  // Maintenance
  // ---------------------------------------------------------------------

  /** ORPHAN-FILE cleanup: delete files under `root/data` and
    * `root/deletes` that NO surviving manifest version references AND
    * that are older than `graceMs` (default 72 h, Iceberg's
    * remove_orphan_files posture): a crashed writer's commit-private
    * files, a speculative task's stray part file, a lost rewrite's
    * output. The grace period is the safety contract: a live writer's
    * files are unreferenced between its write and its publish, so the
    * grace must exceed the longest write-to-publish span — never run a
    * short grace while writers are active. Empty commit-private
    * directories are swept too. Returns files deleted. */
  def removeOrphanFiles(spark: SparkSession, root: String,
      graceMs: Long = 72L * 3600 * 1000): Long = {
    val cur = currentVersion(spark, root)
    require(cur > 0, s"$root holds no snapshot table")
    // every entry a surviving version lists was added by it or by a
    // surviving predecessor
    val referenced: Set[String] =
      Manifest.walk(spark, root, 0L, Manifest.surviving(spark, root, cur).iterator)
        .flatMap(_.added).filter(e => e.kind == "A" || e.kind == "D")
        .map(e => normPath(e.path)).toSet
    val now = System.currentTimeMillis
    var deleted = 0L
    for (sub <- Seq("data", "deletes")) {
      val dir = new Path(root, sub)
      val f = Manifest.fs(spark, dir)
      if (f.exists(dir)) {
        val it = f.listFiles(dir, true)
        val stale = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && !referenced(normPath(st.getPath.toString)) &&
              now - st.getModificationTime > graceMs)
            stale += st.getPath
        }
        stale.foreach { p => if (f.delete(p, false)) deleted += 1 }
        f.listStatus(dir).filter(_.isDirectory).foreach { d =>
          if (f.listStatus(d.getPath).isEmpty) f.delete(d.getPath, false)
        }
      }
    }
    deleted
  }

  /** Reclaim: delete data/delete files referenced ONLY by versions <
    * `keepFrom` (and their manifests, claims and claim tombstones).
    * Readers pinned at kept versions are unaffected; time travel below
    * `keepFrom` ends here — the explicit, separate destructive step,
    * like a table format's expire-snapshots. Returns files deleted. */
  def vacuum(spark: SparkSession, root: String, keepFrom: Long): Long = {
    val cur = currentVersion(spark, root)
    require(keepFrom >= 1 && keepFrom <= cur,
      s"keepFrom $keepFrom out of [1, $cur]")
    val keep = (keepFrom to cur).flatMap(Manifest.entries(spark, root, _)).map(_.path).toSet
    val f = Manifest.fs(spark, new Path(root))
    var deleted = 0L
    for (v <- Manifest.surviving(spark, root, keepFrom - 1)) {
      Manifest.entries(spark, root, v) // S payloads / T txn ids are not file paths
        .filter(e => e.kind == "A" || e.kind == "D")
        .map(_.path).filterNot(keep).foreach { file =>
          if (f.delete(new Path(file), false)) deleted += 1
        }
      f.delete(Manifest.path(root, v), false)
      val claim = Manifest.claimPath(root, v)
      f.delete(claim, false)
      f.globStatus(claim.suffix(".broken-*")).foreach(st => f.delete(st.getPath, false))
    }
    deleted
  }
}
