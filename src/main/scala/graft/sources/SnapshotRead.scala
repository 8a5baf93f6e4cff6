package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.plans.{DeleteScope, SnapshotDeleteFilter}
import graft.sources.FileStats.ColStats
import graft.sources.Manifest.Entry
import graft.sources.v2.{SnapshotDeleteSets, SnapshotReaderFactory}

/** Read planning of one snapshot version: the one planner behind
  * `Snapshots.readSnapshot` / `readSnapshotPruned`, the DSv2 batch scan
  * and the SQL catalog's schema inference. Given a version's manifest
  * entries and the pushed filters, [[plan]] returns the read schema
  * and, for each data file the manifest statistics cannot exclude, its
  * column binding and its scoped deletes. Contracts:
  *  - **Read schema.** A schema-tracked table reads its current column
  *    binding. An untracked table reads its footers: with
  *    `mergeSchema`, Spark's additive merge ([[ParquetFooters.merged]])
  *    of one footer per commit (files within a commit are one writer
  *    job's output, so O(commits) footers, not O(files)); without, the
  *    first data file's footer. A column re-typed across untracked
  *    commits is no additive change: the merge fails loudly with Spark's
  *    merge error. The DSv2 scan and the catalog always merge.
  *  - **Binding.** A tracked file binds by column id through the schema
  *    version it was written under (`sid` 0 = pre-tracking files, which
  *    bind through the initial schema); an untracked file binds by name
  *    through its commit's footer. A renamed column reads under its
  *    current name, a column the file predates reads NULL, and a column
  *    whose file type differs from the read type casts with Spark cast
  *    semantics under the session's ANSI mode. A cast Spark refuses
  *    fails on the driver, naming the column, when the binding is first
  *    used — a struct that gained a field is such a cast, so the DSv2
  *    scan refuses nested growth that `readSnapshot(mergeSchema = true)`
  *    serves through the parquet reader's own by-name struct resolution.
  *  - **Delete scope.** A data file is scoped by the equality-delete
  *    files committed strictly after it; each delete file's own columns
  *    are its key, typed and checked on the driver
  *    ([[graft.sources.v2.SnapshotDeleteSets.spec]]).
  *  - **Pruning.** A file is kept unless its manifest statistics prove
  *    no row can match ([[mayMatch]]); missing statistics keep it.
  *  - **Zero jobs.** Planning and building a [[frame]] read manifests
  *    and footers on the driver only ([[ParquetFooters]] memoizes
  *    footers per immutable file path), so they start no Spark job.
  *  - **No cross-call cache.** Nothing here is memoized per (root,
  *    version): `DROP TABLE` deletes a root, and a re-created table
  *    reuses version 1. */
private[graft] object SnapshotRead {

  /** One equality-delete file scoped to a data file: its own key
    * columns, their current DDL types, and each key's index into the
    * plan's [[Plan.keyCols]]. */
  final case class DeleteSpec(path: String,
      keyCols: Seq[String], keyTypes: Seq[String], keyIdx: Seq[Int])

  /** A data file of a plan: its manifest entry, the deletes in its scope
    * and, evaluated on first use, the file column bound to each column
    * of the plan's schema ("" = NULL). */
  final class PlannedFile(val entry: Entry, val deletes: Seq[DeleteSpec],
      binding: => Seq[String]) {
    lazy val fileCols: Seq[String] = binding
  }

  /** The read plan of one version: the read schema, the key columns of
    * its delete files (first-seen order) and the surviving data files. */
  final case class Plan(schema: StructType, keyCols: Seq[String], files: Seq[PlannedFile])

  /** Plan the read of a version's entries `es` under `filters`. With
    * `keepAnchor`, a total prune still keeps one data file (a V1 frame
    * scans at least one file; the row filter empties it). */
  def plan(spark: SparkSession, root: String, es: Seq[Entry], filters: Seq[Filter],
      mergeSchema: Boolean, keepAnchor: Boolean): Plan = {
    val schema = readSchema(spark, root, es, mergeSchema)
    val keyCols = keyColumns(spark, es)
    val types = schema.fields.map(f => f.name -> f.dataType.sql).toMap
    val deletes = es.filter(_.kind == "D").map(e =>
      e.ver -> SnapshotDeleteSets.spec(spark, e.path, types, keyCols.indexOf))
    lazy val bind = binder(spark, root, es, schema)
    Plan(schema, keyCols, prune(es, filters, keepAnchor).map(e => new PlannedFile(e,
      deletes.collect { case (dv, sp) if dv > e.ver => sp }, bind(e))))
  }

  /** The read schema of a version's entries (see the object contracts). */
  def readSchema(spark: SparkSession, root: String, es: Seq[Entry],
      mergeSchema: Boolean): StructType =
    Manifest.currentSchema(es) match {
      case Some((_, cols)) =>
        StructType(cols.map(c => StructField(c.name, DataType.fromDDL(c.typ))))
      case None =>
        val data = es.filter(_.kind == "A")
        require(data.nonEmpty, s"snapshot table $root lists no data files at this version")
        SchemaBridge.asNullable(
          if (mergeSchema) ParquetFooters.merged(spark, commitRepresentatives(data).map(_._2))
          else ParquetFooters.schema(spark, data.head.path))
    }

  /** Each data file's binding to `schema`, memoized per schema version
    * (tracked) or per commit (untracked) for one plan. */
  private def binder(spark: SparkSession, root: String, es: Seq[Entry],
      schema: StructType): Entry => Seq[String] = {
    val ansi = spark.sessionState.conf.ansiEnabled
    def bound(fileCol: String, from: DataType, to: StructField): String = {
      require(from == to.dataType ||
        (if (ansi) Cast.canAnsiCast(from, to.dataType) else Cast.canCast(from, to.dataType)),
        s"column '${to.name}' of $root cannot be cast from ${from.sql} to ${to.dataType.sql}")
      fileCol
    }
    val sEntries = es.filter(_.kind == "S").sortBy(_.ver)
    val data = es.filter(_.kind == "A")
    if (sEntries.isEmpty) {
      val byVer = commitRepresentatives(data).map { case (ver, path) =>
        val file = ParquetFooters.schema(spark, path)
        ver -> schema.fields.toSeq.map(f =>
          file.find(_.name == f.name).fold("")(fc => bound(f.name, fc.dataType, f)))
      }.toMap
      e => byVer(e.ver)
    } else {
      val schemas = sEntries.map(e => e.ver -> Manifest.decodeSchema(e.path)).toMap
      val current = schemas(sEntries.last.ver)
      val bySid = data.map(_.sid).distinct.map { sid =>
        val byId = schemas.getOrElse(if (sid == 0) sEntries.head.ver else sid,
          throw new IllegalStateException(s"manifest references unknown schema version $sid"))
          .map(c => c.id -> c).toMap
        sid -> current.zip(schema.fields).map { case (c, f) =>
          byId.get(c.id).fold("")(fc => bound(fc.name, DataType.fromDDL(fc.typ), f))
        }
      }.toMap
      e => bySid(e.sid)
    }
  }

  /** One data file per committing version of `data`, ascending. */
  private[graft] def commitRepresentatives(data: Seq[Entry]): Seq[(Long, String)] =
    data.groupBy(_.ver).toSeq.sortBy(_._1).map { case (ver, files) => ver -> files.head.path }

  /** The key columns of a version's delete files (each file's own
    * footer columns), in first-seen order. */
  def keyColumns(spark: SparkSession, es: Seq[Entry]): Seq[String] =
    es.filter(_.kind == "D").flatMap(e => ParquetFooters.schema(spark, e.path).fieldNames).distinct

  /** The V1 frame of a version's entries: [[plan]]'s surviving files
    * read through one vectorized parquet scan per binding group — the
    * whole table when untracked (the parquet reader binds by name), one
    * scan per schema version when tracked, projected by id and unioned —
    * with `filters` applied to the rows. Deletes apply inside each scan
    * as one codegen'd predicate ([[graft.plans.SnapshotDeleteFilter]])
    * over `_metadata.file_path` and the key columns: no join, no
    * exchange. The frame reads only data files (`inputFiles` lists
    * exactly them), and building it starts no Spark job. */
  def frame(spark: SparkSession, root: String, es: Seq[Entry], filters: Seq[Filter],
      mergeSchema: Boolean): DataFrame = {
    val p = plan(spark, root, es, filters, mergeSchema, keepAnchor = true)
    // a created-but-empty tracked table reads as an empty frame
    if (p.files.isEmpty) return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], p.schema)
    lazy val scope = new DeleteScope(
      p.files.map(f => Snapshots.normPath(f.entry.path) -> f.deletes).toMap,
      SnapshotReaderFactory.readerConf(spark))
    def scan(files: Seq[PlannedFile], fileSchema: StructType, keyCol: String => Column) = {
      val df = spark.read.schema(fileSchema).parquet(files.map(_.entry.path): _*)
      if (p.keyCols.isEmpty) df
      else df.filter(SnapshotDeleteFilter.keep(col("_metadata.file_path"),
        p.keyCols.map(keyCol), scope))
    }
    val read =
      if (Manifest.currentSchema(es).isEmpty) scan(p.files, p.schema, col)
      else p.files.groupBy(_.entry.sid).toSeq.sortBy(_._1).map { case (_, files) =>
        val cols = p.schema.fields.toSeq.zip(files.head.fileCols).map {
          case (f, "") => f.name -> lit(null).cast(f.dataType)
          case (f, n) => f.name -> col(n).cast(f.dataType)
        }
        // one footer per group: writes are checked against their schema
        // version, and initSchema checks the pre-tracking files share one
        scan(files, ParquetFooters.schema(spark, files.head.entry.path), cols.toMap)
          .select(cols.map { case (n, e) => e.as(n) }: _*)
      }.reduce(_ unionByName _)
    filters.map(toColumn).reduceOption(_ && _).fold(read)(read.filter)
  }

  /** The data entries of `es` whose statistics may match every filter;
    * with `keepAnchor`, at least one when `es` has any. */
  def prune(es: Seq[Entry], filters: Seq[Filter], keepAnchor: Boolean): Seq[Entry] = {
    val keyFor = FileStats.keyer(es)
    val data = es.filter(_.kind == "A")
    val kept = if (filters.isEmpty) data else data.filter(e => e.stats.isEmpty || {
      val (st, k) = (FileStats.decodeStats(e.stats), keyFor(e))
      filters.forall(mayMatch(st, k, _))
    })
    if (kept.isEmpty && keepAnchor) data.take(1) else kept
  }

  /** (rows, bytes) the pruned scan touches, from the manifest's reserved
    * `__rows` / `__bytes` statistics; either is None when a surviving
    * file lacks it (never a guess). */
  def scanEstimate(es: Seq[Entry], filters: Seq[Filter]): (Option[Long], Option[Long]) = {
    val kept = prune(es, filters, keepAnchor = false)
    def total(key: String): Option[Long] = {
      val per = kept.map(e => FileStats.decodeStats(e.stats).get(key).map(_.lo.toLong))
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }
    (total("__rows"), total("__bytes"))
  }

  /** Is `f` a filter kind [[mayMatch]] can act on? What a DSv2 scan
    * reports as pushed; every filter stays a residual. */
  def prunableFilter(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    f match {
      case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual | _: In => true
      case EqualNullSafe(_, v) => v != null
      case And(l, r) => prunableFilter(l) && prunableFilter(r)
      case Or(l, r) => prunableFilter(l) && prunableFilter(r)
      case _ => false
    }
  }

  /** Could a file whose per-column ranges are `st` contain a row
    * matching `f`? Missing or incomparable information answers true
    * (keep). Ranges cover non-null values only and every prunable
    * comparison is not-true on NULL, so a file excluded by range holds
    * no matching row; a column known all-NULL (tag 'n') fails every
    * comparison. */
  def mayMatch(st: Map[String, ColStats], keyFor: String => Option[String],
      f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    def rng(attr: String): Option[ColStats] = keyFor(attr).flatMap(st.get)
    f match {
      case EqualTo(a, v) => rng(a).forall(cs => cs.tag != 'n' &&
        cmpBound(cs.tag, cs.lo, v).forall(_ <= 0) &&
          cmpBound(cs.tag, cs.hi, v).forall(_ >= 0))
      case EqualNullSafe(a, v) if v != null => mayMatch(st, keyFor, EqualTo(a, v))
      case GreaterThan(a, v) => rng(a).forall(cs => cs.tag != 'n' &&
        cmpBound(cs.tag, cs.hi, v).forall(_ > 0))
      case GreaterThanOrEqual(a, v) => rng(a).forall(cs => cs.tag != 'n' &&
        cmpBound(cs.tag, cs.hi, v).forall(_ >= 0))
      case LessThan(a, v) => rng(a).forall(cs => cs.tag != 'n' &&
        cmpBound(cs.tag, cs.lo, v).forall(_ < 0))
      case LessThanOrEqual(a, v) => rng(a).forall(cs => cs.tag != 'n' &&
        cmpBound(cs.tag, cs.lo, v).forall(_ <= 0))
      case In(a, vs) => vs.isEmpty || vs.exists(v => mayMatch(st, keyFor, EqualTo(a, v)))
      case And(l, r) => mayMatch(st, keyFor, l) && mayMatch(st, keyFor, r)
      case Or(l, r) => mayMatch(st, keyFor, l) || mayMatch(st, keyFor, r)
      case _ => true // IsNull / StartsWith / Not / … never prune
    }
  }

  /** sign(bound - v), or None when the pair is incomparable (type
    * mismatch, unparseable bound, overflow) — None always ends in
    * "keep". Numeric compares go through BigDecimal (exact at the long
    * extremes); strings compare in unsigned UTF-8 byte order, the order
    * parquet computed the bounds in. */
  private def cmpBound(tag: Char, bound: String, v: Any): Option[Int] =
    try {
      (tag, v) match {
        // an 'l' bound on a DECIMAL column is a manifest written before
        // decimals were tagged 'm' and may hold UNSCALED values; a
        // decimal predicate value identifies the pairing: keep the file
        case ('l', _: java.math.BigDecimal) => None
        case ('l', _: scala.math.BigDecimal) => None
        case ('l', _: java.math.BigInteger) => None
        case ('l' | 'd' | 'm', n: java.lang.Number) =>
          Some(BigDecimal(bound).compare(BigDecimal(n.toString)))
        case ('s', sv: String) => Some(FileStats.utf8Cmp(bound, sv))
        // DATE bounds are epoch days
        case ('t', d: java.sql.Date) =>
          Some(java.lang.Long.compare(bound.toLong, d.toLocalDate.toEpochDay))
        case ('t', d: java.time.LocalDate) =>
          Some(java.lang.Long.compare(bound.toLong, d.toEpochDay))
        // TIMESTAMP bounds are micros: 'u' instant micros (Timestamp /
        // Instant predicates), 'v' naive wall-clock micros (LocalDateTime
        // predicates); a cross pairing never compares across a zone offset
        case ('u', ts: java.sql.Timestamp) => Some(java.lang.Long.compare(bound.toLong,
          instantMicros(ts.toInstant)))
        case ('u', i: java.time.Instant) => Some(java.lang.Long.compare(bound.toLong,
          instantMicros(i)))
        case ('v', ldt: java.time.LocalDateTime) => Some(java.lang.Long.compare(bound.toLong,
          instantMicros(ldt.toInstant(java.time.ZoneOffset.UTC))))
        case _ => None
      }
    } catch {
      case _: NumberFormatException => None
      case _: ArithmeticException => None
    }

  private def instantMicros(i: java.time.Instant): Long =
    math.addExact(math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)

  /** The row predicate of a filter, applied above the pruned scan so a
    * pruned read is exact. Loud on filter kinds with no Column form. */
  private def toColumn(f: Filter): Column = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, p) => col(a).startsWith(p)
      case StringEndsWith(a, p) => col(a).endsWith(p)
      case StringContains(a, p) => col(a).contains(p)
      case And(l, r) => toColumn(l) && toColumn(r)
      case Or(l, r) => toColumn(l) || toColumn(r)
      case Not(c) => !toColumn(c)
      case other => throw new IllegalArgumentException(
        s"readSnapshotPruned cannot express filter $other as a row predicate")
    }
  }
}
