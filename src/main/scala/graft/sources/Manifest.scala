package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The snapshot lake's manifest log: its on-disk layout, its line
  * format and every read of it. Nothing else in the engine knows where
  * manifests live or how a line is spelled.
  *
  * Layout:
  * {{{
  *   root/data/c-<uuid>/part-*.parquet    -- immutable once committed
  *   root/deletes/c-<uuid>/part-*.parquet -- equality-delete key files
  *   root/_manifests/v<N>.list            -- version N's entries
  *   root/_manifests/v<N>.claim           -- commit arbitration ([[Commit]])
  * }}}
  *
  * A manifest is one [[Entry]] per line. Entries are immutable once
  * written: every commit carries its predecessor's lines verbatim
  * unless it removes them, so the difference between two versions'
  * entry sets is exactly what the later one changed ([[walk]]).
  * Versions are immutable too, but a table root can be dropped and
  * re-created from version 1, so no read here is memoized. */
private[graft] object Manifest {

  def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(root: String) = new Path(root, "_manifests")

  def path(root: String, v: Long): Path = new Path(dir(root), f"v$v%05d.list")

  def claimPath(root: String, v: Long): Path = new Path(dir(root), f"v$v%05d.claim")

  /** Is `root` a snapshot table (does it hold a manifest log)? */
  def isTable(spark: SparkSession, root: String): Boolean = fs(spark, dir(root)).exists(dir(root))

  /** One manifest line, `KIND\tVER\tPATH[\tSID[\tSTATS]]`:
    *  - `A`: a data file committed at VER. On a schema-tracked table it
    *    carries the schema version (`sid`) it was written under; 0 means
    *    written before tracking began (it binds through the initial
    *    schema). `stats` holds its [[FileStats]].
    *  - `D`: an equality-delete key file committed at VER.
    *  - `S`: a schema binding; PATH carries the encoded [[SchemaCol]]s.
    *  - `T`: an idempotence marker; PATH carries a transaction id
    *    committed atomically with VER's files ([[Commit.publishAdding]]).
    * A bare path parses as `A\t0\tPATH` (legacy). */
  final case class Entry(kind: String, ver: Long, path: String,
      sid: Long = 0L, stats: String = "") {
    def line: String =
      if (kind == "A" && stats.nonEmpty) s"$kind\t$ver\t$path\t$sid\t$stats"
      else if (kind == "A" && sid != 0L) s"$kind\t$ver\t$path\t$sid"
      else s"$kind\t$ver\t$path"
  }

  private def parseEntry(line: String): Entry = line.split('\t') match {
    case Array(k, v, p, s, st) if k == "A" => Entry(k, v.toLong, p, s.toLong, st)
    case Array(k, v, p, s) if k == "A" => Entry(k, v.toLong, p, s.toLong)
    case Array(k, v, p) if k == "A" || k == "D" || k == "S" || k == "T" =>
      Entry(k, v.toLong, p)
    case Array(p) => Entry("A", 0L, p)
    case _ => throw new IllegalArgumentException(s"bad manifest line: $line")
  }

  /** One column of a tracked schema: a stable id (never reused, which is
    * what makes rename and drop/re-add-same-name sound), its current
    * name, and its Spark DDL type. */
  final case class SchemaCol(id: Int, name: String, typ: String)

  /** Schema payload codec: `id;name;type|id;name;type|…`. Names and
    * rendered DDL types are checked free of the delimiters, so the
    * encoding is unambiguous. */
  def encodeSchema(cols: Seq[SchemaCol]): String = {
    cols.foreach { c =>
      require(!c.name.exists(ch => ch == ';' || ch == '|' || ch == '\t' || ch == '\n'),
        s"column name '${c.name}' contains a schema-encoding delimiter")
      require(!c.typ.exists(ch => ch == ';' || ch == '|' || ch == '\t' || ch == '\n'),
        s"column type '${c.typ}' contains a schema-encoding delimiter")
    }
    require(cols.map(_.id).distinct.size == cols.size, "duplicate column id")
    require(cols.map(_.name).distinct.size == cols.size, "duplicate column name")
    cols.map(c => s"${c.id};${c.name};${c.typ}").mkString("|")
  }

  def decodeSchema(payload: String): Seq[SchemaCol] =
    payload.split('|').toSeq.map { s =>
      val Array(id, name, typ) = s.split(';')
      SchemaCol(id.toInt, name, typ)
    }

  /** The latest tracked schema among `es`' S entries: (its version, its
    * columns), or None on an untracked table. */
  def currentSchema(es: Seq[Entry]): Option[(Long, Seq[SchemaCol])] =
    es.filter(_.kind == "S").sortBy(_.ver).lastOption.map(e => e.ver -> decodeSchema(e.path))

  /** Highest committed version, or 0 when the table has none. A `.tmp`
    * left by a writer killed mid-publish is not a version. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val f = fs(spark, dir(root))
    if (!f.exists(dir(root))) 0L
    else f.listStatus(dir(root)).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".list"))
      .map(n => n.stripPrefix("v").stripSuffix(".list").toLong)
      .foldLeft(0L)(math.max)
  }

  /** The version a `version` argument names: itself when >= 0, the
    * current version when negative (every verb's default, -1). */
  def resolve(spark: SparkSession, root: String, version: Long): Long =
    if (version >= 0) version else currentVersion(spark, root)

  /** The parsed manifest of version `v`: one read. A caller asking
    * several questions of one version reads it once and passes the
    * entries down. */
  def entries(spark: SparkSession, root: String, v: Long): Seq[Entry] = {
    val mp = path(root, v)
    val f = fs(spark, mp)
    require(f.exists(mp), s"snapshot version $v does not exist under $root")
    val in = f.open(mp)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(parseEntry).toList
    finally in.close()
  }

  /** The entries of the version `version` names ([[resolve]]). */
  def at(spark: SparkSession, root: String, version: Long): Seq[Entry] =
    entries(spark, root, resolve(spark, root, version))

  /** Versions in [1, hi] whose manifest exists: vacuum expires a
    * prefix, so this is a suffix (computed by existence, so a partial
    * sweep degrades gracefully); versions past the current one do not
    * exist yet. */
  def surviving(spark: SparkSession, root: String, hi: Long): Seq[Long] = {
    val f = fs(spark, dir(root))
    (1L to hi).filter(v => f.exists(path(root, v)))
  }

  /** One version of a [[walk]]: its entries, those it lists that its
    * walked predecessor did not, and those it no longer lists. */
  final case class Step(version: Long, entries: Seq[Entry], added: Seq[Entry],
      dropped: Seq[Entry])

  /** The one version walk: for each of `versions` (ascending), what it
    * changed over the previously walked version, starting from version
    * `base` (0 = the empty table). Lazy: each manifest is read once,
    * when its step is consumed, and the base with the first step; a
    * missing manifest fails when its step is reached. */
  def walk(spark: SparkSession, root: String, base: Long,
      versions: Iterator[Long]): Iterator[Step] = {
    var prev: Set[Entry] = null
    versions.map { v =>
      if (prev == null) prev = if (base <= 0) Set.empty else entries(spark, root, base).toSet
      val es = entries(spark, root, v)
      val now = es.toSet
      val step = Step(v, es, es.filterNot(prev), prev.filterNot(now).toSeq)
      prev = now
      step
    }
  }

  /** Monotonic commit wall-clocks of the surviving versions up to
    * `upTo` (negative = current): each manifest file's modification
    * time, forced at least 1 ms past its predecessor's so the sequence
    * strictly increases. The manifest records no wall-clock of its own
    * (the claim protocol trusts no clock), so the file system's
    * observation is the source, as Delta's `timestampAsOf` does. */
  def commitTimesMillis(spark: SparkSession, root: String,
      upTo: Long = -1L): Seq[(Long, Long)] = {
    val f = fs(spark, dir(root))
    var last = Long.MinValue
    surviving(spark, root, resolve(spark, root, upTo)).map { v =>
      val raw = f.getFileStatus(path(root, v)).getModificationTime
      last = if (last == Long.MinValue) raw else math.max(raw, last + 1)
      (v, last)
    }
  }
}
