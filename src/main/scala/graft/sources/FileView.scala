package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's central abstraction re-expressed on Spark: a **file
  * view** — a table with one row per file in a scope plus its metadata and
  * annotations (`synapseformation_templates/default.yaml:5-10`:
  * `EntityViewSchema`, `includeEntityTypes:['file']`,
  * `addDefaultViewColumns`, `addAnnotationColumns`), followed by the
  * reference's type-correction pass (`src/copy_from_template.py:164-232`)
  * and the partitioned S3-style parquet sink
  * (`src/copy_from_template.py:316`: `bridge-downstream/{app}/{study}/parquet/`).
  */
object FileView {

  /** One row per file: path/size/mtime (the "default view columns") —
    * metadata only, content is never read (`binaryFile` prunes the
    * `content` column when unselected). Annotations, in Bridge, ride as a
    * JSON sidecar/annotation map; callers join or `from_json` them on,
    * or use [[scanAnnotated]] for the full `addAnnotationColumns`
    * semantics. */
  def scan(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .select(
        col("path"),
        col("length").as("file_size"),
        col("modificationTime").as("file_modified"))

  /** The reference view's `addAnnotationColumns: true` semantics
    * (`synapseformation_templates/default.yaml:9`): columns = default
    * file metadata ∪ EVERY annotation key found on the files. Annotations
    * arrive as a (path, json) sidecar frame; each distinct key across the
    * corpus is promoted to a top-level STRING column (missing → NULL),
    * exactly how an entity view materializes a schema from data. The
    * promoted columns are the "first draft" the re-typing pass
    * ([[retype]]) then corrects — the reference's two-step posture
    * (`copy_from_template.py:164-232`).
    *
    * Scale: the key-vocabulary discovery is one aggregation collecting
    * DISTINCT KEYS only (annotation vocabularies are small by
    * construction — the reference caps them as typed view columns;
    * `maxKeys` guards the collect). Parsing is one narrow `from_json`
    * into a map + one projection; no shuffle of file contents. */
  def scanAnnotated(spark: SparkSession, glob: String,
      annotations: DataFrame, maxKeys: Int = 200): DataFrame = {
    import org.apache.spark.sql.types._
    val ann = annotations.select(col("path"),
      from_json(col("json"), MapType(StringType, StringType)).as("__ann"))
    val keys = ann.select(explode(map_keys(col("__ann"))).as("k"))
      .distinct().orderBy("k").limit(maxKeys + 1)
      .collect().map(_.getString(0))
    require(keys.length <= maxKeys,
      s"annotation vocabulary exceeds $maxKeys keys — widen maxKeys deliberately")
    // fail fast on keys that would shadow the default view columns — a
    // promoted "path" column would make col("path") ambiguous downstream
    val reserved = keys.filter(Set("path", "file_size", "file_modified"))
    require(reserved.isEmpty,
      s"annotation keys collide with default view columns: ${reserved.mkString(", ")}" +
        " — rename or prefix them in the sidecar")
    val promoted = keys.toSeq.map(k => element_at(col("__ann"), k).as(k))
    scan(spark, glob).join(ann, Seq("path"), "left_outer")
      .select(col("path") +: col("file_size") +: col("file_modified") +: promoted: _*)
  }

  /** The reference's exact re-typing vocabulary
    * (`src/copy_from_template.py:177-190`, verbatim). */
  val ignoreCols: Seq[String] = Seq("name", "etag", "type")
  val dateCols: Seq[String] = Seq(
    "exportedOn", "eventTimestamp", "uploadedOn", "scheduleModifiedOn", "startedOn")
  val booleanCols: Seq[String] = Seq(
    "timeWindowPersistent", "isFirstAssessment", "isLastAssessment", "schedulePublished")
  val intCols: Seq[String] = Seq(
    "sessionInstanceStartDay", "sessionInstanceEndDay", "assessmentRevision", "participantVersion")
  val xlStrFields: Seq[String] = Seq("clientInfo", "appInfo")
  val xlStrLength = 512  // copy_from_template.py:166,207-208
  val defaultStrLength = 128  // copy_from_template.py:167,209-210

  /** The re-typing pass as one projection (`copy_from_template.py:194-218`
    * branch ladder): STRING date→TIMESTAMP, "true"/"false"→BOOLEAN,
    * digits→INT; ignore-cols and non-string cols pass through untouched —
    * the reference's "don't rewrite what doesn't change" posture.
    * Strings stay STRING (width is validation, not storage — see
    * [[widthViolations]]). One narrow projection, no shuffle. */
  def retype(df: DataFrame): DataFrame = {
    // try_-variants: schema-on-read data has empty strings / malformed
    // values, and Spark 4 runs ANSI mode by default (a plain cast throws).
    // Malformed -> NULL mirrors the view semantics the reference corrects.
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      if (ignoreCols.contains(f.name) || f.dataType != StringType) c
      else if (dateCols.contains(f.name)) try_to_timestamp(c).as(f.name)
      else if (booleanCols.contains(f.name)) expr(s"try_cast(`${f.name}` AS BOOLEAN)").as(f.name)
      else if (intCols.contains(f.name)) expr(s"try_cast(`${f.name}` AS INT)").as(f.name)
      else c
    }
    df.select(cols.toSeq: _*)
  }

  /** Per-row array of `"col:len"` entries breaking the reference's
    * string-width contract (`maximumSize`: 512 for clientInfo/appInfo,
    * 128 default) — empty array when the row is clean. Shared by
    * [[widthViolations]] and the `schema_retype` correctness query. */
  def violationsArray(df: DataFrame): Column = {
    val checks = df.schema.fields.collect {
      case f if f.dataType == StringType && !ignoreCols.contains(f.name) =>
        val max = if (xlStrFields.contains(f.name)) xlStrLength else defaultStrLength
        when(length(col(f.name)) > max,
          concat_ws(":", lit(f.name), length(col(f.name)).cast("string")))
    }
    if (checks.isEmpty) array().cast(ArrayType(StringType))
    else array_compact(array(checks.toSeq: _*))
  }

  /** Rows violating the reference's string-width contract
    * (`maximumSize`: 512 for clientInfo/appInfo, 128 default). */
  def widthViolations(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(f => f.dataType == StringType && !ignoreCols.contains(f.name)))
      // SAME schema as the normal path (df's columns + an empty
      // violations array), so callers can select/union without a
      // degenerate-input special case
      df.withColumn("violations", array().cast("array<string>")).filter(lit(false))
    else df
      .withColumn("violations", violationsArray(df))
      .filter(size(col("violations")) > 0)

  /** Read ONE logical dataset ACROSS a schema change — the engine's
    * answer to the reference's one true DDL moment, the atomic ordered
    * column-change transaction (`TableSchemaChangeRequest` +
    * `orderedColumnIds`, `copy_from_template.py:219-232`): a study's
    * parquet gets written for months, then a column is ADDED and another
    * RETYPED, and new files coexist with old ones forever after.
    *
    * `target` plays the role of `orderedColumnIds`: its field ORDER is
    * the output column order, its types are the post-change contract.
    * Each directory is read with its own embedded schema, then projected
    * onto the target — columns missing in older files are filled with
    * typed NULLs, present columns are cast (`try_cast` semantics are the
    * caller's choice via [[retype]]; here the files were engine-written,
    * so a plain cast is the honest contract). One narrow projection per
    * directory + a by-position union of identically-shaped frames — no
    * shuffle, and partition pruning/pushdown still reach each scan.
    *
    * (`spark.read.schema(target)` alone null-fills missing columns but
    * rejects files whose physical type differs from the target; the
    * per-directory cast handles the retype half of the transaction.) */
  def readEvolved(spark: SparkSession, target: StructType, dirs: String*): DataFrame = {
    require(dirs.nonEmpty, "need at least one directory")
    dirs.map { d =>
      val raw = spark.read.parquet(d)
      val have = raw.schema.fieldNames.toSet
      val cols = target.fields.map { f =>
        if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      raw.select(cols.toSeq: _*)
    }.reduce(_ unionAll _)
  }

  /** Partitioned parquet sink mirroring the S3 layout
    * `bridge-downstream/{app}/{study}/parquet/`
    * (`copy_from_template.py:316`). Stable key order = prunable prefixes.
    * Scale note: callers repartition on the partition keys first when the
    * key count is small, so each (app, study) writes few large files
    * instead of numPartitions small ones. */
  def sinkPartitioned(df: DataFrame, root: String, keys: Seq[String] = Seq("app", "study"),
      mode: String = "overwrite"): Unit =
    df.write.partitionBy(keys: _*).mode(mode).parquet(root)

  /** RANGE-CLUSTERED parquet sink: repartitionByRange + sortWithinPartitions
    * on the cluster key before writing, so each output file covers a
    * narrow, near-disjoint key range. That's what makes parquet
    * row-group/file min-max statistics actually SKIP data on key
    * predicates — on a hash-distributed write every file spans the whole
    * key domain and the stats prune nothing. The write-side half of
    * predicate pushdown at 100 TB (the read side is free once the layout
    * exists). FileViewSpec asserts the per-file ranges are disjoint and
    * that a range read touches a fraction of the files. */
  def sinkClustered(df: DataFrame, root: String, clusterKey: String,
      numFiles: Int, mode: String = "overwrite"): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(clusterKey))
      .sortWithinPartitions(clusterKey)
      .write.mode(mode).parquet(root)

  /** Z-ORDER interleave of two non-negative integral key columns — the
    * multi-dimensional complement of [[sinkClustered]]: a range-clustered
    * layout prunes on ONE key and leaves the other scattered across every
    * file; interleaving the keys' bits (Morton order) keeps files compact
    * in BOTH dimensions, so min-max stats skip on either predicate.
    * `bits` caps each dimension (values are clamped); 16+16 bits fits one
    * BIGINT with room to spare. Pure codegen'd bit arithmetic (a chain of
    * shift/mask ops à la the classic magic-number bit spread) — no UDF. */
  def mortonCode(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 16, "bits per dimension must be 1..16")
    def spread(c: Column): Column = {
      // clamp into [0, 2^bits), then spread bits apart (x -> x with zeros
      // interleaved) via the standard shift-or + mask cascade on BIGINT
      val clamped = least(greatest(c.cast("long"), lit(0L)), lit((1L << bits) - 1))
      val s1 = (clamped.bitwiseOR(shiftleft(clamped, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val s3 = (s2.bitwiseOR(shiftleft(s2, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val s4 = (s3.bitwiseOR(shiftleft(s3, 2))).bitwiseAND(lit(0x3333333333333333L))
      (s4.bitwiseOR(shiftleft(s4, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ORDER-CLUSTERED parquet sink: range-partition + sort on the Morton
    * code of (keyA, keyB), so each file covers a compact rectangle of the
    * 2-D key space and min-max stats prune on EITHER key's predicate.
    *
    * Both keys are min-max-normalized to the full `bits` range before
    * interleaving — REQUIRED, not cosmetic: with raw values the wider
    * domain's high bits dominate the sort and the narrow dimension
    * degenerates to an ordinary single-key cluster. (Engines like Delta
    * use per-column range ids for the same reason; min-max scaling is the
    * collect-one-row version.) The min/max pass is one bounded aggregate;
    * the interleave column is dropped before writing — it's a layout
    * artifact, not data. FileViewSpec asserts both-dimension skipping. */
  def sinkZOrdered(df: DataFrame, root: String, keyA: String, keyB: String,
      numFiles: Int, bits: Int = 16, mode: String = "overwrite"): Unit =
    zOrdered(df, keyA, keyB, numFiles, bits).write.mode(mode).parquet(root)

  /** The z-order LAYOUT as a frame transform (the snapshot lake's
    * `commitReplaceZOrdered` reuses the identical kernel):
    * min-max-normalize both keys, Morton-interleave, range-
    * partition + sort on the code, drop the layout column. Degenerate
    * input (empty frame / all-NULL key) returns the frame unchanged. */
  private[graft] def zOrdered(df: DataFrame, keyA: String, keyB: String,
      numFiles: Int, bits: Int = 16): DataFrame = {
    val r = df.agg(min(col(keyA)).cast("double"), max(col(keyA)).cast("double"),
      min(col(keyB)).cast("double"), max(col(keyB)).cast("double")).head()
    // degenerate input (empty frame or an all-NULL key): there is no range
    // to interleave — pass through instead of NPE-ing on the null min/max
    if (r.isNullAt(0) || r.isNullAt(2)) return df
    def norm(c: Column, mn: Double, mx: Double): Column =
      if (mx > mn) {
        // scale by the REAL span: flooring it at 1.0 (the old form) left
        // any key with a sub-1.0 domain (scores, rates) compressed into a
        // fraction of the code range, so the other key's high bits
        // dominated the interleave and that dimension degenerated to a
        // single-key cluster — the exact failure the normalization exists
        // to prevent
        val scale = ((1L << bits) - 1).toDouble / (mx - mn)
        least(floor((c.cast("double") - mn) * scale).cast("long"),
          lit((1L << bits) - 1))
      } else lit(0L)
    val z = "__zorder"
    df.withColumn(z, mortonCode(
        norm(col(keyA), r.getDouble(0), r.getDouble(1)),
        norm(col(keyB), r.getDouble(2), r.getDouble(3)), bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(z)
      .drop(z)
  }

  /** Small-files COMPACTION — the lake-maintenance job every
    * continuously-ingested dataset needs: streaming/batch appends leave
    * many small parquet files, and at 100 TB the per-file
    * open + footer + task-schedule cost of a million small files
    * dominates reads long before row count does. Rewrites the flat
    * parquet directory `root` into ⌈totalBytes / targetFileBytes⌉
    * files (optionally re-clustered on `sortKey` — compaction is the
    * natural moment to restore a [[sinkClustered]] layout that appends
    * have degraded).
    *
    * Safety contract: the rewrite lands in a temp sibling first, the
    * rewritten ROW COUNT is verified against the source (a failed or
    * short write never replaces data), and only then is the directory
    * swapped via two renames. A crash before the first rename leaves
    * the original untouched. Between the two renames there is a window
    * where `root` does not exist — the data is intact, parked at
    * `root__compact_old` — and the NEXT compact (or any caller of this
    * method) self-heals by renaming it back before doing anything
    * else. On a raw directory that window is the floor two
    * non-transactional renames can reach; concurrent readers during
    * the swap want a table format's transactional commit instead —
    * the declared boundary of this job.
    *
    * Returns (filesBefore, filesAfter, rows). */
  def compact(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortKey: Option[String] = None): (Long, Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(root + "__compact_old")
    // self-heal a previous run killed mid-swap: root missing but the
    // parked original present — restore it first
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"recovery failed restoring $old to $root")
    def parts(dir: org.apache.hadoop.fs.Path) =
      fs.listStatus(dir).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = parts(p)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.parquet(root)
    val rows = df.count() // parquet metadata count — no data scan
    val out = sortKey match {
      case Some(k) => df.repartitionByRange(nOut, col(k)).sortWithinPartitions(k)
      case None => df.repartition(nOut)
    }
    out.write.mode("overwrite").parquet(tmp.toString)
    val rewritten = spark.read.parquet(tmp.toString).count()
    require(rewritten == rows,
      s"compaction rewrite lost rows ($rewritten != $rows) — original left untouched at $root")
    // a stale parked dir from an earlier completed-then-killed run must
    // go first: Hadoop rename INTO an existing directory nests instead
    // of replacing, which would corrupt the swap
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(p, old), s"compaction swap failed moving $root aside")
    require(fs.rename(tmp, p), s"compaction swap failed installing $tmp")
    fs.delete(old, true)
    spark.catalog.refreshByPath(root)
    (before.length.toLong, parts(p).length.toLong, rows)
  }
}
