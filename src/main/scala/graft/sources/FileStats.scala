package graft.sources

import graft.sources.Manifest.Entry

/** Per-file column statistics of the snapshot lake: what each data
  * file's manifest line records so the planner can skip whole files and
  * answer metadata aggregates from the manifest alone.
  *
  *  - **Collection.** Each write task aggregates the row-group
  *    statistics of the footer it just closed to file min/max
  *    ([[statsOfOneFooter]]); no commit re-opens a footer.
  *  - **Keying** ([[keyer]]). Untracked tables key by column name;
  *    schema-tracked tables by the column's stable id ("#17"), so a
  *    rename never orphans a range and a re-added name never inherits a
  *    dropped column's.
  *  - **Skip safety.** A missing statistic always means "unknown, keep
  *    the file"; dropping a statistic is always safe. */
private[graft] object FileStats {

  /** One column's file-level range: `tag` is `l` integral (as Long),
    * `d` floating (as Double), `s` string (UTF-8; bounds over 64 chars
    * are dropped, since a truncated upper bound would wrongly exclude),
    * `t` DATE (epoch days), `u` TIMESTAMP (instant micros), `v`
    * TIMESTAMP_NTZ (wall-clock micros), `m` DECIMAL (exact plain
    * decimal strings, whatever the physical storage) or `n` (the column
    * is entirely NULL in the file: every comparison excludes it, and it
    * contributes no value to min/max). Reserved keys `__rows` and
    * `__bytes` carry the file's row count and on-disk size (lo = hi);
    * data columns with those names are never statted. */
  final case class ColStats(tag: Char, lo: String, hi: String)

  private def urlEnc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** Stats payload codec: `key;tag;lo;hi|…`, key and bounds URL-encoded
    * (data values can hold any delimiter). Reserved `__` keys bypass
    * `keyer`; a column `keyer` cannot key is not recorded. */
  def encodeStats(items: Seq[(String, Char, String, String)],
      keyer: String => Option[String]): String =
    items.flatMap { case (name, tag, lo, hi) =>
      val key = if (name.startsWith("__")) Some(name) else keyer(name)
      key.map(k => s"${urlEnc(k)};$tag;${urlEnc(lo)};${urlEnc(hi)}")
    }.mkString("|")

  def decodeStats(payload: String): Map[String, ColStats] =
    if (payload.isEmpty) Map.empty
    else payload.split('|').toSeq.map { s =>
      // limit -1: an 'n' item ends in empty bounds ("k;n;;")
      val parts = s.split(";", -1)
      require(parts.length == 4, s"bad stats item: $s")
      urlDec(parts(0)) -> ColStats(parts(1).head, urlDec(parts(2)), urlDec(parts(3)))
    }.toMap

  /** The statistics key of each column of a data entry of `es` (the
    * entries of its version). Untracked: the column name. Tracked: a
    * file written under tracking keys by stable id; a pre-tracking file
    * (sid 0) by the column's name in the initial binding, which
    * `initSchema` proves all such files share; a column added after
    * tracking began has no key in them. Reserved `__` keys never
    * resolve for a data column. None = keep. */
  def keyer(es: Seq[Entry]): Entry => String => Option[String] = {
    val sEntries = es.filter(_.kind == "S").sortBy(_.ver)
    def unreserved(k: String): Option[String] = Some(k).filterNot(_.startsWith("__"))
    if (sEntries.isEmpty) _ => unreserved
    else {
      val cur = Manifest.decodeSchema(sEntries.last.path)
      val idToInitName = Manifest.decodeSchema(sEntries.head.path).map(c => c.id -> c.name).toMap
      e => n => cur.find(_.name == n).flatMap { c =>
        if (e.sid == 0L) idToInitName.get(c.id).flatMap(unreserved)
        else Some("#" + c.id)
      }
    }
  }

  /** Write-task side: one parquet file's row-group statistics
    * aggregated to file-level min/max per top-level primitive column,
    * plus `__rows` and `__bytes`. A column is dropped (no stat) when any
    * populated row group lacks statistics, when a floating bound is
    * NaN, when a string bound exceeds 64 chars, or when its type is not
    * modelled; a column NULL in every row group gets tag 'n'. */
  def statsOfOneFooter(path: String,
      confMap: Array[(String, String)]): Seq[(String, Char, String, String)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = graft.sources.v2.SnapshotReaderFactory.mapToConf(confMap)
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    try {
      val md = reader.getFooter
      // per column: None = poisoned (missing stats somewhere);
      // tag 'n' = every populated chunk so far was all-NULL
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, Option[(Char, Any, Any)]]
      for (block <- md.getBlocks.asScala; cc <- block.getColumns.asScala) {
        val pathParts = cc.getPath.toArray
        if (pathParts.length == 1 && !pathParts(0).startsWith("__")) {
          val name = pathParts(0)
          val st = cc.getStatistics
          val chunk: Option[Option[(Char, Any, Any)]] =
            if (st == null || st.isEmpty) Some(None)
            // all-NULL only when every value is a null: parquet keeps a
            // null count but no min/max for INT96, so a chunk with
            // values and no bounds is unknown
            else if (!st.hasNonNullValue)
              if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount)
                Some(Some(('n', "", "")))
              else Some(None)
            else cc.getPrimitiveType.getPrimitiveTypeName match {
              // the LOGICAL type decides what an INT32/INT64 stores: a
              // DECIMAL's unscaled integer must never be tagged 'l'
              case INT64 => intStat(cc.getPrimitiveType,
                st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
              case INT32 => intStat(cc.getPrimitiveType,
                st.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                st.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
              case DOUBLE =>
                val lo = st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue
                val hi = st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue
                if (lo.isNaN || hi.isNaN) Some(None) else Some(Some(('d', lo, hi)))
              case FLOAT =>
                val lo = st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue
                val hi = st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue
                if (lo.isNaN || hi.isNaN) Some(None) else Some(Some(('d', lo, hi)))
              case BINARY
                if cc.getPrimitiveType.getLogicalTypeAnnotation ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
                val lo = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val hi = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                if (lo.length > 64 || hi.length > 64) Some(None)
                else Some(Some(('s', lo, hi)))
              case _ => Some(None) // unsupported physical type
            }
          chunk.foreach { c =>
            val merged = (acc.get(name), c) match {
              case (Some(None), _) | (_, None) => None
              case (None, v) => v // first sighting of this column
              // 'n' is the identity of the merge: an all-NULL chunk
              // constrains nothing but poisons nothing either
              case (Some(Some(('n', _, _))), v) => v
              case (Some(prev), Some(('n', _, _))) => prev
              case (Some(Some((t1, lo1, hi1))), Some((t2, lo2, hi2))) if t1 == t2 =>
                (t1: @unchecked) match {
                  case 'l' | 't' | 'u' | 'v' => Some((t1,
                    math.min(lo1.asInstanceOf[Long], lo2.asInstanceOf[Long]),
                    math.max(hi1.asInstanceOf[Long], hi2.asInstanceOf[Long])))
                  case 'm' =>
                    val a1 = lo1.asInstanceOf[java.math.BigDecimal]
                    val a2 = lo2.asInstanceOf[java.math.BigDecimal]
                    val b1 = hi1.asInstanceOf[java.math.BigDecimal]
                    val b2 = hi2.asInstanceOf[java.math.BigDecimal]
                    Some(('m', if (a1.compareTo(a2) <= 0) a1 else a2,
                      if (b1.compareTo(b2) >= 0) b1 else b2))
                  case 'd' => Some(('d',
                    math.min(lo1.asInstanceOf[Double], lo2.asInstanceOf[Double]),
                    math.max(hi1.asInstanceOf[Double], hi2.asInstanceOf[Double])))
                  case 's' =>
                    val l1 = lo1.asInstanceOf[String]; val l2 = lo2.asInstanceOf[String]
                    val h1 = hi1.asInstanceOf[String]; val h2 = hi2.asInstanceOf[String]
                    Some(('s', if (utf8Cmp(l1, l2) <= 0) l1 else l2,
                      if (utf8Cmp(h1, h2) >= 0) h1 else h2))
                }
              case _ => None
            }
            acc.update(name, merged)
          }
        } else acc.update(pathParts.mkString("."), None) // nested: never stat
      }
      val rows = md.getBlocks.asScala.map(_.getRowCount).sum
      val bytes = inFile.getLength
      acc.toSeq.collect { case (name, Some((tag, lo, hi))) =>
        // decimals render as plain strings (toString can go scientific)
        def render(v: Any): String = v match {
          case d: java.math.BigDecimal => d.toPlainString
          case other => other.toString
        }
        (name, tag, render(lo), render(hi))
      } :+ ("__rows", 'l', rows.toString, rows.toString) :+
        ("__bytes", 'l', bytes.toString, bytes.toString)
    } finally reader.close()
  }

  /** Tag and bounds of an INT32/INT64 chunk by its parquet LOGICAL type
    * over the raw (widened-to-long) physical bounds; Some(None) = an
    * annotation not modelled, so no stat (keep). */
  private def intStat(pt: org.apache.parquet.schema.PrimitiveType,
      lo: Long, hi: Long): Option[Option[(Char, Any, Any)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    pt.getLogicalTypeAnnotation match {
      case null => Some(Some(('l', lo, hi))) // plain INT32/INT64
      case i: IntLogicalTypeAnnotation if i.isSigned =>
        Some(Some(('l', lo, hi))) // TINYINT/SMALLINT/INT/BIGINT
      case _: DateLogicalTypeAnnotation => Some(Some(('t', lo, hi)))
      case ts: TimestampLogicalTypeAnnotation =>
        // normalized to MICROS (NANOS would need floor/ceil asymmetry;
        // Spark never writes it). 'u' bounds are instant micros, 'v'
        // naive wall-clock micros: mixing them would compare across a
        // timezone offset whenever the session zone is not UTC
        val tag = if (ts.isAdjustedToUTC) 'u' else 'v'
        ts.getUnit match {
          case TimeUnit.MICROS => Some(Some((tag, lo, hi)))
          case TimeUnit.MILLIS => Some(Some((tag, lo * 1000L, hi * 1000L)))
          case _ => Some(None)
        }
      case d: DecimalLogicalTypeAnnotation =>
        // the physical value is the UNSCALED integer: rescale to the
        // exact decimal
        Some(Some(('m', java.math.BigDecimal.valueOf(lo, d.getScale),
          java.math.BigDecimal.valueOf(hi, d.getScale))))
      case _ => Some(None) // unsigned ints, TIME, …
    }
  }

  /** Unsigned UTF-8 byte comparison: the order parquet BINARY statistics
    * are computed in (String.compareTo differs on supplementary
    * characters, which would make pruning unsound). */
  def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
}
