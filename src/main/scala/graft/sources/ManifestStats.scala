package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
import org.apache.spark.sql.types._

/** Per-file column statistics for [[SnapshotManifest]] tables — the
  * data-skipping half of the lakehouse log shape (Delta stats / Iceberg
  * manifest metrics, minus the engine): each committed data file carries
  * `rows` plus `min`/`max`/`nulls` for the columns the writer opted into,
  * and [[SnapshotManifest.readWhere]] evaluates a filter against those
  * ranges DRIVER-SIDE to drop whole files before Spark ever lists them in
  * a scan.
  *
  * Why this matters at 100 TB: partition pruning only skips along the
  * partition columns; file-range pruning skips along ANY stats column the
  * layout correlates with (a range-partitioned or z-ordered write gives
  * near-disjoint per-file ranges — see [[graft.operators.Layout]]). A
  * point lookup or narrow range then reads a handful of files instead of
  * the table, and the decision costs one manifest read — no footer
  * round-trips per file, which at 100k+ files is the difference between a
  * driver-side map lookup and a listing storm.
  *
  * Soundness contract: pruning must never change query results, only skip
  * files that PROVABLY contain no matching row. Everything here is
  * therefore conservative: an unrecognized predicate shape, a stats-less
  * file, a missing bound, or a type mismatch all KEEP the file, and the
  * surviving files are still re-filtered row-by-row by the caller's
  * predicate. Min/max comparisons mirror Spark's own orderings (numeric
  * promotion to decimal; strings by CODE POINT, matching UTF8String's
  * binary order — `String.compareTo` would disagree on supplementary
  * characters).
  *
  * Stats are computed from the freshly written files in ONE extra
  * aggregation over data that is hot in the page cache (the same
  * write-amplification point every stats-collecting format pays), grouped
  * by `_metadata.file_path` so file attribution is exact.
  */
object ManifestStats {

  /** Stats for one column of one file. `min`/`max` are over NON-NULL
    * values (parquet convention) and each is independently optional: a
    * bound can be absent because every value was null or because the type
    * made it unsafe to record (non-finite doubles); consumers only prune
    * on bounds that are present. Values are [[BigDecimal]] (all numerics,
    * date = epoch days, timestamp = epoch micros, boolean = 0/1) or
    * [[String]].
    */
  final case class ColStats(min: Option[Any], max: Option[Any], nulls: Long)

  /** Stats for one file: exact row count + per-column [[ColStats]]. */
  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  // ---------------------------------------------------------------------
  // Collection (write side)
  // ---------------------------------------------------------------------

  /** True when file-range stats can be collected for `dt` — orderable
    * atomic types with a stable cross-engine encoding.
    */
  def supportsStats(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => false
  }

  /** Per-file stats for `statsCols` over the parquet files under `dataDir`
    * (one aggregation job, grouped by file), keyed by file NAME (unique
    * within one staging dir). Fails fast on a missing or unsupported
    * column — silently recording no stats would silently disable pruning.
    */
  def collect(df: DataFrame, statsCols: Seq[String]): Map[String, FileStats] = {
    val fields = statsCols.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"stats column $c not in schema ${df.schema.fieldNames.mkString(", ")}"))
      require(supportsStats(f.dataType),
        s"stats column $c has unsupported type ${f.dataType.simpleString}")
      f
    }
    // date/timestamp/bool stats are stored in their comparison domain
    // (epoch days / epoch micros / 0|1) so the prune side compares the raw
    // catalyst literal value against them with plain decimal arithmetic
    def statExpr(f: StructField): Column = f.dataType match {
      case DateType => org.apache.spark.sql.functions.datediff(
        col(f.name), org.apache.spark.sql.functions.to_date(lit("1970-01-01")))
      case TimestampType | TimestampNTZType =>
        org.apache.spark.sql.functions.unix_micros(col(f.name).cast(TimestampType))
      case BooleanType => col(f.name).cast(IntegerType)
      case _ => col(f.name)
    }
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val e = statExpr(f)
      Seq(min(e).alias(s"__mn$i"), max(e).alias(s"__mx$i"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).alias(s"__nl$i"))
    }
    val rows = df.groupBy(col("_metadata.file_path").alias("__file"))
      .agg(count(lit(1)).alias("__rows"), aggs: _*)
      .collect() // one row per data file — bounded by the commit's file count
    rows.map { r =>
      val name = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      val cols = fields.zipWithIndex.map { case (f, i) =>
        val nulls = r.getLong(r.fieldIndex(s"__nl$i"))
        def bound(fld: String): Option[Any] =
          Option(r.get(r.fieldIndex(fld))).flatMap(toStatValue)
        f.name -> ColStats(bound(s"__mn$i"), bound(s"__mx$i"), nulls)
      }.toMap
      name -> FileStats(r.getLong(r.fieldIndex("__rows")), cols)
    }.toMap
  }

  /** [[collect]] from parquet FOOTERS — metadata-only, no data re-read.
    *
    * Every commit used to pay a second full scan of its freshly written
    * files just to aggregate min/max/nulls/rows (the write-amplification
    * point the class doc concedes). The parquet writer already computed
    * exactly these numbers per column chunk; this path folds them out of
    * the footers instead: O(files) metadata reads, zero data bytes — at
    * 100 TB the difference between "commit writes the data once" and
    * "commit writes it once and reads it back once". Footers are read on
    * the driver through a bounded pool for churn-sized commits and on
    * executors above [[FooterDriverMaxFiles]] (a 10⁵-file commit must not
    * serialize 10⁵ footer round-trips on the driver).
    *
    * Exactness contract: returns Some ONLY when the footer evidence
    * reproduces [[collect]]'s answer bit-for-bit — same value domain
    * (BigDecimal / String), same null counts, same bounds. Anything it
    * cannot prove equivalent (a float/double column: NaN/±0.0 footer
    * conventions differ from the aggregation's; INT96 timestamps: no
    * footer stats at all; unset null counts; dropped chunk stats while
    * non-null values exist; any unexpected physical/logical type) returns
    * None and the caller falls back to the exact aggregation job. String
    * bounds are safe because parquet's BINARY(UTF8) comparator is
    * unsigned-lexicographic byte order — identical to UTF8String's
    * code-point ordering that [[collect]] records.
    */
  private[graft] val FooterDriverMaxFiles = 256

  def collectFromFooters(spark: org.apache.spark.sql.SparkSession,
      files: Seq[org.apache.hadoop.fs.Path],
      statsCols: Seq[String]): Option[Map[String, FileStats]] = {
    if (files.isEmpty) return Some(Map.empty)
    val conf = spark.sessionState.newHadoopConf()
    if (files.size <= FooterDriverMaxFiles) {
      // bounded driver pool: footer reads are tiny metadata IO; 8-way
      // parallelism hides per-file open latency without a Spark job
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, files.size))
      try {
        val futs = files.map(p => pool.submit(
          new java.util.concurrent.Callable[Option[(String, FileStats)]] {
            def call(): Option[(String, FileStats)] =
              footerStats(conf, p.toString, statsCols).map(p.getName -> _)
          }))
        // contract: any per-file failure (not just the ones footerStats
        // swallows — an interrupted get(), a rethrown ExecutionException)
        // yields None for that file → overall None → the caller runs the
        // exact aggregation job. Only truly fatal JVM errors propagate.
        val res = futs.map { f =>
          try f.get()
          catch {
            case _: InterruptedException =>
              Thread.currentThread().interrupt()
              None
            case e: java.util.concurrent.ExecutionException =>
              e.getCause match {
                // an interrupted footer read: restore the flag (as the
                // bare branch above does) and fall back to the exact path
                case _: InterruptedException =>
                  Thread.currentThread().interrupt()
                  None
                case fatal if fatal != null &&
                  !scala.util.control.NonFatal(fatal) => throw fatal
                case _ => None
              }
            case scala.util.control.NonFatal(_) => None
          }
        }
        if (res.exists(_.isEmpty)) None else Some(res.flatten.toMap)
      } finally pool.shutdown()
    } else {
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      val bc = spark.sparkContext.broadcast(sconf)
      val paths = files.map(_.toString)
      val cols = statsCols
      val res = spark.sparkContext
        .parallelize(paths, math.max(1, paths.size / 64))
        .map { p =>
          val name = new org.apache.hadoop.fs.Path(p).getName
          footerStats(bc.value.value, p, cols).map(name -> _)
        }
        .collect() // one FileStats per file — same driver footprint as collect()
      if (res.exists(_.isEmpty)) None else Some(res.flatten.toMap)
    }
  }

  /** Footer-derived [[FileStats]] for one file; None when any requested
    * column's chunks cannot PROVE the exact [[collect]] answer.
    */
  private[graft] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      path: String, statsCols: Seq[String]): Option[FileStats] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      // session timezone, threaded in via the hadoop conf (newHadoopConf
      // copies every set SQL conf): gates the NTZ-micros arm below. Absent
      // key = unknown = conservatively not UTC (fallback, never wrong).
      val utcSession = {
        val tz = conf.get("spark.sql.session.timeZone")
        tz != null && (try {
          java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
        } catch { case _: java.time.DateTimeException => false })
      }
      // decode one chunk bound into collect()'s stats domain; None = this
      // (primitive, annotation) pair has no proven-equivalent decoding
      def decode(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
          minSide: Boolean): Option[Any] = {
        val st = cc.getStatistics
        val prim = cc.getPrimitiveType
        val ann = prim.getLogicalTypeAnnotation
        def big(l: Long) = BigDecimal(l)
        prim.getPrimitiveTypeName match {
          case BOOLEAN =>
            val v = (if (minSide) st.genericGetMin else st.genericGetMax)
              .asInstanceOf[java.lang.Boolean]
            Some(BigDecimal(if (v) 1 else 0))
          case INT32 =>
            val v = (if (minSide) st.genericGetMin else st.genericGetMax)
              .asInstanceOf[java.lang.Integer].intValue
            ann match {
              case null => Some(big(v))
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                  if i.isSigned => Some(big(v))
              case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
                Some(big(v)) // epoch days — collect()'s datediff domain
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                Some(BigDecimal(java.math.BigDecimal.valueOf(v, d.getScale)))
              case _ => None
            }
          case INT64 =>
            val v = (if (minSide) st.genericGetMin else st.genericGetMax)
              .asInstanceOf[java.lang.Long].longValue
            ann match {
              case null => Some(big(v))
              case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                  if i.isSigned => Some(big(v))
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                    (t.isAdjustedToUTC || utcSession) =>
                // epoch micros — collect()'s unix_micros domain. NTZ chunks
                // (isAdjustedToUTC=false) store wall-clock micros; collect()
                // records unix_micros(cast(TimestampType)), which equals the
                // stored value ONLY under a UTC session — outside it, fall
                // back to the exact aggregation rather than claim exactness.
                Some(big(v))
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                Some(BigDecimal(java.math.BigDecimal.valueOf(v, d.getScale)))
              case _ => None
            }
          case BINARY | FIXED_LEN_BYTE_ARRAY =>
            val bytes = if (minSide) st.getMinBytes else st.getMaxBytes
            ann match {
              case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
                Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
              case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                Some(BigDecimal(new java.math.BigDecimal(
                  new java.math.BigInteger(bytes), d.getScale)))
              case _ => None
            }
          // FLOAT/DOUBLE: footer NaN/±0.0 conventions diverge from the
          // aggregation's (writers drop stats on NaN; collect() keeps the
          // finite bound) — not provably identical, so never claimed.
          // INT96: parquet writes no stats at all.
          case _ => None
        }
      }
      def cmp(a: Any, b: Any): Int = (a, b) match {
        case (x: BigDecimal, y: BigDecimal) => x.compare(y)
        case (x: String, y: String) =>
          // UTF8String binary order (code points), NOT String.compareTo
          java.util.Arrays.compareUnsigned(
            x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            y.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case _ => throw new IllegalStateException(
          s"footer stats: mixed bound types ${a.getClass} vs ${b.getClass}")
      }
      val colStats = statsCols.map { c =>
        var nulls = 0L
        var mn: Option[Any] = None
        var mx: Option[Any] = None
        for (b <- blocks.asScala) {
          val cc = b.getColumns.asScala.find(cc =>
            cc.getPath.size == 1 && cc.getPath.toDotString.equalsIgnoreCase(c))
            .getOrElse(return None) // column absent from this file's footer
          val st = cc.getStatistics
          if (st == null || !st.isNumNullsSet) return None
          nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            val dmn = decode(cc, minSide = true).getOrElse(return None)
            val dmx = decode(cc, minSide = false).getOrElse(return None)
            mn = Some(mn.fold(dmn)(cur => if (cmp(dmn, cur) < 0) dmn else cur))
            mx = Some(mx.fold(dmx)(cur => if (cmp(dmx, cur) > 0) dmx else cur))
          } else if (st.getNumNulls != cc.getValueCount) {
            // non-null values exist but the writer dropped the bounds —
            // collect() would have recorded them; not equivalent
            return None
          }
        }
        // resolve the recorded key the way collect() does: the footer's
        // exact field casing (schema fields are the frame's names)
        val fieldName = schema.getFields.asScala
          .find(_.getName.equalsIgnoreCase(c)).map(_.getName).getOrElse(c)
        fieldName -> ColStats(mn, mx, nulls)
      }.toMap
      Some(FileStats(rows, colStats))
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally reader.close()
  }

  /** Normalize an aggregated bound into the stats domain: BigDecimal for
    * anything numeric, String for strings. Non-finite doubles have no
    * decimal encoding — drop that bound (None), never guess. Shared with
    * [[SnapshotManifest.minMax]], whose scan-fallback bounds must land in
    * the same comparison domain as the recorded ones.
    */
  private[graft] def toStatValue(v: Any): Option[Any] = v match {
    case null => None
    case s: String => Some(s)
    case d: Double => if (java.lang.Double.isFinite(d)) Some(BigDecimal(d.toString)) else None
    case f: Float => if (java.lang.Float.isFinite(f)) Some(BigDecimal(f.toString)) else None
    case b: Byte => Some(BigDecimal(b.toInt))
    case s: Short => Some(BigDecimal(s.toInt))
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case d: java.math.BigDecimal => Some(BigDecimal(d))
    case d: BigDecimal => Some(d)
    case other => throw new IllegalStateException(
      s"unexpected stat value type ${other.getClass.getName}")
  }

  // ---------------------------------------------------------------------
  // JSON codec (manifest line suffix)
  // ---------------------------------------------------------------------

  private val mapper = new ObjectMapper()

  /** `{"rows":N,"cols":{"name":{"min":v,"max":v,"nulls":n}, ...}}` — min/
    * max keys absent when the bound is. One line, no newlines (manifest
    * lines are newline-delimited).
    */
  def toJson(fs: FileStats): String = {
    val root = JsonNodeFactory.instance.objectNode()
    root.put("rows", fs.rows)
    val cols = root.putObject("cols")
    // sorted for deterministic manifests (committed bytes should not
    // depend on map iteration order)
    fs.cols.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      val o = cols.putObject(name)
      def putBound(key: String, b: Option[Any]): Unit = b.foreach {
        case s: String => o.put(key, s)
        case d: BigDecimal => o.put(key, d.bigDecimal)
        case other => throw new IllegalStateException(s"bad stat value $other")
      }
      putBound("min", cs.min)
      putBound("max", cs.max)
      o.put("nulls", cs.nulls)
    }
    mapper.writeValueAsString(root)
  }

  /** Inverse of [[toJson]]; throws on malformed input (a manifest is
    * engine-written — corruption should fail loudly, not prune wrongly).
    */
  def fromJson(json: String): FileStats = {
    val root = mapper.readTree(json)
    require(root.hasNonNull("rows"), s"stats json missing rows: $json")
    val colsNode = root.path("cols")
    val cols = scala.collection.mutable.Map[String, ColStats]()
    val it = colsNode.fields()
    while (it.hasNext) {
      val e = it.next()
      val o = e.getValue
      def bound(key: String): Option[Any] = Option(o.get(key)).map { n =>
        if (n.isTextual) n.asText()
        else BigDecimal(n.decimalValue())
      }
      cols += e.getKey -> ColStats(bound("min"), bound("max"), o.path("nulls").asLong())
    }
    FileStats(root.path("rows").asLong(), cols.toMap)
  }

  // ---------------------------------------------------------------------
  // Pruning (read side)
  // ---------------------------------------------------------------------

  /** May `file` (with stats `fs`) contain a row where `pred` is TRUE?
    * False means PROVABLY not — the file can be skipped. Conservative on
    * every unrecognized shape. Column names resolve case-insensitively
    * (Spark's default resolution).
    */
  def mayMatch(pred: Expression, fs: FileStats): Boolean = {
    // a zero-row file provably yields no matching row for ANY predicate
    if (fs.rows == 0L) return false
    def stats(name: String): Option[ColStats] =
      fs.cols.get(name).orElse(
        fs.cols.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v })

    // the analyzer makes implicit type coercion explicit by casting ONE
    // side; a cast around the attribute is transparent for pruning only
    // when it is an exact order-preserving numeric embedding (then the
    // cast value EQUALS the raw value in the shared decimal domain, so raw
    // column stats bound it). Anything else — narrowing, string casts,
    // date→timestamp (a domain change: days vs micros) — keeps the file.
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case c: Cast if exactWidening(c.child.dataType, c.dataType) => attrName(c.child)
      case _ => None
    }

    // plain literals, plus anything constant-foldable (`lit("1996-01-01")
    // .cast("timestamp")` is the repo-wide date-literal idiom). Foldables
    // that cannot evaluate driver-side (e.g. a string→timestamp cast whose
    // time zone the analyzer hasn't resolved) fall back to None → keep;
    // evaluating those with a GUESSED zone would prune unsoundly.
    def litValue(e: Expression): Option[Any] = e match {
      case Literal(v, dt) => Some(fromLiteral(v, dt))
      case _ if e.deterministic && e.foldable &&
          !e.exists(_.isInstanceOf[UnresolvedAttribute]) =>
        scala.util.Try(fromLiteral(e.eval(null), e.dataType)).toOption
      case _ => None
    }

    // cmp in the stats domain; None = incomparable (type mismatch) — the
    // caller must then keep the file
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
      case (x: String, y: String) => Some(codePointCompare(x, y))
      case _ => None
    }

    def hasNonNull(cs: ColStats): Boolean = cs.nulls < fs.rows

    // comparison op against a literal; `op` ∈ <, <=, =, >=, >
    def rangeMatch(name: String, v: Any, op: String): Boolean = stats(name) match {
      case None => true // no stats for this column — keep
      case Some(cs) =>
        if (!hasNonNull(cs)) return false // comparisons never match null
        op match {
          case "=" =>
            cs.min.flatMap(cmp(v, _)).forall(_ >= 0) &&
              cs.max.flatMap(cmp(v, _)).forall(_ <= 0)
          case "<" => cs.min.flatMap(cmp(_, v)).forall(_ < 0)
          case "<=" => cs.min.flatMap(cmp(_, v)).forall(_ <= 0)
          case ">" => cs.max.flatMap(cmp(_, v)).forall(_ > 0)
          case ">=" => cs.max.flatMap(cmp(_, v)).forall(_ >= 0)
        }
    }

    // (attr op literal) in either written order; null literal never matches
    def binary(l: Expression, r: Expression, op: String, flipped: String): Boolean =
      (attrName(l), litValue(r), attrName(r), litValue(l)) match {
        case (Some(_), Some(null), _, _) => false
        case (_, _, Some(_), Some(null)) => false
        case (Some(n), Some(v), _, _) => rangeMatch(n, v, op)
        case (_, _, Some(n), Some(v)) => rangeMatch(n, v, flipped)
        case _ => true
      }

    pred match {
      case And(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
      case Or(l, r) => mayMatch(l, fs) || mayMatch(r, fs)
      case Literal(v, BooleanType) => v != false // null/true keep, false prunes
      case EqualTo(l, r) => binary(l, r, "=", "=")
      case LessThan(l, r) => binary(l, r, "<", ">")
      case LessThanOrEqual(l, r) => binary(l, r, "<=", ">=")
      case GreaterThan(l, r) => binary(l, r, ">", "<")
      case GreaterThanOrEqual(l, r) => binary(l, r, ">=", "<=")
      case EqualNullSafe(l, r) =>
        (attrName(l), litValue(r), attrName(r), litValue(l)) match {
          case (Some(n), Some(null), _, _) => stats(n).forall(_.nulls > 0)
          case (_, _, Some(n), Some(null)) => stats(n).forall(_.nulls > 0)
          case _ => binary(l, r, "=", "=")
        }
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        attrName(a) match {
          case Some(n) => list.exists { l =>
            litValue(l) match {
              case Some(null) => false
              case Some(v) => rangeMatch(n, v, "=")
              case None => true
            }
          }
          case None => true
        }
      case IsNull(a) =>
        attrName(a) match {
          case Some(n) => stats(n).forall(_.nulls > 0)
          case None => true
        }
      case IsNotNull(a) =>
        attrName(a) match {
          case Some(n) => stats(n).forall(hasNonNull)
          case None => true
        }
      case StartsWith(a, Literal(p, StringType)) if p != null =>
        attrName(a) match {
          case Some(n) => stats(n) match {
            case Some(cs) if hasNonNull(cs) =>
              val prefix = p.toString
              // matching strings lie in [prefix, nextPrefix(prefix)):
              // need max >= prefix and (when an upper exists) min < upper
              cs.max.forall(mx => cmp(mx, prefix).forall(_ >= 0)) &&
                nextPrefix(prefix).forall(up =>
                  cs.min.forall(mn => cmp(mn, up).forall(_ < 0)))
            case Some(_) => false // all null
            case None => true
          }
          case None => true
        }
      case Not(IsNull(a)) => mayMatch(IsNotNull(a), fs)
      case Not(IsNotNull(a)) => mayMatch(IsNull(a), fs)
      case _ => true // unrecognized shape — never prune on a guess
    }
  }

  /** [[mayMatch]]'s dual: do the stats PROVE every row of the file
    * evaluates `pred` to TRUE (not null, not false)? The enabler of
    * metadata-only DELETE ([[SnapshotManifest.deleteWhere]] drops a
    * proven file's manifest line without reading a byte — the "drop a
    * partition" path at 100 TB): when the proof holds, deleting the
    * file's rows means deleting the file. Sound for DV-carrying files
    * too — their live rows are a SUBSET of the rows the (pre-deletion)
    * stats describe, and a subset of all-matching rows all match.
    *
    * Conservative in the opposite direction from [[mayMatch]]: default
    * FALSE on anything unprovable — missing stats, incomparable types,
    * unrecognized shapes, or any null among the rows for a comparison
    * predicate (a null-evaluating row is NOT deleted under SQL DELETE
    * semantics, so it anchors the file). A zero-row file is NOT proven:
    * vacuous truth would be sound to act on (dropping an empty file loses
    * nothing) but would make [[SnapshotManifest.deleteWhere]] publish a
    * new version for a predicate that matched NOTHING — violating its
    * "no-op delete commits nothing" contract. Empty-file cleanup belongs
    * to compaction, not DELETE.
    */
  def mustMatch(pred: Expression, fs: FileStats): Boolean = {
    if (fs.rows == 0L) return false
    def stats(name: String): Option[ColStats] =
      fs.cols.get(name).orElse(
        fs.cols.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v })
    def attrName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: AttributeReference => Some(a.name)
      case c: Cast if exactWidening(c.child.dataType, c.dataType) => attrName(c.child)
      case _ => None
    }
    def litValue(e: Expression): Option[Any] = e match {
      case Literal(v, dt) => Some(fromLiteral(v, dt))
      case _ if e.deterministic && e.foldable &&
          !e.exists(_.isInstanceOf[UnresolvedAttribute]) =>
        scala.util.Try(fromLiteral(e.eval(null), e.dataType)).toOption
      case _ => None
    }
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
      case (x: String, y: String) => Some(codePointCompare(x, y))
      case _ => None
    }
    // every row provably satisfies (col op v): no nulls (a null row
    // evaluates the comparison to null — unprovable by definition) and
    // BOTH bounds present and inside the proving region
    def rangeProof(name: String, v: Any, op: String): Boolean = stats(name) match {
      case None => false
      case Some(cs) =>
        if (cs.nulls > 0) return false
        (cs.min, cs.max) match {
          case (Some(mn), Some(mx)) => op match {
            case "=" => cmp(mn, v).contains(0) && cmp(mx, v).contains(0)
            case "<" => cmp(mx, v).exists(_ < 0)
            case "<=" => cmp(mx, v).exists(_ <= 0)
            case ">" => cmp(mn, v).exists(_ > 0)
            case ">=" => cmp(mn, v).exists(_ >= 0)
          }
          case _ => false
        }
    }
    def binary(l: Expression, r: Expression, op: String, flipped: String): Boolean =
      (attrName(l), litValue(r), attrName(r), litValue(l)) match {
        case (Some(_), Some(null), _, _) => false
        case (_, _, Some(_), Some(null)) => false
        case (Some(n), Some(v), _, _) => rangeProof(n, v, op)
        case (_, _, Some(n), Some(v)) => rangeProof(n, v, flipped)
        case _ => false
      }
    pred match {
      case And(l, r) => mustMatch(l, fs) && mustMatch(r, fs)
      // sufficient, not complete: a disjunction can cover a file without
      // either arm covering it alone — that file is simply rewritten
      case Or(l, r) => mustMatch(l, fs) || mustMatch(r, fs)
      case Literal(v, BooleanType) => v == true
      case EqualTo(l, r) => binary(l, r, "=", "=")
      case LessThan(l, r) => binary(l, r, "<", ">")
      case LessThanOrEqual(l, r) => binary(l, r, "<=", ">=")
      case GreaterThan(l, r) => binary(l, r, ">", "<")
      case GreaterThanOrEqual(l, r) => binary(l, r, ">=", "<=")
      case EqualNullSafe(l, r) =>
        (attrName(l), litValue(r), attrName(r), litValue(l)) match {
          case (Some(n), Some(null), _, _) => stats(n).exists(_.nulls == fs.rows)
          case (_, _, Some(n), Some(null)) => stats(n).exists(_.nulls == fs.rows)
          case _ => binary(l, r, "=", "=") // no nulls ⇒ <=> coincides with =
        }
      case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
        // provable only single-valued: min==max==some member
        attrName(a).exists(n => list.exists(l => litValue(l) match {
          case Some(null) => false
          case Some(v) => rangeProof(n, v, "=")
          case None => false
        }))
      case IsNull(a) =>
        attrName(a).exists(n => stats(n).exists(_.nulls == fs.rows))
      case IsNotNull(a) =>
        attrName(a).exists(n => stats(n).exists(_.nulls == 0L))
      case StartsWith(a, Literal(p, StringType)) if p != null =>
        attrName(a).exists(n => stats(n) match {
          case Some(cs) if cs.nulls == 0L =>
            val prefix = p.toString
            (cs.min, cs.max) match {
              case (Some(mn), Some(mx)) =>
                // all values in [prefix, nextPrefix(prefix)): min >= prefix
                // and max below the exclusive upper (absent upper = all
                // strings from prefix up match)
                cmp(mn, prefix).exists(_ >= 0) &&
                  nextPrefix(prefix).forall(up => cmp(mx, up).exists(_ < 0))
              case _ => false
            }
          case _ => false
        })
      case Not(IsNull(a)) => mustMatch(IsNotNull(a), fs)
      case Not(IsNotNull(a)) => mustMatch(IsNull(a), fs)
      case _ => false // unrecognized shape — never drop a file on a guess
    }
  }

  /** Files of `fileStats` whose stats PROVE every live row matches `pred`
    * ([[mustMatch]]) — the set a DELETE may drop from the manifest without
    * any data I/O. Stats-less files are never proven. Always a subset of
    * what [[prune]] keeps.
    */
  def pruneProven(files: Seq[String], fileStats: Map[String, FileStats],
      pred: Expression): Seq[String] =
    files.filter { f =>
      val name = new org.apache.hadoop.fs.Path(f).getName
      fileStats.get(name).exists(fs => mustMatch(pred, fs))
    }

  /** Is `from` → `to` an exact value-preserving numeric widening (every
    * value maps to the SAME number)? int→float and long→double are NOT
    * (24/53-bit mantissas round); date→timestamp is not (different unit).
    */
  private def exactWidening(from: DataType, to: DataType): Boolean = {
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    (from, to) match {
      case (f, t) if rank(f).isDefined && rank(t).isDefined => rank(f).get <= rank(t).get
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (ByteType | ShortType, FloatType) => true
      case (FloatType, DoubleType) => true
      case (f, t: DecimalType) if intDigits(f).isDefined =>
        t.precision - t.scale >= intDigits(f).get
      case (f: DecimalType, t: DecimalType) =>
        t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
      case _ => false
    }
  }

  /** Catalyst literal → stats domain. Date literals are epoch-day Ints and
    * timestamps epoch-micro Longs INTERNALLY, which is exactly the domain
    * [[collect]] stores — no calendar arithmetic on the prune side.
    */
  private def fromLiteral(v: Any, dt: DataType): Any = {
    if (v == null) return null
    (v, dt) match {
      case (s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case (s: String, _) => s
      case (b: Boolean, _) => BigDecimal(if (b) 1 else 0)
      case (b: Byte, _) => BigDecimal(b.toInt)
      case (s: Short, _) => BigDecimal(s.toInt)
      case (i: Int, _) => BigDecimal(i) // covers IntegerType AND DateType (epoch days)
      case (l: Long, _) => BigDecimal(l) // covers LongType AND TimestampType (micros)
      case (f: Float, _) => if (java.lang.Float.isFinite(f)) BigDecimal(f.toString) else f
      case (d: Double, _) => if (java.lang.Double.isFinite(d)) BigDecimal(d.toString) else d
      case (d: Decimal, _) => BigDecimal(d.toJavaBigDecimal)
      case (d: java.math.BigDecimal, _) => BigDecimal(d)
      case (other, _) => other // incomparable against stats → cmp None → keep
    }
  }

  /** Code-point lexicographic comparison — the order UTF8String's binary
    * comparison induces. `String.compareTo` (UTF-16 code units) disagrees
    * above the BMP: a surrogate pair (code point ≥ 0x10000) compares LESS
    * than BMP chars in [0xE000, 0xFFFF] under compareTo but GREATER in
    * code-point (and byte) order.
    */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Smallest string strictly greater than every string with prefix `p`:
    * increment p's last code point, dropping trailing U+10FFFF (which
    * cannot be incremented). None when p is empty or all-U+10FFFF — every
    * string matches the prefix's upper side, no bound exists.
    */
  private[graft] def nextPrefix(p: String): Option[String] = {
    var end = p.length
    while (end > 0) {
      val cp = p.codePointBefore(end)
      val start = end - Character.charCount(cp)
      if (cp < Character.MAX_CODE_POINT) {
        // skip the surrogate gap going up: 0xD7FF + 1 would land inside it
        val next = if (cp == 0xD7FF) 0xE000 else cp + 1
        return Some(p.substring(0, start) + new String(Character.toChars(next)))
      }
      end = start
    }
    None
  }

  /** Resolve a user predicate against `schema` into an ANALYZED catalyst
    * expression — the form [[mayMatch]] pattern-matches on. Spark 4's
    * `Column` carries a Connect-style ColumnNode AST, not catalyst nodes;
    * running the real analyzer over an empty relation is the supported way
    * back, and it buys exactly the semantics pruning must agree with:
    * resolved attribute types, implicit casts made explicit, literal time
    * zones bound to the session.
    */
  def resolvePredicate(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, predicate: Column): Expression = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val analyzed = empty.filter(predicate).queryExecution.analyzed
    analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalStateException(
      s"resolvePredicate: no Filter in analyzed plan\n$analyzed"))
  }

  /** Files of `fileStats` whose stats admit a match of `pred` (an ANALYZED
    * catalyst predicate — see [[resolvePredicate]]), in input order; files
    * without stats always survive. The returned list is safe to
    * scan-and-filter: [[mayMatch]] is conservative by construction.
    */
  def prune(files: Seq[String], fileStats: Map[String, FileStats],
      pred: Expression): Seq[String] =
    files.filter { f =>
      val name = new org.apache.hadoop.fs.Path(f).getName
      fileStats.get(name).forall(fs => mayMatch(pred, fs))
    }
}
