package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, XxHash64}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MANIFEST-BASED FILE SKIPPING for the warehouse catalog's SQL read path —
  * the DSv2 face of `SnapshotStore.readPruned`, and the engine's answer to
  * Delta/Iceberg data skipping: at 100 TB a filtered read that relies on
  * parquet footers alone still LISTS and OPENS tens of thousands of files
  * before the first byte moves. A snapshot whose layout was maintained
  * with stats (`CALL graft.system.optimize(t, rows, cluster, stats)`)
  * carries a `_manifest/` of per-file `[min,max]` intervals; this builder
  * intercepts the pushed-down filters at PLANNING time, keeps only the
  * files whose intervals could satisfy them, and hands Spark's own
  * vectorized `ParquetScanBuilder` the pruned file list. Everything else —
  * codegen, footer pruning, column pruning, the row-level filter — is
  * unchanged (pruning is a conservative superset, never a substitute).
  *
  * Lives in the `org.apache.spark.sql` package because the filter hook
  * (`SupportsPushDownCatalystFilters`) is `private[sql]` — the same shim
  * doorway as [[GraftSqlShim]].
  *
  * Interval test per (filter, file): conservative three-valued logic —
  * `true` unless the file's `[min,max]` PROVES no row can match. Nulls are
  * untracked (null stats ⇒ keep); non-literal comparisons, casts and
  * unknown shapes keep; And intersects, Or unions. Only same-kind
  * (integral / fractional / string / decimal / date-time) comparisons
  * decide — a type surprise keeps the file.
  */
class GraftPrunedScanBuilder(spark: SparkSession, tableName: String,
    dataDir: String, tableSchema: StructType, options: CaseInsensitiveStringMap,
    footerAggregates: Boolean,
    transformSpecs: Seq[graft.sources.SnapshotStore.TransformSpec] = Nil)
    extends ScanBuilder with SupportsPushDownCatalystFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private def builderOver(paths: Seq[String]) = {
    // pruning hands ParquetTable LEAF FILE paths; on a hive-partitioned
    // snapshot those live under `col=value/` dirs, and without basePath
    // the relation would stop inferring the partition columns — every
    // partition value silently reads NULL. Pin discovery to the snapshot
    // dir regardless (harmless for the unpartitioned delegate).
    val opts = {
      val m = new java.util.HashMap[String, String](options)
      m.put("basePath", dataDir)
      new CaseInsensitiveStringMap(m)
    }
    ParquetTable(tableName, spark, opts, paths, Some(tableSchema),
      classOf[ParquetFileFormat]).newScanBuilder(opts)
  }

  private val delegate = builderOver(Seq(dataDir))
  private var savedFilters: Seq[Expression] = Nil
  private var savedColumns: Option[StructType] = None
  private var savedAgg: Option[Aggregation] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    // HIDDEN-partition derivation: a predicate on the SOURCE column of a
    // partition transform implies a predicate on the derived partition
    // column (`ts >= X` ⇒ `ts_day >= day(X)` — the time transforms are
    // monotone; bucket derives equality/IN only). The derived filters are
    // pushed alongside the originals so the delegate's partition pruning
    // consumes them, and are NEVER surfaced back to Spark (they reference
    // a column the query never named — they are implications, not
    // residual work).
    val derived = GraftPrunedScanBuilder
      .derivePartitionFilters(filters, transformSpecs, tableSchema)
    savedFilters = filters ++ derived
    delegate.pushFilters(savedFilters)
      .filterNot(f => derived.exists(_ eq f))
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    savedColumns = Some(requiredSchema)
    delegate.pruneColumns(requiredSchema)
  }
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // `footerAggregates` is false for a deletion-vector-bearing snapshot
    // (footers count deleted rows, and DvReadRewrite needs the relation's
    // RAW columns to substitute the filtered read) and for a spec-spanning
    // one (footers of the top-level files alone would answer for a table
    // whose newer rows live under _spec<i>/): refusing the pushdown makes
    // COUNT/MIN/MAX compute above the corrected scan
    if (!footerAggregates) return false
    val ok = delegate.pushAggregation(aggregation)
    if (ok) savedAgg = Some(aggregation)
    ok
  }

  override def build(): Scan = {
    val kept = GraftPrunedScanBuilder.prunedFiles(spark, dataDir, savedFilters)
    kept match {
      case Some(files) =>
        // replay the pushdown conversation on a builder over the kept list
        val b = builderOver(files)
        if (savedFilters.nonEmpty) b.pushFilters(savedFilters)
        savedAgg.foreach(b.pushAggregation)
        savedColumns.foreach(b.pruneColumns)
        b.build()
      case None => delegate.build()
    }
  }
}

object GraftPrunedScanBuilder {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Pmod, TruncDate, TruncTimestamp}
  import org.apache.spark.sql.types.{DateType, IntegerType}

  /** Partition filters IMPLIED by source-column predicates under the
    * table's partition transforms. Time transforms (day/month/year/hour)
    * are monotone non-decreasing, so ranges derive (with ≥/≤ at the
    * boundary bucket — conservative supersets); bucket is not monotone,
    * so only equality/IN derive. Anything unrecognized derives nothing
    * (never prune on a guess — the same conservatism as the manifest
    * interval test).
    */
  private[sql] def derivePartitionFilters(filters: Seq[Expression],
      specs: Seq[graft.sources.SnapshotStore.TransformSpec],
      schema: StructType): Seq[Expression] =
    if (specs.isEmpty) Nil
    else specs.flatMap { sp =>
      // time transforms bucketed under the CREATE-time session timezone;
      // deriving under a different reader zone would prune directories
      // that hold matching rows — skip (correct, just unpruned).
      // bucket/truncate are zone-free.
      val tzOk = sp.kind == "bucket" || sp.kind == "truncate" ||
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone == sp.tz
      if (!tzOk) Nil
      else schema.fields.find(_.name.equalsIgnoreCase(sp.pcol)).toSeq.flatMap { pf =>
        val pAttr = AttributeReference(pf.name, pf.dataType)()
        // NULL-SAFE derivation (round 17 — partition-TRANSFORM evolution):
        // rows written before the derived column existed (an era evolved
        // from days(ts) to hours(ts), or a table evolved from identity
        // layout) store NULL in it — both in old-era files (null-filled at
        // read) and in a post-OPTIMIZE `__HIVE_DEFAULT_PARTITION__` dir.
        // A bare derived predicate would silently drop those rows (wrong
        // results); OR IS NULL keeps them everywhere while non-null dirs
        // still prune. Single-era tables derive non-null values on every
        // row, so their pruning is unchanged.
        def nullSafe(e: Expression): Expression =
          Or(e, org.apache.spark.sql.catalyst.expressions.IsNull(pAttr))
        val mono = sp.kind != "bucket"
        def src(a: Expression): Boolean = a match {
          case ar: Attribute => ar.name.equalsIgnoreCase(sp.src)
          case _ => false
        }
        def pOf(l: Expression): Option[Literal] = l match {
          case lit: Literal if lit.value != null => transformLiteral(sp, lit)
          case _ => None
        }
        filters.flatMap {
          case EqualTo(a, l) if src(a) => pOf(l).map(EqualTo(pAttr, _))
          case EqualTo(l, a) if src(a) => pOf(l).map(EqualTo(pAttr, _))
          case GreaterThan(a, l) if mono && src(a) =>
            pOf(l).map(GreaterThanOrEqual(pAttr, _))
          case GreaterThanOrEqual(a, l) if mono && src(a) =>
            pOf(l).map(GreaterThanOrEqual(pAttr, _))
          case LessThan(a, l) if mono && src(a) =>
            // `ts < X` with X exactly ON a transform boundary excludes
            // X's whole bucket (`year(ts) < year(X)`); anywhere else the
            // boundary bucket stays (conservative ≤)
            pOf(l).map(p =>
              if (alignedAt(sp, l, p)) LessThan(pAttr, p)
              else LessThanOrEqual(pAttr, p))
          case LessThanOrEqual(a, l) if mono && src(a) =>
            pOf(l).map(LessThanOrEqual(pAttr, _))
          // flipped literal-first comparisons invert the bound
          case GreaterThan(l, a) if mono && src(a) =>
            pOf(l).map(LessThanOrEqual(pAttr, _))
          case GreaterThanOrEqual(l, a) if mono && src(a) =>
            pOf(l).map(LessThanOrEqual(pAttr, _))
          case LessThan(l, a) if mono && src(a) =>
            pOf(l).map(GreaterThanOrEqual(pAttr, _))
          case LessThanOrEqual(l, a) if mono && src(a) =>
            pOf(l).map(GreaterThanOrEqual(pAttr, _))
          case In(a, vs) if src(a) =>
            val ps = vs.map(pOf)
            if (ps.nonEmpty && ps.forall(_.isDefined))
              Some(In(pAttr, ps.flatten.distinct)) else None
          case InSet(a: Attribute, vs) if src(a) =>
            val ps = vs.toSeq.map(v =>
              transformLiteral(sp, Literal(v, a.dataType)))
            if (ps.nonEmpty && ps.forall(_.isDefined))
              Some(In(pAttr, ps.flatten.distinct)) else None
          case _ => None
        }.map(nullSafe)
      }
    }

  /** Is the source literal exactly its own partition floor (e.g. a
    * midnight timestamp under days/years)? Checked by casting the
    * partition value back to the source type and comparing — false on
    * any surprise (keeps the conservative bound).
    */
  private def alignedAt(sp: graft.sources.SnapshotStore.TransformSpec,
      l: Expression, p: Literal): Boolean =
    try {
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val back = Cast(p, l.dataType, tz).eval(null)
      back != null && back == l.asInstanceOf[Literal].value
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Evaluate the transform on one literal, driver-side — the SAME
    * function the write-side generation SQL computes, expressed as
    * resolved catalyst nodes so `eval` works at planning time.
    */
  private def transformLiteral(
      sp: graft.sources.SnapshotStore.TransformSpec,
      l: Literal): Option[Literal] =
    try {
      val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      val expr: Expression = sp.kind match {
        case "day" => Cast(l, DateType, tz)
        case "month" => TruncDate(Cast(l, DateType, tz), Literal("MONTH"))
        case "year" => TruncDate(Cast(l, DateType, tz), Literal("YEAR"))
        case "hour" => TruncTimestamp(Literal("HOUR"), l, tz)
        case "bucket" =>
          Cast(Pmod(new XxHash64(Seq(l)), Literal(sp.arg.toLong)), IntegerType)
        case "truncate" if l.dataType == org.apache.spark.sql.types.StringType =>
          org.apache.spark.sql.catalyst.expressions.Substring(
            l, Literal(1), Literal(sp.arg))
        case "truncate" =>
          org.apache.spark.sql.catalyst.expressions.Subtract(l,
            Pmod(l, Cast(Literal(sp.arg), l.dataType)))
        case _ => return None
      }
      val v = expr.eval(null)
      if (v == null) None else Some(Literal(v, expr.dataType))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Files of `dataDir` whose manifest interval may satisfy `filters`;
    * None = no manifest / nothing pruned (caller keeps the plain scan).
    * The manifest is one tiny row per file — collecting it at planning
    * time is the same metadata-query shape Delta uses for data skipping.
    */
  private def prunedFiles(spark: SparkSession, dataDir: String,
      filters: Seq[Expression]): Option[Seq[String]] = {
    val mdir = java.nio.file.Paths.get(dataDir, "_manifest")
    if (filters.isEmpty || !java.nio.file.Files.isDirectory(mdir)) return None
    val manifest = spark.read.parquet(mdir.toString)
    val statCols = manifest.columns.toSet
    val rows = manifest.collect() // bounded: one row per data file
    val keep = rows.filter { r =>
      filters.forall(f => mayMatch(f, r, statCols))
    }
    if (keep.length == rows.length) None
    else Some(keep.map(_.getAs[String]("file")).toSeq)
  }

  /** Conservative interval test: false ONLY when [min,max] proves no row
    * of this file can satisfy `e`.
    */
  private def mayMatch(e: Expression, r: Row, statCols: Set[String]): Boolean = {
    def stats(a: Expression): Option[(Any, Any)] = a match {
      case at: Attribute
          if statCols.contains(s"min_${at.name}") &&
            statCols.contains(s"max_${at.name}") =>
        val lo = r.getAs[Any](s"min_${at.name}")
        val hi = r.getAs[Any](s"max_${at.name}")
        if (lo == null || hi == null) None else Some((lo, hi))
      case _ => None
    }
    def litVal(l: Expression): Option[Any] = l match {
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }
    // compare a catalyst literal with a manifest (external-row) value;
    // None = incomparable kinds -> cannot prune
    def cmp(stat: Any, lit: Any): Option[Int] = (stat, lit) match {
      case (a: Byte, _) => cmp(a.toLong, lit)
      case (a: Short, _) => cmp(a.toLong, lit)
      case (a: Int, _) => cmp(a.toLong, lit)
      case (a: Long, b: Byte) => Some(java.lang.Long.compare(a, b.toLong))
      case (a: Long, b: Short) => Some(java.lang.Long.compare(a, b.toLong))
      case (a: Long, b: Int) => Some(java.lang.Long.compare(a, b.toLong))
      case (a: Long, b: Long) => Some(java.lang.Long.compare(a, b))
      case (a: Float, _) => cmp(a.toDouble, lit)
      case (a: Double, b: Float) => Some(java.lang.Double.compare(a, b.toDouble))
      case (a: Double, b: Double) => Some(java.lang.Double.compare(a, b))
      case (a: String, b: org.apache.spark.unsafe.types.UTF8String) =>
        Some(a.compareTo(b.toString))
      case (a: java.math.BigDecimal, b: org.apache.spark.sql.types.Decimal) =>
        Some(a.compareTo(b.toJavaBigDecimal))
      case (a: java.sql.Date, b: Int) => // DateType literal = epoch days
        Some(java.lang.Long.compare(a.toLocalDate.toEpochDay, b.toLong))
      case (a: java.sql.Timestamp, b: Long) => // TimestampType literal = micros
        Some(java.lang.Long.compare(
          a.getTime * 1000L + (a.getNanos / 1000L) % 1000L, b))
      case _ => None
    }
    e match {
      case And(l, rr) => mayMatch(l, r, statCols) && mayMatch(rr, r, statCols)
      case Or(l, rr) => mayMatch(l, r, statCols) || mayMatch(rr, r, statCols)
      case EqualTo(a, l) => (stats(a), litVal(l)) match {
        case (Some((lo, hi)), Some(v)) =>
          cmp(lo, v).forall(_ <= 0) && cmp(hi, v).forall(_ >= 0) &&
            bloomKeeps(a, v, r, statCols)
        case (None, Some(v)) => bloomKeeps(a, v, r, statCols)
        case _ => eqFlipped(a, l, r, statCols)
      }
      case GreaterThan(a, l) => (stats(a), litVal(l)) match {
        case (Some((_, hi)), Some(v)) => cmp(hi, v).forall(_ > 0)
        case _ => true
      }
      case GreaterThanOrEqual(a, l) => (stats(a), litVal(l)) match {
        case (Some((_, hi)), Some(v)) => cmp(hi, v).forall(_ >= 0)
        case _ => true
      }
      case LessThan(a, l) => (stats(a), litVal(l)) match {
        case (Some((lo, _)), Some(v)) => cmp(lo, v).forall(_ < 0)
        case _ => true
      }
      case LessThanOrEqual(a, l) => (stats(a), litVal(l)) match {
        case (Some((lo, _)), Some(v)) => cmp(lo, v).forall(_ <= 0)
        case _ => true
      }
      case In(a, vs) if vs.forall(litVal(_).isDefined) =>
        vs.exists(v => mayMatch(EqualTo(a, v), r, statCols))
      case InSet(a, vs) => stats(a) match {
        case Some((lo, hi)) => vs.exists(v =>
          cmp(lo, v).forall(_ <= 0) && cmp(hi, v).forall(_ >= 0) &&
            bloomKeeps(a, v, r, statCols))
        case None => vs.exists(v => bloomKeeps(a, v, r, statCols))
      }
      case _: Cast => true
      case _ => true // unknown shape: never prune on a guess
    }
  }

  /** `EqualTo(Literal, Attribute)` — the flipped form. */
  private def eqFlipped(a: Expression, l: Expression, r: Row,
      statCols: Set[String]): Boolean = (a, l) match {
    case (_: Literal, _: Attribute) => mayMatch(EqualTo(l, a), r, statCols)
    case _ => true
  }

  /** Per-file BLOOM probe for equality/IN point predicates — false ONLY
    * when the file's `bloom_<col>` sketch (written by writeManifest's
    * bloomCols) proves the value absent. The probe hashes the literal with
    * the SAME `xxhash64` the aggregate hashed the column with, then asks
    * the sketch `mightContainLong` — identical to Spark's own
    * runtime-filter probe (`bloom_might_contain`), evaluated driver-side
    * at planning time. Missing column / null sketch / type surprise ⇒
    * keep the file (conservative, like the interval test).
    */
  private def bloomKeeps(a: Expression, v: Any, r: Row,
      statCols: Set[String]): Boolean = a match {
    case at: Attribute if statCols.contains(s"bloom_${at.name}") =>
      val bytes =
        try r.getAs[Array[Byte]](s"bloom_${at.name}")
        catch { case _: Exception => null }
      if (bytes == null) true
      else try {
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        val hash = new XxHash64(
          Seq(Literal(v, at.dataType))).eval(null).asInstanceOf[Long]
        bf.mightContainLong(hash)
      } catch { case _: Exception => true } // unreadable sketch: keep
    case _ => true
  }
}
