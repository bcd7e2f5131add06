package graft.sources

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL face of the warehouse: a DataSource-V2 [[TableCatalog]] over
  * [[SnapshotStore]] tables, registered via
  * `spark.sql.catalog.<name> = graft.sources.GraftCatalog` (+
  * `spark.sql.catalog.<name>.warehouse = <dir>`). This is what lets a SQL
  * user type the things a warehouse user types FIRST — reference context:
  * the reference's entire serve path is a plain SQL SELECT over a named
  * table (`Server/main.go:230`):
  *
  *   - `SELECT … FROM cat.ns.t`                 (named tables, no Scala API)
  *   - `SELECT … FROM cat.ns.t VERSION AS OF 3` (time travel — Spark calls
  *     the `loadTable(ident, version)` overload; TIMESTAMP AS OF resolves
  *     through commit mtimes, the Delta rule)
  *   - `INSERT INTO / OVERWRITE cat.ns.t …`     (V1 write fallback routed
  *     through the optimistic commit protocol — never a bare file append,
  *     which would corrupt snapshot immutability)
  *   - `CREATE TABLE / CTAS / DROP / ALTER TABLE ADD|DROP COLUMN`
  *     (ALTER is metadata-only: [[SnapshotStore.alterSchema]] commits a
  *     hard-link version whose snapshot record pins the new schema — zero
  *     data rewrite)
  *
  * Scan path: `loadTable` pins a SNAPSHOT (analysis-time version
  * resolution, so one query sees one consistent version even under
  * concurrent writers — wait-free readers) and delegates the scan to
  * Spark's own vectorized `ParquetTable` over the snapshot's immutable
  * dir: predicate pushdown, column pruning, and whole-stage codegen are
  * identical to a plain parquet read. The catalog adds pointers, not a
  * data path.
  *
  * The warehouse root is re-read from the session conf on every call (not
  * cached at `initialize`): Spark's CatalogManager instantiates one plugin
  * per name per session, but tests/gates repoint the warehouse per run.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  import GraftCatalog.CdcKeysProp

  private var catalogName: String = _
  private var initOptions: CaseInsensitiveStringMap = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initOptions = options
    // self-install the engine's rules on the owning session: a catalog
    // user who never calls GraftExtensions.install would otherwise read a
    // deletion-vector table through the RAW scan (DvReadRewrite absent ⇒
    // deleted rows silently resurrect) and lose the DML strategy. The
    // install is idempotent; initialize runs driver-side at first catalog
    // reference, when the session is fully built. Only the no-session case
    // (tests constructing the plugin directly — the explicit install path
    // still applies there) is skipped; any OTHER install failure must
    // propagate, because swallowing it would silently resurrect deleted
    // rows on every later DV-table read.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(graft.GraftExtensions.install)
  }

  override def name(): String = catalogName

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  private[sources] def warehousePath: String = warehouse

  private def warehouse: String = {
    val key = s"spark.sql.catalog.$catalogName.warehouse"
    val fromConf = SQLConf.get.getConfString(key, "")
    val w = if (fromConf.nonEmpty) fromConf
      else Option(initOptions.get("warehouse")).getOrElse("")
    require(w.nonEmpty, s"set $key to the warehouse directory")
    w
  }

  private def rootOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toIndexedSeq :+ ident.name).mkString("/")

  private def isTable(root: String): Boolean =
    Files.isDirectory(Paths.get(root, "_commits"))

  private def spark: SparkSession = SparkSession.active

  // ---- tables -------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = Paths.get((warehouse +: namespace.toIndexedSeq).mkString("/"))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val s = Files.list(dir)
    try s.iterator().asScala.toArray
      .filter(p => isTable(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
    finally s.close()
  }

  override def loadTable(ident: Identifier): Table =
    metaTable(ident, None).getOrElse {
      val root = rootOf(ident)
      if (!isTable(root)) throw new NoSuchTableException(ident)
      new GraftTable(spark, ident.toString, root, SnapshotStore.latest(root),
        pinned = false)
    }

  /** `VERSION AS OF <v>` — Spark hands the version literal as a string.
    * A non-numeric string is a NAMED REF: `VERSION AS OF 'baseline'`
    * resolves through the table's tag store ([[SnapshotStore.createTag]]),
    * so pipelines address blessed snapshots by name while commits keep
    * landing. Ref names can never parse as a long (enforced at tag
    * creation), so the grammar stays unambiguous.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = ident.name.takeWhile(_ != '$')
    val baseRoot = rootOf(Identifier.of(ident.namespace, base))
    if (!isTable(baseRoot)) throw new NoSuchTableException(ident)
    val v = version.toLongOption
      .getOrElse(SnapshotStore.resolveRef(baseRoot, version))
    metaTable(ident, Some(v)).getOrElse {
      new GraftTable(spark, ident.toString, baseRoot,
        SnapshotStore.at(baseRoot, v), pinned = true)
    }
  }

  /** `TIMESTAMP AS OF <t>` — `timestamp` arrives as epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (ident.name.indexOf('$') >= 0) { // metadata table: name check only
      val base = ident.name.takeWhile(_ != '$')
      val root = rootOf(Identifier.of(ident.namespace, base))
      // classify a missing base table BEFORE versionAsOf lists its
      // commit log, or the analyzer sees a raw NoSuchFileException
      if (!isTable(root)) throw new NoSuchTableException(ident)
      return metaTable(ident,
        Some(SnapshotStore.versionAsOf(root, timestamp))).get
    }
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    new GraftTable(spark, ident.toString, root,
      SnapshotStore.at(root, SnapshotStore.versionAsOf(root, timestamp)),
      pinned = true)
  }

  /** METADATA TABLES — the Iceberg `table$suffix` idiom:
    * `` SELECT * FROM cat.ns.`t$history` `` (the full commit log with
    * txn-stamp audit columns) and `` `t$files` `` (the pinned snapshot's
    * physical data files with footer row counts; composes with
    * `VERSION AS OF` / `TIMESTAMP AS OF`, so "how many files/rows did
    * version 3 carry" is one SQL query). Served as a [[LocalScan]]: both
    * surfaces are log-scale (one row per commit / per file of one
    * snapshot), never data-scale — the same driver-side metadata-query
    * shape the CALL procedures use. Read-only by construction (no
    * SupportsWrite). None = no `$` in the name (a regular table).
    */
  private def metaTable(ident: Identifier, version: Option[Long]): Option[Table] = {
    val i = ident.name.indexOf('$')
    if (i < 0) return None
    val kind = ident.name.substring(i + 1).toLowerCase
    val root = rootOf(Identifier.of(ident.namespace, ident.name.substring(0, i)))
    if (!isTable(root)) throw new NoSuchTableException(ident)
    kind match {
      case "history" =>
        require(version.isEmpty,
          "$history is the full commit log; time travel does not apply")
        val schema = SnapshotStore.history(spark, root).schema
        Some(new GraftMetaTable(ident.toString, schema, () => {
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(schema)
          SnapshotStore.history(SparkSession.active, root).collect()
            .map(conv(_).asInstanceOf[InternalRow])
        }))
      case "files" =>
        // `def`, not `val`: an un-pinned metadata query resolves latest()
        // inside compute(), per GraftMetaTable's "as of ITS OWN planning"
        // contract — a cached relation must not serve a stale listing
        def snap = version.map(v => SnapshotStore.at(root, v))
          .getOrElse(SnapshotStore.latest(root))
        val schema = StructType(Seq(
          org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("size_bytes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("row_count",
            org.apache.spark.sql.types.LongType)))
        Some(new GraftMetaTable(ident.toString, schema, () =>
          SnapshotStore.dataFileMeta(snap.dataDir).map { case (f, sz, n) =>
            InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(f),
              sz, n): InternalRow
          }.toArray))
      case "partitions" =>
        // per-partition rollup of the snapshot's physical layout — the
        // first question on a partitioned table at scale ("how skewed are
        // my partitions, which ones fragmented"); one row per partition
        // dir, derived from the same footer walk as $files. `def` snap:
        // see $files
        def snap = version.map(v => SnapshotStore.at(root, v))
          .getOrElse(SnapshotStore.latest(root))
        val schema = StructType(Seq(
          org.apache.spark.sql.types.StructField("partition",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_files",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("size_bytes",
            org.apache.spark.sql.types.LongType)))
        Some(new GraftMetaTable(ident.toString, schema, () =>
          SnapshotStore.dataFileMeta(snap.dataDir)
            .groupBy { case (rel, _, _) =>
              rel.split('/').dropRight(1).mkString("/") // "" = unpartitioned
            }
            .toSeq.sortBy(_._1)
            .map { case (part, fs) =>
              InternalRow(
                org.apache.spark.unsafe.types.UTF8String.fromString(part),
                fs.size.toLong, fs.map(_._3).sum, fs.map(_._2).sum): InternalRow
            }.toArray))
      case "specs" =>
        // the snapshot's partition-spec history (Iceberg `partitions`
        // metadata has a twin `spec-id` notion): one row per spec the
        // PINNED snapshot spans — a never-evolved snapshot reports its
        // single spec with id 0. Composes with VERSION AS OF, so "which
        // layouts does version 3 span" is one SQL query.
        def snap = version.map(v => SnapshotStore.at(root, v))
          .getOrElse(SnapshotStore.latest(root)) // `def`: see $files
        val schema = StructType(Seq(
          org.apache.spark.sql.types.StructField("spec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("partition_cols",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("is_current",
            org.apache.spark.sql.types.BooleanType)))
        // one snapshot per compute: readSpecs and layoutCols must read
        // the SAME dir, or an un-pinned query racing a commit serves a
        // torn listing
        def specs = { val s0 = snap
          SnapshotStore.readSpecs(s0.dataDir) match {
            // no sidecar: a single-spec snapshot. Its layout is PHYSICAL
            // truth — derive the cols from its own `col=value` dir chain
            // rather than the table's CURRENT config, which a pinned
            // pre-evolution version may predate
            case Nil => Seq(("." , SnapshotStore.layoutCols(s0.dataDir)))
            case s => s
          }
        }
        Some(new GraftMetaTable(ident.toString, schema, () => {
          val sp = specs
          sp.zipWithIndex.map { case ((_, cols), i) =>
            InternalRow(i.toLong,
              org.apache.spark.unsafe.types.UTF8String.fromString(
                cols.mkString(",")),
              i == sp.size - 1): InternalRow
          }.toArray
        }))
      case "refs" =>
        require(version.isEmpty,
          "$refs is the live tag listing; time travel does not apply")
        val schema = StructType(Seq(
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType)))
        Some(new GraftMetaTable(ident.toString, schema, () =>
          SnapshotStore.refs(root).map { case (n, v) =>
            InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n),
              v): InternalRow
          }.toArray))
      case "branches" =>
        require(version.isEmpty,
          "$branches is the live fork listing; time travel does not apply")
        val schema = StructType(Seq(
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("fork_base",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("head_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("stale",
            org.apache.spark.sql.types.BooleanType)))
        Some(new GraftMetaTable(ident.toString, schema, () => {
          val cur = SnapshotStore.latest(root).version
          SnapshotStore.branches(root).map { case (n, base, head) =>
            InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(n),
              base, head, base != cur): InternalRow
          }.toArray
        }))
      case other => throw new UnsupportedOperationException(
        s"unknown metadata table $$$other " +
          "(supported: $history, $files, $partitions, $refs, $specs, " +
          "$branches)")
    }
  }

  /** Encode a v2 ColumnDefaultValue as the CURRENT_DEFAULT/EXISTS_DEFAULT
    * field-metadata pair Spark's default-resolution machinery reads —
    * shared by CREATE TABLE and ALTER TABLE ADD COLUMN so the two paths
    * cannot diverge. Only CONSTANT defaults are accepted: EXISTS_DEFAULT
    * must be a value frozen at DDL time (a re-evaluated current_date()
    * would drift per read).
    */
  private def putDefaultMetadata(
      md: org.apache.spark.sql.types.MetadataBuilder, colName: String,
      dv: org.apache.spark.sql.connector.catalog.ColumnDefaultValue): Unit = {
    val lv = Option(dv.getValue).getOrElse(
      throw new UnsupportedOperationException(
        s"non-constant DEFAULT for $colName: ${dv.getSql} " +
          "(literal defaults only)"))
    val litSql = org.apache.spark.sql.catalyst.expressions
      .Literal(lv.value, lv.dataType).sql
    md.putString("CURRENT_DEFAULT", Option(dv.getSql).getOrElse(litSql))
    md.putString("EXISTS_DEFAULT", litSql)
  }

  /** The v2-Column overload is the one Spark actually calls for CREATE
    * TABLE; its DEFAULT bridge to the StructType form drops the identity
    * spec on the floor, so convert the columns ourselves — identity
    * (start/step/allowExplicitInsert) and DEFAULT both land as field
    * metadata, the same encoding ALTER writes and the snapshot record pins.
    */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val schema = StructType(columns.map { c =>
      val md = new org.apache.spark.sql.types.MetadataBuilder()
      // STORED generated columns: the expression rides as field metadata;
      // every write path COMPUTES the column (columnFor in SnapshotStore),
      // and createTable adds an automatic CHECK constraint so any commit
      // that would leave it stale (an UPDATE touching its inputs without
      // re-deriving it) refuses loudly instead of corrupting silently
      Option(c.generationExpression()).foreach { g =>
        md.putString(GraftCatalog.GenerationExprKey, g)
      }
      if (c.metadataInJSON() != null)
        md.withMetadata(org.apache.spark.sql.types.Metadata
          .fromJson(c.metadataInJSON()))
      Option(c.defaultValue()).foreach(putDefaultMetadata(md, c.name(), _))
      Option(c.identityColumnSpec()).foreach { idSpec =>
        md.putLong("identity.start", idSpec.getStart)
        md.putLong("identity.step", idSpec.getStep)
        md.putBoolean("identity.allowExplicitInsert",
          idSpec.isAllowExplicitInsert)
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), md.build())
    })
    createTable(ident, schema, partitions, properties)
  }

  override def createTable(ident: Identifier, schema0: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    // identity transforms partition by the named column; days/months/
    // years/hours/bucket desugar to a GENERATED partition column (the
    // Delta generated-partition idiom — computed on write, CHECK-guarded)
    // recorded in the config record so reads DERIVE partition
    // filters from predicates on the SOURCE column (hidden partitioning)
    val (identT, derivedT) = partitions.toSeq.partition(t =>
      t.name == "identity" && t.references.length == 1)
    val specs = derivedT.map(GraftCatalog.transformSpecOf(_, schema0))
    specs.foreach { sp =>
      require(!schema0.fieldNames.exists(_.equalsIgnoreCase(sp.pcol)),
        s"derived partition column ${sp.pcol} collides with a table column")
    }
    require(specs.map(_.pcol).distinct.length == specs.length,
      "two partition transforms over the same source column derive the " +
        s"same column name: ${specs.map(_.pcol).mkString(", ")}")
    val schema = StructType(schema0.fields ++ specs.map { sp =>
      org.apache.spark.sql.types.StructField(sp.pcol,
        GraftCatalog.transformType(sp, schema0), nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftCatalog.GenerationExprKey,
            GraftCatalog.transformSql(sp, schema0)).build())
    })
    val partCols = identT.map(_.references.head.fieldNames.mkString(".")) ++
      specs.map(_.pcol)
    require(partCols.forall(c => schema.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"partition columns $partCols must be table columns")
    // identity columns: validated here, assigned by appendWithIdentity on
    // the insert path (v1 scope: one identity column, integral type,
    // non-CDC table; any hive layout or spec evolution)
    val idFields = schema.fields.filter(_.metadata.contains("identity.start"))
    if (idFields.nonEmpty) {
      require(idFields.length == 1,
        s"at most one identity column (got ${idFields.map(_.name).mkString(",")})")
      require(idFields.head.dataType == org.apache.spark.sql.types.LongType ||
        idFields.head.dataType == org.apache.spark.sql.types.IntegerType,
        s"identity column ${idFields.head.name} must be integral")
      require(!properties.containsKey(CdcKeysProp),
        "identity columns are supported on non-CDC tables")
      require(!partitions.exists(_.references().exists(
          _.fieldNames().headOption.exists(
            _.equalsIgnoreCase(idFields.head.name)))),
        s"cannot partition by identity column ${idFields.head.name}: every " +
          "row gets a unique value (one directory per row)")
    }
    // generated columns: expression must resolve against the NON-generated
    // columns only (chained generation — one generated column referencing
    // another — would evaluate against the RAW input where the sibling is
    // not yet derived, landing values the consistency CHECK then rejects
    // on every insert; refuse it at CREATE instead), be deterministic (a
    // per-write rand() would make the stored value unreproducible), and be
    // free of time/session-dependent functions (current_date() counts as
    // "deterministic" to Spark but re-evaluates per statement — the
    // `col <=> (expr)` CHECK would refuse every later full-rewrite DML on
    // rows stamped under an earlier clock)
    val genFields = schema.fields
      .filter(_.metadata.contains(GraftCatalog.GenerationExprKey))
    genFields.foreach { f =>
      val g = f.metadata.getString(GraftCatalog.GenerationExprKey)
      require(!f.metadata.contains("identity.start"),
        s"${f.name} cannot be both identity and generated")
      val others = StructType(schema.fields
        .filter(o => o.name != f.name &&
          !o.metadata.contains(GraftCatalog.GenerationExprKey))
        .map(o => o.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], others)
        .select(org.apache.spark.sql.functions.expr(g)) // throws if unresolvable
      val analyzed = probe.queryExecution.analyzed.expressions
      require(analyzed.forall(_.deterministic),
        s"generation expression for ${f.name} must be deterministic: $g")
      import org.apache.spark.sql.catalyst.expressions._
      val timeDependent = analyzed.exists(_.exists {
        case _: CurrentDate | _: CurrentTimestamp | _: Now |
          _: LocalTimestamp | _: CurrentTimeZone => true
        case _ => false
      })
      require(!timeDependent,
        s"generation expression for ${f.name} must not depend on the " +
          s"statement clock/session: $g")
    }
    // store identity AND generated columns NULLABLE: the V1 insert
    // fallback pads an omitted column with NULL before the engine ever
    // sees the rows, and a non-nullable field trips Spark's null check
    // there. Non-nullness is the ENGINE's guarantee (assignment /
    // generation fills every row), not the schema's.
    val storedSchema = StructType(schema.fields.map(f =>
      if (f.metadata.contains("identity.start") ||
        f.metadata.contains(GraftCatalog.GenerationExprKey))
        f.copy(nullable = true)
      else f))
    val root = rootOf(ident)
    if (isTable(root)) throw new TableAlreadyExistsException(ident)
    val keys = Option(properties.get(CdcKeysProp))
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    Files.createDirectories(Paths.get(root).getParent)
    SnapshotStore.init(spark, root,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        storedSchema),
      cdcKeys = keys, partitionBy = partCols)
    // one config edit: the DML mode, the transform specs, and the opaque
    // user properties set at CREATE, which persist exactly as ALTER SET
    // TBLPROPERTIES does (the Delta/Iceberg contract — a prop set at
    // CREATE must not vanish from properties()); engine keys routed to
    // their own config, Spark's reserved/internal keys stay out
    SnapshotStore.editConfig(root)(c => c.copy(
      dmlMode = Option(properties.get(GraftCatalog.DmlModeProp))
        .getOrElse(c.dmlMode),
      transforms = specs,
      properties = c.properties ++ GraftCatalog.userPropertiesOf(properties)))
    // the consistency contract: every commit (including DML that never
    // goes near this catalog) must leave the stored value equal to the
    // expression — CHECK constraints run on all commit paths, so an
    // UPDATE that touches an input without re-deriving the generated
    // column refuses loudly instead of corrupting silently
    genFields.foreach { f =>
      val g = f.metadata.getString(GraftCatalog.GenerationExprKey)
      SnapshotStore.addTableConstraint(spark, root,
        s"__gen_${f.name}", s"${f.name} <=> ($g)")
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    // constraint/property changes are table-level config, not schema versions
    val (configChanges, schemaChanges) = changes.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    configChanges.foreach {
      // ALTER TABLE t SET TBLPROPERTIES ('dml.mode' = 'merge-on-read'):
      // flip the DML strategy on a live table (the Delta
      // enableDeletionVectors shape)
      case set: TableChange.SetProperty
          if set.property == GraftCatalog.DmlModeProp =>
        SnapshotStore.setDmlMode(root, set.value)
      case rm: TableChange.RemoveProperty
          if rm.property == GraftCatalog.DmlModeProp =>
        SnapshotStore.setDmlMode(root, SnapshotStore.CopyOnWrite)
      // `cdc.keys` binds the feed's identity at CREATE: every committed
      // change frame was keyed by it, so re-keying a live table would
      // silently re-interpret history — refuse, loudly
      case set: TableChange.SetProperty
          if GraftCatalog.ReservedProps(set.property) =>
        throw new UnsupportedOperationException(
          s"table property '${set.property}' is engine-managed and cannot " +
            "be altered (set cdc.keys at CREATE TABLE)")
      case rm: TableChange.RemoveProperty
          if GraftCatalog.ReservedProps(rm.property) =>
        throw new UnsupportedOperationException(
          s"table property '${rm.property}' is engine-managed and cannot " +
            "be unset")
      // everything else is an OPAQUE user property (comments, owners,
      // tooling tags — the Delta/Iceberg contract): stored in the
      // table's config record, served back by properties()
      case set: TableChange.SetProperty =>
        SnapshotStore.setTableProperty(root, set.property, set.value)
      case rm: TableChange.RemoveProperty =>
        SnapshotStore.removeTableProperty(root, rm.property)
        ()
      case add: TableChange.AddConstraint => add.constraint() match {
        case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
          // validates EXISTING rows before accepting — the Delta contract
          SnapshotStore.addTableConstraint(spark, root, c.name(), c.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"only CHECK constraints are enforced (got ${other.toDDL})")
      }
      case drop: TableChange.DropConstraint =>
        val existed = SnapshotStore.dropTableConstraint(root, drop.name())
        if (!existed && !drop.ifExists())
          throw new IllegalArgumentException(s"no such constraint ${drop.name()}")
      case _ => ()
    }
    if (schemaChanges.isEmpty) return loadTable(ident)
    // RENAME COLUMN rides the same metadata-only commit: the field keeps
    // its type/metadata under the new name, files are untouched, and the
    // store's name-mapping sidecar resolves old physical names at read
    // (SnapshotStore.alterSchema validates the refusal list)
    val renames = schemaChanges.collect {
      // NESTED rename (`ALTER TABLE t RENAME COLUMN props.lang TO code`,
      // any struct depth): dotted logical paths on both sides — the store
      // keys the physical-name chain by the dotted path and the read-side
      // coalesce rebuilds the enclosing structs recursively
      // (SnapshotStore.applyRenames validates the refusal list)
      case rn: TableChange.RenameColumn =>
        (rn.fieldNames().init :+ rn.newName()).mkString(".") ->
          rn.fieldNames().mkString(".")
    }.toMap
    val nonRenames = schemaChanges.filterNot(_.isInstanceOf[TableChange.RenameColumn])
    // constraint edits cascading from schema changes (DROP COLUMN's
    // __gen_/__notnull_ removal, SET NOT NULL's add) happen inside the
    // evolve closure BEFORE the commit; if the ALTER ultimately aborts
    // (a later change in the batch refuses, or the commit race is lost
    // for good), restore them so a refusal leaves the table
    // untouched. The restore is scoped to exactly the names this ALTER's
    // cascades can touch — a wholesale byte restore would discard a
    // concurrent session's ADD/DROP CONSTRAINT landing mid-ALTER
    val touchedConstraintNames: Set[String] = schemaChanges.flatMap {
      case del: TableChange.DeleteColumn if del.fieldNames.length == 1 =>
        Seq(s"__gen_${del.fieldNames()(0)}", s"__notnull_${del.fieldNames()(0)}")
      case up: TableChange.UpdateColumnNullability
          if up.fieldNames.length == 1 =>
        Seq(s"__notnull_${up.fieldNames()(0)}")
      case _ => Nil
    }.toSet
    val savedConstraints = SnapshotStore.snapshotConstraints(root)
    try SnapshotStore.alterSchema(spark, root, schema =>
      nonRenames.foldLeft(schema) {
        // NESTED add/drop (`ALTER TABLE t ADD COLUMN props.lang STRING`):
        // the same metadata-only commit — the parquet reader clips each
        // file's stored struct against the pinned schema, so rows written
        // before the field existed null-fill it and rows still carrying a
        // dropped field project it away, no rewrite either way
        case (s, add: TableChange.AddColumn) if add.fieldNames.length > 1 =>
          require(Option(add.defaultValue()).isEmpty,
            s"nested ADD COLUMN does not take DEFAULT " +
              s"(${add.fieldNames.mkString(".")}) — defaults bind to " +
              "top-level columns")
          GraftCatalog.addNestedField(s, add.fieldNames().toSeq, add.dataType())
        case (s, del: TableChange.DeleteColumn) if del.fieldNames.length > 1 =>
          val path = del.fieldNames().toSeq
          // stored SQL texts referencing the dotted path would dangle
          val refd = GraftCatalog.exprTextsOf(root, s, exceptCol = "")
            .filter(_.matches("(?is).*\\b" +
              path.init.map(java.util.regex.Pattern.quote)
                .mkString("", "\\s*\\.\\s*", "\\s*\\.\\s*") +
              java.util.regex.Pattern.quote(path.last) + "\\b.*"))
          require(refd.isEmpty,
            s"cannot drop ${path.mkString(".")}: referenced by stored SQL " +
              s"expression(s): ${refd.take(2).mkString("; ")}")
          GraftCatalog.dropNestedField(s, path)
        case (s, add: TableChange.AddColumn) =>
          require(!s.exists(_.name.equalsIgnoreCase(add.fieldNames()(0))),
            s"column ${add.fieldNames()(0)} already exists")
          // ADD COLUMN … DEFAULT v: standard-SQL backfill WITHOUT a
          // rewrite — the default rides as the field's CURRENT_DEFAULT /
          // EXISTS_DEFAULT metadata (Spark's own column-default contract),
          // pinned in the snapshot record. Files written BEFORE the column
          // existed lack it physically, and the reader fills the
          // EXISTS_DEFAULT at scan time — so at 100 TB the "backfill" is
          // one metadata commit, never a table rewrite; rows written
          // after the ALTER store their values (an explicit NULL stays
          // NULL), exactly the existence-default semantics. Only
          // CONSTANT defaults are accepted: EXISTS_DEFAULT must be a
          // value frozen at ALTER time (a re-evaluated current_date()
          // would drift per read).
          val field = Option(add.defaultValue()) match {
            case None =>
              org.apache.spark.sql.types.StructField(
                add.fieldNames()(0), add.dataType(), nullable = true)
            case Some(dv) =>
              val md = new org.apache.spark.sql.types.MetadataBuilder()
              putDefaultMetadata(md, add.fieldNames()(0), dv)
              org.apache.spark.sql.types.StructField(
                add.fieldNames()(0), add.dataType(), nullable = true,
                md.build())
          }
          org.apache.spark.sql.types.StructType(s.fields :+ field)
        case (s, del: TableChange.DeleteColumn) =>
          val n = del.fieldNames()(0)
          val actual = s.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(s"no such column $n")).name
          require(!SnapshotStore.cdcKeys(root).exists(_.equalsIgnoreCase(n)),
            s"cannot drop CDC key column $n")
          // directory layout: current AND evolved-era partition specs
          // still encode these columns in their subtree paths
          require(!SnapshotStore.allLayoutCols(root).contains(n.toLowerCase),
            s"cannot drop partition/layout column $n (directory layout)")
          // anything OTHER than the column's own engine checks that
          // references it (user CHECKs, other columns' generated
          // expressions / defaults) would dangle — refuse BEFORE any
          // cascade so a refusal leaves the table untouched
          val own = Set(s"__gen_$actual".toLowerCase,
            s"__notnull_${n.toLowerCase}")
          val refd = GraftCatalog
            .exprTextsOf(root, s, exceptCol = actual, ownConstraints = own)
            .filter(_.matches(
              s"(?is).*\\b${java.util.regex.Pattern.quote(n)}\\b.*"))
          require(refd.isEmpty,
            s"cannot drop $n: referenced by stored SQL expression(s): " +
              refd.take(2).mkString("; "))
          // the column's OWN engine checks cascade away with it
          SnapshotStore.dropTableConstraint(root, s"__gen_$actual")
          SnapshotStore.dropTableConstraint(root, s"__notnull_${n.toLowerCase}")
          StructType(s.filterNot(_.name.equalsIgnoreCase(n)))
        case (s, up: TableChange.UpdateColumnType) if up.fieldNames.length > 1 =>
          // NESTED widening (`ALTER COLUMN props.x TYPE BIGINT`): the same
          // metadata-only rule inside a struct — the reader clips each
          // file's stored struct against the pinned schema and upcasts the
          // narrow stored leaf, exactly as at top level. CDC tables widen
          // too: changes() reads every frame under the HEAD (wide) type,
          // upcasting pre-widen frames losslessly, and a stream declared
          // before the widen refuses loudly with a restart instruction
          GraftCatalog.widenNestedField(s, up.fieldNames().toSeq,
            up.newDataType())
        case (s, up: TableChange.UpdateColumnType) =>
          // ALTER COLUMN ... TYPE: metadata-only for WIDENING conversions
          // (the Delta type-widening feature shape) — Spark 4's parquet
          // reader serves narrow stored values through the widened
          // requested schema, so old files never rewrite; new files store
          // the wide type and the dir mixes eras safely. Narrowing would
          // silently truncate at read and refuses. On CDC tables the feed
          // rides the same rule: changes() requests the head type over
          // every frame (pre-widen frames upcast), so a long-lived CDC
          // table's int32 key can grow to int64 without forking its feed.
          val n = up.fieldNames()(0)
          val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(n))
          require(idx >= 0, s"no such column $n")
          require(!SnapshotStore.partitionCols(root)
            .exists(_.equalsIgnoreCase(n)),
            s"cannot change the type of partition column $n")
          val from = s.fields(idx).dataType
          val to = up.newDataType()
          require(GraftCatalog.widens(from, to),
            s"only widening type changes are metadata-only " +
              s"(got ${from.simpleString} -> ${to.simpleString}; supported: " +
              "int -> bigint, float -> double, decimal precision increase " +
              "at the same scale). Narrowing or reshaping needs a rewrite")
          StructType(s.fields.updated(idx, s.fields(idx).copy(dataType = to)))
        case (s, up: TableChange.UpdateColumnComment) =>
          // COMMENT: pure field metadata (DESCRIBE serves it)
          GraftCatalog.updateFieldAt(s, up.fieldNames().toSeq) { f =>
            f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString("comment", up.newComment()).build())
          }
        case (s, up: TableChange.UpdateColumnNullability) =>
          // DROP NOT NULL relaxes freely; SET NOT NULL rides the CHECK
          // machinery (addTableConstraint VALIDATES existing rows before
          // accepting, and every later commit enforces) — flipping the
          // schema flag alone would neither validate nor enforce. The
          // engine constraint is internal (filtered from constraints()).
          val path = up.fieldNames().toSeq
          require(path.length == 1,
            "SET/DROP NOT NULL applies to top-level columns " +
              s"(got ${path.mkString(".")})")
          val n = path.head
          if (!up.nullable()) {
            // idempotent under alterSchema's commit-race retries (the
            // evolve closure re-runs): drop-then-add; a failed ALTER
            // restores the saved constraints below either way
            SnapshotStore.dropTableConstraint(root, s"__notnull_${n.toLowerCase}")
            SnapshotStore.addTableConstraint(spark, root,
              s"__notnull_${n.toLowerCase}", s"$n IS NOT NULL")
          } else {
            SnapshotStore.dropTableConstraint(root,
              s"__notnull_${n.toLowerCase}")
            ()
          }
          GraftCatalog.updateFieldAt(s, path)(
            _.copy(nullable = up.nullable()))
        case (s, up: TableChange.UpdateColumnDefaultValue) =>
          // SET DEFAULT governs FUTURE inserts only (CURRENT_DEFAULT);
          // EXISTS_DEFAULT — what rows written before the column existed
          // read — stays frozen at its ADD COLUMN value, the standard-SQL
          // split. DROP DEFAULT arrives as an empty SQL text. Constant
          // defaults only, same rule as ADD COLUMN DEFAULT.
          val path = up.fieldNames().toSeq
          require(path.length == 1,
            s"DEFAULT binds to top-level columns (got ${path.mkString(".")})")
          val sqlTxt = Option(up.newDefaultValue()).map(_.trim).getOrElse("")
          GraftCatalog.updateFieldAt(s, path) { f =>
            val mdb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            if (sqlTxt.isEmpty) f.copy(metadata =
              mdb.remove("CURRENT_DEFAULT").build())
            else {
              val parsed = spark.sessionState.sqlParser.parseExpression(sqlTxt)
              val constant =
                try { parsed.resolved && parsed.foldable }
                catch { case scala.util.control.NonFatal(_) => false }
              if (!constant) throw new UnsupportedOperationException(
                s"non-constant DEFAULT for ${path.head}: $sqlTxt " +
                  "(literal defaults only)")
              f.copy(metadata =
                mdb.putString("CURRENT_DEFAULT", sqlTxt).build())
            }
          }
        case (s, up: TableChange.UpdateColumnPosition) =>
          GraftCatalog.moveField(s, up.fieldNames().toSeq, up.position())
        case (_, other) => throw new UnsupportedOperationException(
          s"unsupported ALTER: ${other.getClass.getSimpleName} " +
            "(ADD/DROP/RENAME COLUMN, ALTER COLUMN TYPE widening, " +
            "SET/DROP NOT NULL, COMMENT, SET/DROP DEFAULT, FIRST/AFTER)")
      }, renames = renames)
    catch { case scala.util.control.NonFatal(e) =>
      SnapshotStore.restoreConstraintsNamed(root, savedConstraints,
        touchedConstraintNames)
      throw e
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = Paths.get(rootOf(ident))
    if (!isTable(root.toString)) false
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // Spark hands RENAME TO's target with the catalog segment still in the
    // namespace ("graft.meta.t2" → ns=[graft, meta]); strip it
    val newNs = newIdent.namespace match {
      case ns if ns.headOption.contains(catalogName) => ns.drop(1)
      case ns => ns
    }
    val from = Paths.get(rootOf(oldIdent))
    val to = Paths.get(rootOf(Identifier.of(newNs, newIdent.name)))
    if (!isTable(from.toString)) throw new NoSuchTableException(oldIdent)
    if (isTable(to.toString)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // ---- maintenance procedures (SQL: CALL graft.system.<proc>(...)) -------

  /** Table maintenance as CATALOG PROCEDURES — the Iceberg
    * `CALL cat.system.rewrite_data_files(...)` surface, on Spark 4's own
    * ProcedureCatalog API (SPARK-44167). Side-effecting maintenance must
    * be a statement the engine EXECUTES, never a table function the
    * analyzer might evaluate while planning an EXPLAIN: `CALL` is the one
    * SQL form with run-exactly-once semantics. Each returns a one-row
    * summary as a LocalScan.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val procs = Map(
      "optimize" -> GraftCatalog.OptimizeProc,
      "expire_snapshots" -> GraftCatalog.ExpireProc,
      "clean_orphans" -> GraftCatalog.CleanOrphansProc,
      "restore" -> GraftCatalog.RestoreProc,
      "clone" -> GraftCatalog.CloneProc,
      "create_mv" -> GraftCatalog.CreateMvProc,
      "refresh_mv" -> GraftCatalog.RefreshMvProc,
      "refresh_all_mv" -> GraftCatalog.RefreshAllMvProc,
      "create_join_mv" -> GraftCatalog.CreateJoinMvProc,
      "refresh_join_mv" -> GraftCatalog.RefreshJoinMvProc,
      "create_tag" -> GraftCatalog.CreateTagProc,
      "drop_tag" -> GraftCatalog.DropTagProc,
      "copy_into" -> GraftCatalog.CopyIntoProc,
      "set_partition_spec" -> GraftCatalog.SetPartitionSpecProc,
      "create_branch" -> GraftCatalog.CreateBranchProc,
      "publish_branch" -> GraftCatalog.PublishBranchProc,
      "drop_branch" -> GraftCatalog.DropBranchProc)
    procs.get(ident.name.toLowerCase).map(_(this))
      .getOrElse(throw new RuntimeException(
        s"unknown procedure ${ident.name} (have: ${procs.keys.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    Array("optimize", "expire_snapshots", "clean_orphans", "restore", "clone",
        "create_mv", "refresh_mv", "refresh_all_mv", "create_join_mv",
        "refresh_join_mv",
        "create_tag", "drop_tag", "copy_into", "set_partition_spec",
        "create_branch", "publish_branch", "drop_branch")
      .map(Identifier.of(Array("system"), _))

  /** `'ns.t'` (warehouse-relative) or a filesystem root — the same rule as
    * the table_changes TVF and SqlDml name fallback.
    */
  private[sources] def tableRoot(name: String): String = {
    val root =
      if (name.contains("/")) name
      else (warehouse +: name.split('.').toSeq).mkString("/")
    require(isTable(root), s"'$name' ($root) is not a SnapshotStore table")
    root
  }

  // ---- namespaces ---------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val dir = Paths.get(warehouse)
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala.toArray
      .filter(p => Files.isDirectory(p) && !isTable(p.toString))
      .map(p => Array(p.getFileName.toString))
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(
      Paths.get((warehouse +: namespace.toIndexedSeq).mkString("/")))

  private def nsDir(namespace: Array[String]): String =
    (warehouse +: namespace.toIndexedSeq).mkString("/")

  override def loadNamespaceMetadata(namespace: Array[String]):
      util.Map[String, String] =
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    else {
      val m = new util.HashMap[String, String]()
      SnapshotStore.tableProperties(nsDir(namespace))
        .foreach { case (k, v) => m.put(k, v) }
      m
    }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(nsDir(namespace)))
    metadata.forEach { (k, v) =>
      if (k != "owner" || v.nonEmpty) // Spark injects an empty owner
        SnapshotStore.setTableProperty(nsDir(namespace), k, v)
    }
  }

  /** `ALTER NAMESPACE ns SET/UNSET PROPERTIES` — the same opaque-property
    * record tables use, stored in the namespace directory and served
    * back through [[loadNamespaceMetadata]] (`DESCRIBE NAMESPACE
    * EXTENDED`).
    */
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    changes.foreach {
      case set: NamespaceChange.SetProperty =>
        SnapshotStore.setTableProperty(nsDir(namespace), set.property, set.value)
      case rm: NamespaceChange.RemoveProperty =>
        SnapshotStore.removeTableProperty(nsDir(namespace), rm.property)
        ()
      case other => throw new UnsupportedOperationException(
        s"unsupported namespace change: $other")
    }
  }

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = Paths.get((warehouse +: namespace.toIndexedSeq).mkString("/"))
    if (!Files.isDirectory(dir)) false
    else {
      if (!cascade) {
        val s = Files.list(dir)
        val empty = try !s.iterator().hasNext finally s.close()
        require(empty, s"namespace ${namespace.mkString(".")} is not empty")
      }
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
      true
    }
  }
}

object GraftCatalog {
  /** The widening conversions the parquet reader serves losslessly from
    * narrow stored values (verified against Spark 4.1's vectorized
    * reader): the set `ALTER COLUMN TYPE` accepts as metadata-only.
    */
  private[sources] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision > d1.precision
      case _ => false
    }
  }

  /** Rebuild `s` with the struct at `parents` (root when empty) mapped
    * through `f` — the shared walker for nested schema evolution. Every
    * intermediate segment must name an existing STRUCT field.
    */
  private def mapNestedStruct(s: org.apache.spark.sql.types.StructType,
      parents: Seq[String])(
      f: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    parents match {
      case Seq() => f(s)
      case head +: rest =>
        val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(head))
        require(idx >= 0, s"no such column $head")
        s.fields(idx).dataType match {
          case st: StructType => StructType(s.fields.updated(idx,
            s.fields(idx).copy(dataType = mapNestedStruct(st, rest)(f))))
          case other => throw new IllegalArgumentException(
            s"$head is ${other.simpleString}, not a struct — nested " +
              "evolution descends through struct fields only")
        }
    }
  }

  /** `ALTER TABLE t ADD COLUMN a.b.c T` — add a nullable field inside a
    * struct, metadata-only (old rows null-fill at read).
    */
  private[graft] def addNestedField(s: org.apache.spark.sql.types.StructType,
      path: Seq[String], dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, path.init) { leaf =>
      require(!leaf.exists(_.name.equalsIgnoreCase(path.last)),
        s"field ${path.mkString(".")} already exists")
      org.apache.spark.sql.types.StructType(leaf.fields :+
        org.apache.spark.sql.types.StructField(path.last, dt, nullable = true))
    }

  /** Parse a non-identity partition transform into its desugared spec:
    * derived column name, kind, source column, and the bucket count (0
    * for the time kinds). The Iceberg transform vocabulary on the Delta
    * generated-column mechanism.
    */
  private[sources] def transformSpecOf(t: Transform,
      schema: StructType): SnapshotStore.TransformSpec = {
    val kind = t.name.toLowerCase match {
      case "days" | "day" => "day"
      case "months" | "month" => "month"
      case "years" | "year" => "year"
      case "hours" | "hour" => "hour"
      case "bucket" => "bucket"
      case "truncate" => "truncate"
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform $other($t) — supported: " +
          "identity columns, days/months/years/hours(ts), bucket(n, col), " +
          "truncate(n, col)")
    }
    require(t.references.length == 1 && t.references.head.fieldNames.length == 1,
      s"partition transform $t must reference one top-level column")
    val src = t.references.head.fieldNames.head
    val f = schema.fields.find(_.name.equalsIgnoreCase(src)).getOrElse(
      throw new IllegalArgumentException(
        s"partition transform $t references missing column $src"))
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    kind match {
      case "bucket" => ()
      case "truncate" =>
        require(f.dataType == StringType || f.dataType == LongType ||
          f.dataType == IntegerType,
          s"truncate($src) needs a string/integral column, got " +
            f.dataType.simpleString)
      case _ =>
        require(f.dataType == TimestampType || f.dataType == DateType,
          s"$kind($src) needs a timestamp/date column, got ${f.dataType.simpleString}")
    }
    val arg =
      if (kind != "bucket" && kind != "truncate") 0
      else t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value.isInstanceOf[Number] =>
          l.value.asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"$kind transform $t needs a literal width/count"))
    if (kind == "bucket" || kind == "truncate")
      require(arg > 0, s"$kind width/count must be > 0 (got $arg)")
    SnapshotStore.TransformSpec(s"${src.toLowerCase}_${
      if (kind == "truncate") "trunc" else kind}", kind, src, arg,
      tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
  }

  /** Parse one textual partition-spec element (`hours(ts)`,
    * `bucket(16, id)`, `truncate(4, name)`, or a plain column name) —
    * the `set_partition_spec` surface for partition-TRANSFORM evolution.
    * Returns Left(plainCol) or Right((kind, src, arg)).
    */
  private val TransformTextRe =
    """(?i)^\s*(days?|months?|years?|hours?|bucket|truncate)\s*\((.*)\)\s*$""".r

  private[sources] def parseTransformText(
      s: String): Either[String, (String, String, Int)] = s match {
    case TransformTextRe(kindRaw, argsRaw) =>
      val kind = kindRaw.toLowerCase match {
        case "days" | "day" => "day"
        case "months" | "month" => "month"
        case "years" | "year" => "year"
        case "hours" | "hour" => "hour"
        case other => other // bucket / truncate
      }
      val args = argsRaw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      if (kind == "bucket" || kind == "truncate") {
        require(args.length == 2 &&
          scala.util.Try(args.head.toInt).toOption.exists(_ > 0),
          s"$kind transform takes (n, col) with n > 0: got '$s'")
        Right((kind, args(1), args.head.toInt))
      } else {
        require(args.length == 1,
          s"$kind transform takes one source column: got '$s'")
        Right((kind, args.head, 0))
      }
    case plain => Left(plain.trim)
  }

  /** PARTITION-TRANSFORM EVOLUTION (round 17 — the Iceberg
    * `REPLACE PARTITION FIELD days(ts) WITH hours(ts)` shape on the
    * engine's generated-column mechanism): ensure the transform's derived
    * GENERATED column exists on `root` — adding it as one metadata-only
    * ALTER plus the config record's transform-spec entry and a
    * NULL-tolerant `__gen_` CHECK when it doesn't (pre-evolution rows
    * never stored it; they read NULL until the migrating OPTIMIZE
    * backfills the derivation) — and return the derived column name for the
    * [[SnapshotStore.alterPartitionSpec]] era commit. Re-activating a
    * transform the table already carries (its pcol exists with the SAME
    * generation SQL) is a no-op here; a name collision with a different
    * expression refuses loudly.
    */
  private[sources] def evolvePartitionTransform(
      spark: SparkSession, root: String,
      kind: String, src: String, arg: Int): String = {
    val schema = SnapshotStore.readSchema(spark, SnapshotStore.latest(root))
    val f = schema.fields.find(_.name.equalsIgnoreCase(src)).getOrElse(
      throw new IllegalArgumentException(
        s"partition transform $kind($src) references missing column $src"))
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampType}
    kind match {
      case "bucket" => ()
      case "truncate" =>
        require(f.dataType == StringType || f.dataType == LongType ||
          f.dataType == IntegerType,
          s"truncate($src) needs a string/integral column, got " +
            f.dataType.simpleString)
      case _ =>
        require(f.dataType == TimestampType || f.dataType == DateType,
          s"$kind($src) needs a timestamp/date column, got " +
            f.dataType.simpleString)
    }
    val sp = SnapshotStore.TransformSpec(
      s"${src.toLowerCase}_${if (kind == "truncate") "trunc" else kind}",
      kind, src, arg,
      tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    // one zone per table (ADVICE r17): evolving a time transform from a
    // session in a DIFFERENT zone than the existing time specs would pin
    // two zones on one table, after which requireWriterTz is
    // unsatisfiable and every data write refuses permanently. Refuse the
    // evolve instead; zones compare ZoneId-normalized (UTC ≡ Etc/UTC).
    if (kind != "bucket" && kind != "truncate") {
      val existingTz = SnapshotStore.transformSpecs(root)
        .filter(s => s.kind != "bucket" && s.kind != "truncate").map(_.tz)
      existingTz.find(!MatView.sameZone(_, sp.tz)).foreach { other =>
        throw new IllegalArgumentException(
          s"cannot evolve $kind($src) on $root: the table's existing time " +
            s"transform(s) are pinned to session timezone '$other' but " +
            s"this session is '${sp.tz}' — a table's time transforms must " +
            s"share one zone; set spark.sql.session.timeZone = '$other' " +
            "to evolve this table")
      }
    }
    val sql = transformSql(sp, schema)
    schema.fields.find(_.name.equalsIgnoreCase(sp.pcol)) match {
      case Some(existing) =>
        require(existing.metadata.contains(GenerationExprKey) &&
          existing.metadata.getString(GenerationExprKey) == sql,
          s"column ${sp.pcol} already exists and is not generated as $sql " +
            "— a different transform over the same source derives the " +
            "same name (re-bucketing with a new count needs a rename-free " +
            "full rewrite)")
      case None =>
        SnapshotStore.alterSchema(spark, root, s =>
          org.apache.spark.sql.types.StructType(s.fields :+
            org.apache.spark.sql.types.StructField(sp.pcol,
              transformType(sp, schema), nullable = true,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(GenerationExprKey, sql).build())))
        // NULL-tolerant consistency CHECK: pre-evolution rows read NULL
        // (derive-on-write fills every row from here on; the read-side
        // derived filters are null-safe, so NULL rows are never pruned)
        SnapshotStore.addTableConstraint(spark, root, s"__gen_${sp.pcol}",
          s"${sp.pcol} IS NULL OR (${sp.pcol} <=> ($sql))")
    }
    SnapshotStore.editConfig(root)(c =>
      if (c.transforms.exists(_.pcol.equalsIgnoreCase(sp.pcol))) c
      else c.copy(transforms = c.transforms :+ sp))
    sp.pcol
  }

  /** The derived column's generation SQL — also what reads re-evaluate
    * on literals to derive partition filters, so it must be a
    * deterministic, session-clock-free function of the source column.
    */
  private[sources] def transformSql(sp: SnapshotStore.TransformSpec,
      schema: StructType): String =
    sp.kind match {
      case "day" => s"CAST(${sp.src} AS DATE)"
      case "month" => s"trunc(CAST(${sp.src} AS DATE), 'MONTH')"
      case "year" => s"trunc(CAST(${sp.src} AS DATE), 'YEAR')"
      case "hour" => s"date_trunc('HOUR', ${sp.src})"
      case "bucket" => s"CAST(pmod(xxhash64(${sp.src}), ${sp.arg}) AS INT)"
      case "truncate" =>
        if (srcType(sp, schema) == org.apache.spark.sql.types.StringType)
          s"substring(${sp.src}, 1, ${sp.arg})"
        else s"${sp.src} - pmod(${sp.src}, ${sp.arg})"
      case other => sys.error(s"unknown transform kind $other")
    }

  private def srcType(sp: SnapshotStore.TransformSpec,
      schema: StructType): org.apache.spark.sql.types.DataType =
    schema.fields.find(_.name.equalsIgnoreCase(sp.src)).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(
        s"transform source column ${sp.src} missing"))

  private[sources] def transformType(sp: SnapshotStore.TransformSpec,
      schema: StructType): org.apache.spark.sql.types.DataType = sp.kind match {
    case "hour" => org.apache.spark.sql.types.TimestampType
    case "bucket" => org.apache.spark.sql.types.IntegerType
    case "truncate" => srcType(sp, schema)
    case _ => org.apache.spark.sql.types.DateType
  }

  /** Stored SQL expression texts that could dangle on a rename/drop:
    * CHECK constraints named outside `ownConstraints` plus generated
    * expressions and column defaults of every column except `exceptCol`
    * (a column's OWN checks cascade away with it).
    */
  private[sources] def exprTextsOf(root: String, s: StructType,
      exceptCol: String,
      ownConstraints: Set[String] = Set.empty): Seq[String] =
    SnapshotStore.tableConstraints(root)
      .filterNot(c => ownConstraints(c._1.toLowerCase)).map(_._2) ++
      s.fields.filterNot(_.name.equalsIgnoreCase(exceptCol)).flatMap { f =>
        Seq(GenerationExprKey, "CURRENT_DEFAULT", "EXISTS_DEFAULT")
          .filter(f.metadata.contains).map(f.metadata.getString)
      }

  /** Rebuild `s` with the (possibly nested) field at `path` mapped
    * through `f` — the leaf-level twin of [[mapNestedStruct]].
    */
  private[graft] def updateFieldAt(s: org.apache.spark.sql.types.StructType,
      path: Seq[String])(
      f: org.apache.spark.sql.types.StructField =>
        org.apache.spark.sql.types.StructField):
      org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, path.init) { leaf =>
      val idx = leaf.fields.indexWhere(_.name.equalsIgnoreCase(path.last))
      require(idx >= 0, s"no such column ${path.mkString(".")}")
      org.apache.spark.sql.types.StructType(
        leaf.fields.updated(idx, f(leaf.fields(idx))))
    }

  /** `ALTER TABLE t ALTER COLUMN c FIRST / AFTER other` — a pure metadata
    * reorder at the field's own struct level (parquet binds by NAME, so
    * files never care about declared order; only the served schema moves).
    */
  private[graft] def moveField(s: org.apache.spark.sql.types.StructType,
      path: Seq[String],
      pos: org.apache.spark.sql.connector.catalog.TableChange.ColumnPosition):
      org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, path.init) { leaf =>
      val idx = leaf.fields.indexWhere(_.name.equalsIgnoreCase(path.last))
      require(idx >= 0, s"no such column ${path.mkString(".")}")
      val fld = leaf.fields(idx)
      val rest = leaf.fields.patch(idx, Nil, 1)
      import org.apache.spark.sql.connector.catalog.TableChange
      pos match {
        case _: TableChange.First =>
          org.apache.spark.sql.types.StructType(fld +: rest)
        case a: TableChange.After =>
          val ai = rest.indexWhere(_.name.equalsIgnoreCase(a.column))
          require(ai >= 0,
            s"no such column ${a.column} to position after")
          org.apache.spark.sql.types.StructType(
            (rest.take(ai + 1) :+ fld) ++ rest.drop(ai + 1))
        case other => throw new UnsupportedOperationException(
          s"unsupported column position $other")
      }
    }

  /** `ALTER TABLE t RENAME COLUMN a.b.c TO d` — rename a field inside a
    * struct at any depth, metadata-only (the rename-chain sidecar
    * resolves old physical names at read).
    */
  private[graft] def renameNestedField(
      s: org.apache.spark.sql.types.StructType, parents: Seq[String],
      oldName: String, newName: String):
      org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, parents) { leaf =>
      val idx = leaf.fields.indexWhere(_.name.equalsIgnoreCase(oldName))
      require(idx >= 0, s"no such field ${(parents :+ oldName).mkString(".")}")
      org.apache.spark.sql.types.StructType(
        leaf.fields.updated(idx, leaf.fields(idx).copy(name = newName)))
    }

  /** `ALTER TABLE t ALTER COLUMN a.b.c TYPE T` — widen a field inside a
    * struct, metadata-only (narrow stored leaves upcast at read). The
    * same [[widens]] matrix as top-level; narrowing/reshaping refuses.
    */
  private[graft] def widenNestedField(s: org.apache.spark.sql.types.StructType,
      path: Seq[String], to: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, path.init) { leaf =>
      val idx = leaf.fields.indexWhere(_.name.equalsIgnoreCase(path.last))
      require(idx >= 0, s"no such field ${path.mkString(".")}")
      val from = leaf.fields(idx).dataType
      require(widens(from, to),
        s"only widening type changes are metadata-only " +
          s"(got ${from.simpleString} -> ${to.simpleString} at " +
          s"${path.mkString(".")}; supported: int -> bigint, float -> " +
          "double, decimal precision increase at the same scale). " +
          "Narrowing or reshaping needs a rewrite")
      org.apache.spark.sql.types.StructType(
        leaf.fields.updated(idx, leaf.fields(idx).copy(dataType = to)))
    }

  /** `ALTER TABLE t DROP COLUMN a.b.c` — drop a field inside a struct,
    * metadata-only (files still carrying it project it away at read).
    */
  private[graft] def dropNestedField(s: org.apache.spark.sql.types.StructType,
      path: Seq[String]): org.apache.spark.sql.types.StructType =
    mapNestedStruct(s, path.init) { leaf =>
      require(leaf.exists(_.name.equalsIgnoreCase(path.last)),
        s"no such field ${path.mkString(".")}")
      require(leaf.length > 1,
        s"cannot drop the last field of struct ${path.init.mkString(".")} — " +
          "drop the struct column itself")
      org.apache.spark.sql.types.StructType(
        leaf.filterNot(_.name.equalsIgnoreCase(path.last)))
    }

  /** Table property carrying the CDC key list (the same place Delta puts
    * `enableChangeDataFeed`): `TBLPROPERTIES ('cdc.keys' = 'id')`.
    */
  val CdcKeysProp = "cdc.keys"

  /** Engine-managed property keys `ALTER TABLE SET/UNSET TBLPROPERTIES`
    * refuses to touch (`dml.mode` has its own SET/UNSET route above;
    * `cdc.keys` binds the feed's identity at create; `version` is the
    * snapshot pointer itself).
    */
  val ReservedProps: Set[String] = Set(CdcKeysProp, "version")

  /** Table property selecting the DML strategy (the same place Delta puts
    * `enableDeletionVectors`): `TBLPROPERTIES ('dml.mode' =
    * 'merge-on-read')`. Default is copy-on-write.
    */
  val DmlModeProp = "dml.mode"

  /** The OPAQUE user keys of a CREATE TABLE property map: everything
    * except engine-interpreted keys (`cdc.keys`, `dml.mode`, `version` —
    * consumed or refused by their own routes) and Spark's own
    * reserved/internal table properties (`provider`, `location`, ... and
    * the `option.` read-option prefix), which Spark injects into every
    * CREATE and which are catalog plumbing, not user metadata.
    */
  private val SparkInternalProps: Set[String] = Set(
    "provider", "location", "comment", "owner", "external", "path",
    "is_managed_location", "format")

  private[graft] def userPropertiesOf(
      props: java.util.Map[String, String]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    props.asScala.toSeq.filter { case (k, _) =>
      val kl = k.toLowerCase
      kl != DmlModeProp && !ReservedProps(kl) && !SparkInternalProps(kl) &&
        !kl.startsWith("option.")
    }.sortBy(_._1)
  }

  /** Field-metadata key carrying a STORED generated column's expression
    * (our own key, not Spark's GENERATION_EXPRESSION, so Spark's analyzer
    * machinery never half-handles what the engine computes itself).
    */
  val GenerationExprKey = "graft.generationExpression"

  import org.apache.spark.sql.types.{LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  /** One-row result helper: a bound procedure whose call() runs `body` and
    * returns its row under `schema` as a LocalScan.
    */
  private abstract class Proc(procName: String, params: Seq[ProcedureParameter],
      out: StructType) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false // side-effecting
    protected def run(input: InternalRow): InternalRow
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = run(input)
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = out
      }).iterator()
    }
  }

  private def p(n: String, t: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(n, t).build()

  /** `CALL graft.system.optimize('ns.t', target_rows [, 'cluster_cols'
    * [, 'stats_cols']])` — SnapshotStore.optimize as a statement: bin-pack
    * (and optionally range-cluster or, via `zorder_by => 'a,b'`,
    * Morton-curve-cluster) the current snapshot in one optimistic
    * transaction, refreshing a min/max manifest for `stats_cols`. Returns
    * (version, files) of the committed layout.
    */
  private[sources] val OptimizeProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("optimize",
      Seq(p("table", StringType), p("target_rows", LongType),
        ProcedureParameter.in("cluster_by", StringType).defaultValue("''").build(),
        ProcedureParameter.in("stats_cols", StringType).defaultValue("''").build(),
        ProcedureParameter.in("where", StringType).defaultValue("''").build(),
        ProcedureParameter.in("bloom_cols", StringType).defaultValue("''").build(),
        ProcedureParameter.in("zorder_by", StringType).defaultValue("''").build(),
        ProcedureParameter.in("small_file_rows", LongType)
          .defaultValue("-1L").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version", LongType),
        org.apache.spark.sql.types.StructField("files", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        def cols(i: Int): Seq[String] = Option(in.getString(i)).map(_.trim)
          .filter(_.nonEmpty).map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil)
        val where = Option(in.getString(4)).map(_.trim).filter(_.nonEmpty)
        val smallOnly = in.getLong(7)
        val snap = if (smallOnly > 0) {
          // incremental mode: rewrite only under-sized files (O(small
          // files), not O(table)); layout keys need a full rewrite and
          // are refused together with it
          require(cols(2).isEmpty && cols(3).isEmpty && where.isEmpty &&
            cols(5).isEmpty && cols(6).isEmpty,
            "small_file_rows composes only with table/target_rows: " +
              "cluster/stats/bloom/zorder/where need a full OPTIMIZE " +
              "(the existing manifest surface is carried forward as-is)")
          SnapshotStore.optimizeSmallFiles(SparkSession.active, root,
            targetRows = in.getLong(1), smallFileRows = smallOnly)
        } else SnapshotStore.optimize(SparkSession.active, root,
          targetRows = in.getLong(1), clusterBy = cols(2), statsCols = cols(3),
          partitionPredicate = where, bloomCols = cols(5), zorderBy = cols(6))
        // recursive DATA-file count (hive layouts nest under col=value
        // dirs; a top-level listing would report 0 for them)
        val files = SnapshotStore.dataFileMeta(snap.dataDir).size
        InternalRow(snap.version, files.toLong)
      }
    }

  /** `CALL graft.system.expire_snapshots('ns.t', keep_last)` — VACUUM:
    * drop all but the newest versions and their data dirs. Returns the
    * count and range of expired versions.
    */
  private[sources] val ExpireProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("expire_snapshots",
      Seq(p("table", StringType), p("keep_last", LongType),
        ProcedureParameter.in("older_than_ms", LongType)
          .defaultValue(Long.MaxValue.toString + "L").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("n_expired", LongType),
        org.apache.spark.sql.types.StructField("latest_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val expired = SnapshotStore.expireSnapshots(root, in.getLong(1).toInt,
          in.getLong(2))
        InternalRow(expired.length.toLong, SnapshotStore.latest(root).version)
      }
    }

  /** `CALL graft.system.restore('ns.t', version)` — roll the table back
    * to an earlier version as a new metadata-only commit (hard-linked
    * files, schema rolls back too, CDC diff emitted on feed tables). See
    * [[SnapshotStore.restore]]. Returns (restored_to, new_version).
    */
  private[sources] val RestoreProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("restore",
      Seq(p("table", StringType),
        ProcedureParameter.in("version", LongType).defaultValue("-1L").build(),
        ProcedureParameter.in("tag", StringType).defaultValue("''").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("restored_to", LongType),
        org.apache.spark.sql.types.StructField("new_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val tag = Option(in.getString(2)).map(_.trim).filter(_.nonEmpty)
        // tag-addressed rollback: `restore('t', tag => 'blessed')` — the
        // blessing pins retention, so the rollback TARGET can never have
        // been vacuumed, which makes named restore points actually safe
        val v = tag.map(SnapshotStore.resolveRef(root, _)).getOrElse {
          require(in.getLong(1) >= 0L,
            "restore needs a version or a tag")
          in.getLong(1)
        }
        val snap = SnapshotStore.restore(SparkSession.active, root, v)
        InternalRow(v, snap.version)
      }
    }

  /** `CALL graft.system.create_tag('ns.t', 'name' [, version])` — pin a
    * committed version under an immutable human name: addressable as
    * `VERSION AS OF 'name'` and exempt from expire_snapshots until
    * dropped. Default version = the latest commit. See
    * [[SnapshotStore.createTag]].
    */
  private[sources] val CreateTagProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("create_tag",
      Seq(p("table", StringType), p("name", StringType),
        ProcedureParameter.in("version", LongType)
          .defaultValue("-1L").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val name = in.getString(1)
        val v = SnapshotStore.createTag(root, name,
          Some(in.getLong(2)).filter(_ >= 0))
        InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name), v)
      }
    }

  /** `CALL graft.system.drop_tag('ns.t', 'name')` — release the pin; the
    * version becomes expirable again. Loud on a missing tag.
    */
  private[sources] val DropTagProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("drop_tag",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("was_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val name = in.getString(1)
        InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name),
          SnapshotStore.dropTag(root, name))
      }
    }

  /** `CALL graft.system.create_branch('ns.t', 'name')` — fork the
    * table's current snapshot into a zero-copy WRITE-AUDIT-PUBLISH
    * branch. Stage DML against the branch root, audit it, then
    * `publish_branch` squashes it back as one commit (refused if the
    * source advanced — re-fork). See [[SnapshotStore.createBranch]].
    */
  private[sources] val CreateBranchProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("create_branch",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("fork_base", LongType),
        org.apache.spark.sql.types.StructField("branch_root",
          org.apache.spark.sql.types.StringType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val name = in.getString(1)
        SnapshotStore.createBranch(SparkSession.active, root, name)
        val base = java.nio.file.Files.readString(
          java.nio.file.Paths.get(SnapshotStore.branchRoot(root, name),
            "_base")).trim.toLong
        InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(name), base,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            SnapshotStore.branchRoot(root, name)))
      }
    }

  /** `CALL graft.system.publish_branch('ns.t', 'name')` — squash the
    * branch head onto the source as one commit; refused when the source
    * advanced past the fork base. See [[SnapshotStore.publishBranch]].
    */
  private[sources] val PublishBranchProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("publish_branch",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("published_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val snap = SnapshotStore.publishBranch(SparkSession.active, root,
          in.getString(1))
        InternalRow(snap.version)
      }
    }

  /** `CALL graft.system.drop_branch('ns.t', 'name')` — discard the fork
    * (hard links — the source's bytes are untouched).
    */
  private[sources] val DropBranchProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("drop_branch",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        val name = in.getString(1)
        SnapshotStore.dropBranch(root, name)
        InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(name))
      }
    }

  /** `CALL graft.system.clone('ns.src', 'ns.dst')` — shallow-clone the
    * source's current snapshot into a NEW independent table (hard-linked
    * v0, config record carried). See [[SnapshotStore.shallowClone]].
    */
  private[sources] val CloneProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("clone",
      Seq(p("source", StringType), p("target", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("source_version", LongType),
        org.apache.spark.sql.types.StructField("rows", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val srcRoot = cat.tableRoot(in.getString(0))
        val srcVersion = SnapshotStore.latest(srcRoot).version
        val dst = in.getString(1)
        val dstRoot =
          if (dst.contains("/")) dst
          else (cat.warehousePath +: dst.split('.').toSeq).mkString("/")
        val snap = SnapshotStore.shallowClone(spark, srcRoot, dstRoot)
        InternalRow(srcVersion, SnapshotStore.read(spark, snap).count())
      }
    }

  /** `CALL graft.system.create_mv('src', 'mv', 'g1,g2', 'value')` —
    * initialize a CDC-maintained count/sum materialized view (one full
    * aggregate; every later refresh is O(change volume)). The mv target
    * becomes a new warehouse table. See [[MatView]].
    */
  private[sources] val CreateMvProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("create_mv",
      Seq(p("source", StringType), p("target", StringType),
        p("group_cols", StringType), p("value_col", StringType),
        ProcedureParameter.in("aggs", StringType)
          .defaultValue("'count,sum'").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("source_version", LongType),
        org.apache.spark.sql.types.StructField("groups", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val srcRoot = cat.tableRoot(in.getString(0))
        val dst = in.getString(1)
        val dstRoot =
          if (dst.contains("/")) dst
          else (cat.warehousePath +: dst.split('.').toSeq).mkString("/")
        val groups = in.getString(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val snap = MatView.create(spark, srcRoot, dstRoot, groups, in.getString(3),
          in.getString(4).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        InternalRow(SnapshotStore.lastTxnVersion(dstRoot,
          MatView.appIdFor(srcRoot)).getOrElse(-1L),
          spark.read.parquet(snap.dataDir).count())
      }
    }

  /** `CALL graft.system.refresh_mv('src', 'mv', 'g1,g2', 'value')` — fold
    * the source's new change rows into the view; a no-op if current.
    */
  private[sources] val RefreshMvProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("refresh_mv",
      Seq(p("source", StringType), p("target", StringType),
        p("group_cols", StringType), p("value_col", StringType),
        ProcedureParameter.in("aggs", StringType)
          .defaultValue("'count,sum'").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("applied_through", LongType),
        org.apache.spark.sql.types.StructField("mv_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val srcRoot = cat.tableRoot(in.getString(0))
        val mvRoot = cat.tableRoot(in.getString(1))
        val groups = in.getString(2).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val snap = MatView.refresh(spark, srcRoot, mvRoot, groups, in.getString(3),
          in.getString(4).split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        InternalRow(SnapshotStore.lastTxnVersion(mvRoot,
          MatView.appIdFor(srcRoot)).getOrElse(-1L), snap.version)
      }
    }

  /** `CALL graft.system.refresh_all_mv('view')` — refresh the view AND
    * every materialized view upstream of it in topological order, from
    * the dependency DAG each view records at create time (`_mv_def`):
    * the one-call maintenance entry point for chains like source → join
    * view → summary view. See [[MatView.refreshAll]].
    */
  private[sources] val RefreshAllMvProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("refresh_all_mv",
      Seq(p("target", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("mv_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        InternalRow(MatView.refreshAll(spark, cat.tableRoot(in.getString(0)))
          .version)
      }
    }

  /** `CALL graft.system.create_join_mv('l', 'r', 'mv', 'k1,k2'
    * [, join_type => 'left_outer'] [, emit_changes => true])` —
    * initialize an incrementally-maintained equi-JOIN view of two CDC
    * tables (one full join; every refresh after is O(touched keys)).
    * `join_type` defaults to inner; `emit_changes` gives the view its own
    * change feed so an aggregate MV can stack on top (the fact ⋈ dim →
    * GROUP BY summary table). See [[MatView.createJoin]].
    */
  private[sources] val CreateJoinMvProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("create_join_mv",
      Seq(p("left", StringType), p("right", StringType),
        p("target", StringType), p("join_keys", StringType),
        ProcedureParameter.in("join_type", StringType)
          .defaultValue("'inner'").build(),
        ProcedureParameter.in("emit_changes",
            org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("left_version", LongType),
        org.apache.spark.sql.types.StructField("right_version", LongType),
        org.apache.spark.sql.types.StructField("rows", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val lRoot = cat.tableRoot(in.getString(0))
        val rRoot = cat.tableRoot(in.getString(1))
        val dst = in.getString(2)
        val dstRoot =
          if (dst.contains("/")) dst
          else (cat.warehousePath +: dst.split('.').toSeq).mkString("/")
        val keys = in.getString(3).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val snap = MatView.createJoin(spark, lRoot, rRoot, dstRoot, keys,
          joinType = in.getString(4), emitChanges = in.getBoolean(5))
        // report the versions the view's OWN stamps pin — re-reading
        // latest(srcRoot) here could name a version a racing commit just
        // landed, which the MV's stamps do not actually cover
        InternalRow(
          SnapshotStore.lastTxnVersion(dstRoot,
            MatView.joinAppId("left", lRoot)).getOrElse(-1L),
          SnapshotStore.lastTxnVersion(dstRoot,
            MatView.joinAppId("right", rRoot)).getOrElse(-1L),
          spark.read.parquet(snap.dataDir).count())
      }
    }

  /** `CALL graft.system.set_partition_spec('ns.t', 'day,region')` —
    * partition-spec EVOLUTION (the Iceberg contract): a metadata-only
    * commit; history keeps its layout, new appends use the new spec,
    * reads plan per spec, a full OPTIMIZE migrates. Empty cols =
    * de-partition. See [[SnapshotStore.alterPartitionSpec]].
    */
  private[sources] val SetPartitionSpecProc: GraftCatalog => UnboundProcedure =
    cat => new Proc("set_partition_spec",
      Seq(p("table", StringType), p("cols", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("version", LongType),
        org.apache.spark.sql.types.StructField("spec_count", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val root = cat.tableRoot(in.getString(0))
        // split on TOP-LEVEL commas only: `bucket(16, id), days(ts)` has
        // commas inside the transform parens
        def splitTop(s: String): Seq[String] = {
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          val cur = new StringBuilder
          var depth = 0
          s.foreach {
            case '(' => depth += 1; cur += '('
            case ')' => depth -= 1; cur += ')'
            case ',' if depth == 0 => out += cur.toString; cur.clear()
            case c => cur += c
          }
          out += cur.toString
          out.toSeq.map(_.trim).filter(_.nonEmpty)
        }
        val cols = Option(in.getString(1)).map(_.trim).filter(_.nonEmpty)
          .map(splitTop).getOrElse(Nil)
          .map(el => GraftCatalog.parseTransformText(el) match {
            // a TRANSFORM element evolves the derived generated column
            // in (metadata-only) before the era commit below —
            // REPLACE PARTITION FIELD days(ts) → hours(ts) is
            // `set_partition_spec('t', 'hours(ts)')`
            case Right((kind, src, arg)) =>
              GraftCatalog.evolvePartitionTransform(spark, root, kind, src, arg)
            case Left(plain) => plain
          })
        val snap = SnapshotStore.alterPartitionSpec(spark, root, cols)
        InternalRow(snap.version,
          SnapshotStore.readSpecs(snap.dataDir).size.toLong)
      }
    }

  /** `CALL graft.system.copy_into('ns.t', '/drop/zone' [, format
    * [, pattern]])` — idempotent drop-zone file ingest; see [[CopyInto]].
    * Returns (files_loaded, rows_loaded, files_skipped, version).
    */
  private[sources] val CopyIntoProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("copy_into",
      Seq(p("table", StringType), p("source", StringType),
        ProcedureParameter.in("format", StringType)
          .defaultValue("'parquet'").build(),
        ProcedureParameter.in("pattern", StringType).defaultValue("''").build(),
        ProcedureParameter.in("evolve_schema",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build(),
        ProcedureParameter.in("force",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build(),
        ProcedureParameter.in("dry_run",
          org.apache.spark.sql.types.BooleanType)
          .defaultValue("false").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("files_loaded", LongType),
        org.apache.spark.sql.types.StructField("rows_loaded", LongType),
        org.apache.spark.sql.types.StructField("files_skipped", LongType),
        org.apache.spark.sql.types.StructField("version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val root = cat.tableRoot(in.getString(0))
        val r = CopyInto.run(spark, root, in.getString(1),
          format = Option(in.getString(2)).map(_.trim)
            .filter(_.nonEmpty).getOrElse("parquet"),
          pattern = Option(in.getString(3)).map(_.trim).filter(_.nonEmpty),
          evolveSchema = !in.isNullAt(4) && in.getBoolean(4),
          force = !in.isNullAt(5) && in.getBoolean(5),
          dryRun = !in.isNullAt(6) && in.getBoolean(6))
        InternalRow(r.filesLoaded, r.rowsLoaded, r.filesSkipped, r.version)
      }
    }

  /** `CALL graft.system.refresh_join_mv('l', 'r', 'mv', 'k1,k2')` —
    * partial-recompute refresh of a join view; a no-op if current.
    */
  private[sources] val RefreshJoinMvProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("refresh_join_mv",
      Seq(p("left", StringType), p("right", StringType),
        p("target", StringType), p("join_keys", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("left_applied", LongType),
        org.apache.spark.sql.types.StructField("right_applied", LongType),
        org.apache.spark.sql.types.StructField("mv_version", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val spark = SparkSession.active
        val lRoot = cat.tableRoot(in.getString(0))
        val rRoot = cat.tableRoot(in.getString(1))
        val mvRoot = cat.tableRoot(in.getString(2))
        val keys = in.getString(3).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        val snap = MatView.refreshJoin(spark, lRoot, rRoot, mvRoot, keys)
        InternalRow(
          SnapshotStore.lastTxnVersion(mvRoot,
            MatView.joinAppId("left", lRoot)).getOrElse(-1L),
          SnapshotStore.lastTxnVersion(mvRoot,
            MatView.joinAppId("right", rRoot)).getOrElse(-1L),
          snap.version)
      }
    }

  /** `CALL graft.system.clean_orphans('ns.t' [, min_age_ms])` — GC for
    * staging dirs whose writer lost the commit race or crashed.
    */
  private[sources] val CleanOrphansProc: GraftCatalog => UnboundProcedure = cat =>
    new Proc("clean_orphans",
      Seq(p("table", StringType),
        ProcedureParameter.in("min_age_ms", LongType)
          .defaultValue("3600000").build()),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("n_deleted", LongType)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val root = cat.tableRoot(in.getString(0))
        InternalRow(SnapshotStore.cleanOrphans(root, in.getLong(1)).length.toLong)
      }
    }
}

/** One resolved (table, snapshot) pair. Reads delegate to Spark's own
  * vectorized [[ParquetTable]] over the snapshot's immutable dir with the
  * snapshot's (possibly ALTER-evolved) schema pinned; writes go through
  * the V1 fallback ([[InsertableRelation]] — the driver receives the
  * query's DataFrame and routes it through [[SnapshotStore.append]]'s
  * optimistic transaction, CDC guards included). `pinned` (time-traveled)
  * tables refuse writes: history is immutable.
  */
/** A read-only metadata table (`t$history` / `t$files`): rows computed
  * driver-side at scan-build time from the commit log / one snapshot's
  * file listing — log-scale by construction. `compute` re-runs per query,
  * so a metadata query always sees the log as of ITS OWN planning, not of
  * catalog resolution.
  */
private[sources] class GraftMetaTable(tableName: String,
    metaSchema: StructType, compute: () => Array[InternalRow])
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = metaSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] = compute()
        override def readSchema(): StructType = metaSchema
      }
    }
}

private[sources] class GraftTable(spark: SparkSession, tableName: String,
    root: String, snap: SnapshotStore.Snapshot, pinned: Boolean)
    // (accessors for the DML planner strategy)

    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  private[sources] def storeRoot: String = root
  private[sources] def isPinned: Boolean = pinned
  private[sources] def snapDataDir: String = snap.dataDir
  /** True when this snapshot carries a deletion-vector sidecar — the
    * signal for [[DvReadRewrite]] to route SQL reads through the
    * DV-applying store read instead of the raw parquet scan.
    */
  private[sources] def hasDeletionVector: Boolean =
    SnapshotStore.hasDv(snap.dataDir)

  /** True when this snapshot carries a RENAME COLUMN name-mapping — the
    * raw parquet scan would null-fill the renamed column (files still
    * carry the physical pre-rename name), so [[DvReadRewrite]] routes
    * reads through the store's coalesce-chain read, same as DV.
    */
  private[sources] def hasRenames: Boolean =
    SnapshotStore.readRenames(snap.dataDir).nonEmpty

  /** True when this snapshot SPANS partition specs (evolution pending
    * migration) — the raw parquet scan of the dir would miss every row
    * under the `_spec<i>` subtrees, so [[DvReadRewrite]] routes reads
    * through the store's per-spec union read.
    */
  private[sources] def hasEvolvedSpecs: Boolean =
    SnapshotStore.isEvolved(snap.dataDir)

  /** `TRUNCATE TABLE` — a COMMIT (empty snapshot), never a deletion:
    * history still serves every pre-truncate version, schema/partitioning/
    * constraints/CDC config stay, and on CDC tables the feed records the
    * truncation as deletes of every live row (a silent empty commit would
    * desync replicas).
    */
  override def truncateTable(): Boolean = {
    require(!pinned, s"cannot truncate $tableName pinned at version " +
      s"${snap.version} (time travel is read-only)")
    SnapshotStore.rewriteRows(spark, root)(None)(base => (base.limit(0),
      Some(base.withColumn(SnapshotStore.ChangeTypeCol,
        org.apache.spark.sql.functions.lit("delete")))))
    true
  }

  private lazy val tableSchema: StructType = SnapshotStore.readSchema(spark, snap)

  override def name(): String = tableName
  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    // user properties first: engine-managed keys below always win
    SnapshotStore.tableProperties(root).foreach { case (k, v) => m.put(k, v) }
    m.put("version", snap.version.toString)
    val keys = SnapshotStore.cdcKeys(root)
    if (keys.nonEmpty) m.put(GraftCatalog.CdcKeysProp, keys.mkString(","))
    val mode = SnapshotStore.dmlMode(root)
    if (mode != SnapshotStore.CopyOnWrite)
      m.put(GraftCatalog.DmlModeProp, mode)
    m
  }

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // desugared transform columns report their ORIGINAL transform
    // (`days(ts)`, not the internal derived column) — what DESCRIBE and
    // catalog introspection should show
    val bySpec = tableTransformSpecs
      .map(sp => sp.pcol.toLowerCase -> sp).toMap
    SnapshotStore.partitionCols(root).map { c =>
      bySpec.get(c.toLowerCase) match {
        case Some(sp) => sp.kind match {
          case "day" => Expressions.days(sp.src)
          case "month" => Expressions.months(sp.src)
          case "year" => Expressions.years(sp.src)
          case "hour" => Expressions.hours(sp.src)
          case "bucket" => Expressions.bucket(sp.arg, sp.src)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(sp.arg), Expressions.column(sp.src))
          case _ => Expressions.identity(c)
        }
        case None => Expressions.identity(c): Transform
      }
    }.toArray
  }

  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    SnapshotStore.tableConstraints(root)
      // generated-column consistency checks (__gen_*) and SET NOT NULL's
      // backing checks (__notnull_*) are ENGINE-internal: Spark
      // pre-enforces declared constraints on the RAW insert rows, before
      // the engine has computed the generated column — the engine itself
      // enforces them at commit, after derivation (NOT NULL already shows
      // in the schema's nullability)
      .filterNot(c => c._1.startsWith("__gen_") || c._1.startsWith("__notnull_"))
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(sql).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  // the transform specs change only by DDL — read once per
  // loaded table, not per planned scan
  private lazy val tableTransformSpecs: Seq[SnapshotStore.TransformSpec] =
    SnapshotStore.transformSpecs(root)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // parquet footers answer aggregates only for a plain snapshot: they
    // count deletion-vector-deleted rows, and the top-level files alone
    // miss the rows under a spec-spanning snapshot's `_spec<i>/` eras
    val footerAggregates = !hasDeletionVector && !hasEvolvedSpecs
    if (Files.isDirectory(Paths.get(snap.dataDir, "_manifest")) ||
        !footerAggregates || tableTransformSpecs.nonEmpty)
      // stats-maintained snapshot (manifest file skipping at planning
      // time) — or one whose builder must refuse footer-based aggregate
      // pushdown — or a transform-partitioned one, whose builder derives
      // partition filters from source-column predicates (hidden
      // partitioning)
      new org.apache.spark.sql.GraftPrunedScanBuilder(
        spark, tableName, snap.dataDir, tableSchema, options,
        footerAggregates, tableTransformSpecs)
    else ParquetTable(tableName, spark, options, Seq(snap.dataDir),
      Some(tableSchema), classOf[ParquetFileFormat])
      .newScanBuilder(options)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      s"cannot write to $tableName pinned at version ${snap.version} " +
        "(time travel is read-only)")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, fallbackOverwrite: Boolean): Unit = {
              // identity routing + DEFAULT fill live inside append itself,
              // so every writer (this path, SqlDml, streaming sinks) gets
              // the same semantics
              SnapshotStore.append(spark, root, data,
                overwrite = overwrite || fallbackOverwrite)
              ()
            }
          }
      }
    }
  }
}

/** Planner strategy making plain `spark.sql("UPDATE / DELETE / MERGE …")`
  * work against catalog tables — the missing half of the DML surface
  * (writes went through `SqlDml.execute`; now the bare statement works
  * too). Spark analyzes these Catalyst commands fine but its own planner
  * refuses tables without the DSv2 row-level-operation API;
  * `experimental.extraStrategies` run FIRST, so this intercepts the
  * analyzed command when (and only when) the target resolves to a
  * [[GraftTable]] and routes it through the same [[SqlDml]] compilation —
  * optimistic transactions, statement-integrated CDC, partitioned
  * copy-on-write and all. Non-graft tables fall through untouched.
  */
object GraftDmlStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def isGraft(plan: LogicalPlan): Boolean = plan.exists {
    case d: DataSourceV2Relation => d.table.isInstanceOf[GraftTable]
    // after optimization the relation is rewritten to a scan relation
    case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      sr.relation.table.isInstanceOf[GraftTable]
    case _ => false
  }

  override def apply(plan: LogicalPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
    plan match {
      case u: UpdateTable if isGraft(u.table) =>
        GraftDmlExec(() => SqlDml.executePlan(SparkSession.active, u)) :: Nil
      case d: DeleteFromTable if isGraft(d.table) =>
        GraftDmlExec(() => SqlDml.executePlan(SparkSession.active, d)) :: Nil
      case m: MergeIntoTable if isGraft(m.targetTable) =>
        GraftDmlExec(() => SqlDml.executePlan(SparkSession.active, m)) :: Nil
      case _ => Nil
    }
}

/** Leaf node executing one DML transaction. Catalyst DML nodes are
  * `Command`s, so `spark.sql` runs this eagerly; the transaction fires
  * exactly once however the node is driven (lazy val).
  */
private[sources] case class GraftDmlExec(run: () => Unit)
    extends org.apache.spark.sql.execution.LeafExecNode {
  private lazy val ran: Unit = run()
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    ran; Array.empty
  }
  override protected def doExecute()
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    ran; sparkContext.emptyRDD
  }
}
