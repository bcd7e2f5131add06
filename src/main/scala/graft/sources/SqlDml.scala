package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** SQL DML statements (`UPDATE` / `DELETE FROM` / `MERGE INTO`) compiled
  * onto [[SnapshotStore]] transactions — the statement surface of the
  * reference's write core (`Server/main.go:279-282` is literally
  * `UPDATE employee SET salary = ? WHERE id = ?`; `Server/main.go:112-120`
  * is insert-on-miss, i.e. MERGE's WHEN NOT MATCHED arm).
  *
  * Spark-first shape: the statement is parsed by SPARK'S OWN parser
  * (`sessionState.sqlParser.parsePlan` → the Catalyst `UpdateTable` /
  * `DeleteFromTable` / `MergeIntoTable` logical nodes — the same grammar
  * every lakehouse runtime compiles), then compiled to a declarative
  * DataFrame transform executed inside `SnapshotStore.transact`, so every
  * statement inherits the store's optimistic-concurrency contract: stage →
  * CAS commit → rebase-and-retry on conflict. No hand-rolled SQL grammar,
  * no row-at-a-time mutation.
  *
  * Execution shape at scale:
  *   - UPDATE/DELETE: one distributed scan+rewrite of the snapshot (a
  *     single `select` with per-column conditionals / one `filter`) — all
  *     codegen'd, no shuffle beyond the write.
  *   - MERGE: ONE full-outer hash join target⋈source on the merge
  *     condition, then per-row action resolution as nested CASE columns —
  *     the same single-join plan Delta/Iceberg MERGE lowers to. Action
  *     conditions and assignment expressions stay Catalyst expressions
  *     (regenerated via `Expression.sql`), so everything is codegen'd.
  *   - The standard "target row matched by multiple source rows" error is
  *     enforced with one aggregation over the matched side only
  *     (`checkCardinality`), the Delta-style guard; disable it when the
  *     source is known key-unique and the extra pass matters.
  *
  * Semantics notes (all per the SQL standard / public Delta docs):
  *   - UPDATE assignment RHS sees PRE-update values (single select).
  *   - DELETE keeps rows whose predicate is NULL (only TRUE deletes).
  *   - MERGE actions apply in statement order; first applicable wins.
  *   - Unassigned columns in INSERT arms become typed NULLs.
  */
object SqlDml {

  /** One statement, one transaction. `tables` maps table names appearing in
    * the statement to SnapshotStore roots; MERGE sources may also name any
    * registered temp view. Returns the committed snapshot.
    */
  /** Statement-integrated CDC (the scale path the generic post-hoc diff
    * documents): when the target table has a change feed, each statement
    * emits its change rows from ITS OWN plan — UPDATE/DELETE from the same
    * single scan that rewrites the snapshot (no join at all), MERGE from
    * the full-outer join it already materializes — instead of
    * `SnapshotStore.diffChanges`, which must shuffle BOTH full snapshots
    * on the CDC key. UPDATE and MERGE hand their before/after pairs to
    * `SnapshotStore.changeRows`, the encoder the generic diff uses, and
    * CdcSpec pins the equivalence for every statement shape and route.
    */
  def execute(spark: SparkSession, sql: String,
      tables: Map[String, String] = Map.empty,
      maxAttempts: Int = 10, checkCardinality: Boolean = true): SnapshotStore.Snapshot =
    executePlan(spark, spark.sessionState.sqlParser.parsePlan(sql), tables,
      maxAttempts, checkCardinality)

  /** Compile an UPDATE / DELETE / MERGE / INSERT / CTAS logical plan —
    * parsed OR analyzed (the planner-strategy path behind plain
    * `spark.sql("UPDATE graft.t …")`: analyzed nodes carry resolved
    * relations, which [[relationOf]] maps straight to store roots).
    */
  /** The identity column of `root`'s current schema, if any — DML that
    * would bypass the engine's allocation (assigning the column, or
    * inserting rows through MERGE, whose arms never run appendWithIdentity)
    * must refuse loudly rather than land NULL/forged ids.
    */
  private def identityColOf(spark: SparkSession, root: String): Option[String] =
    SnapshotStore.readSchema(spark, SnapshotStore.latest(root)).fields
      .find(_.metadata.contains("identity.start")).map(_.name)

  def executePlan(spark: SparkSession, parsed: LogicalPlan,
      tables: Map[String, String] = Map.empty,
      maxAttempts: Int = 10, checkCardinality: Boolean = true): SnapshotStore.Snapshot = {
    normalizeQualifiers(parsed) match {
      case u: UpdateTable =>
        val (name, alias) = relationOf(u.table)
        val root = rootOf(tables, name)
        val cdcKeys = SnapshotStore.cdcKeys(root)
        val cond = u.condition.map(e => expr(e.sql)).getOrElse(lit(true))
        val assigns = assignmentMap(u.assignments)
        def build(base: DataFrame): (DataFrame, Option[DataFrame]) = {
          val t = base.alias(alias)
          val cols = base.columns.toIndexedSeq
          locally { // a name miss must refuse, not silently no-op
            val known = cols.map(_.toLowerCase).toSet
            val unknown = assigns.keys.filterNot(known)
            require(unknown.isEmpty,
              s"UPDATE assigns to non-target column(s): ${unknown.mkString(", ")}")
            identityColOf(spark, root).foreach(ic => require(
              !assigns.contains(ic.toLowerCase),
              s"cannot UPDATE identity column $ic — ids are engine-assigned"))
          }
          def newVal(c: String): Column = assigns.get(c.toLowerCase) match {
            case Some(v) => when(coalesce(cond, lit(false)), v)
              .otherwise(col(c)).cast(base.schema(c).dataType)
            case None => col(c)
          }
          // single select: every RHS reads the pre-update row
          val out = t.select(cols.map(c => newVal(c).as(c)): _*)
          val changes = SnapshotStore.changeRows(
            t.filter(coalesce(cond, lit(false))), cols, cdcKeys)(
            lit(true), col, lit(true), newVal)
          (out, Some(changes))
        }
        // build() is closed over whatever subset the route hands it: on
        // the matched rows (merge-on-read) it yields exactly their
        // post-images, on touched partitions the unmatched neighbors pass
        // through unchanged
        SnapshotStore.rewriteRows(spark, root, maxAttempts)(Some(
          base => base.alias(alias).filter(coalesce(cond, lit(false)))))(build)

      case del: DeleteFromTable =>
        val (name, alias) = relationOf(del.table)
        val root = rootOf(tables, name)
        val cond = expr(del.condition.sql)
        val matched = coalesce(cond, lit(false))
        def build(base: DataFrame): (DataFrame, Option[DataFrame]) = {
          val t = base.alias(alias)
          // NULL predicate keeps the row: only TRUE deletes. Over the
          // matched rows (merge-on-read) the kept filter contradicts the
          // match and plans as an empty relation: nothing is appended and
          // no job runs to find that out
          (t.filter(!matched), Some(t.filter(matched)
            .withColumn(SnapshotStore.ChangeTypeCol, lit("delete"))))
        }
        SnapshotStore.rewriteRows(spark, root, maxAttempts)(Some(
          base => base.alias(alias).filter(matched)))(build)

      case m: MergeIntoTable =>
        val (tName, tAlias) = relationOf(m.targetTable)
        val sAlias = aliasOf(m.sourceTable)
        val root = rootOf(tables, tName)
        val source = sourceFrameOf(spark, m.sourceTable, tables)
        // MERGE … WITH SCHEMA EVOLUTION (the Delta statement): source-only
        // columns are ADDED to the target first — a metadata-only
        // alterSchema commit (hard links + pinned schema, existing rows
        // null-fill) — and the merge then compiles against the evolved
        // schema, so UPDATE SET * / INSERT * carry the new columns. Same
        // evolve-then-apply order as CDC replication (CdcApplySink).
        if (m.withSchemaEvolution) {
          // analyzed plans arrive with star actions ALREADY EXPANDED
          // against the pre-evolution schema — evolving now would silently
          // drop the new columns from SET * / INSERT *. Refuse loudly;
          // the parsed path (SqlDml.execute) compiles stars itself after
          // the evolve commit.
          require(!m.resolved,
            "MERGE WITH SCHEMA EVOLUTION via plain spark.sql would lose " +
              "the evolved columns (the analyzer expands * against the " +
              "old schema) — run it through SqlDml.execute")
          val tgt = SnapshotStore.readSchema(spark, SnapshotStore.latest(root))
          val added = source.schema.fields.toIndexedSeq.filterNot(f =>
            tgt.exists(_.name.equalsIgnoreCase(f.name)))
          if (added.nonEmpty)
            SnapshotStore.alterSchema(spark, root, s =>
              added.foldLeft(s)((acc, f) =>
                acc.add(f.name, f.dataType, nullable = true)))
        }
        identityColOf(spark, root).foreach { ic =>
          require(m.notMatchedActions.isEmpty,
            s"MERGE with a NOT MATCHED (insert) arm is unsupported on " +
              s"identity tables ($ic is engine-assigned) — append instead")
          val touchesId =
            (m.matchedActions ++ m.notMatchedBySourceActions).exists {
              case ua: org.apache.spark.sql.catalyst.plans.logical.UpdateAction =>
                ua.assignments.exists(a =>
                  assignmentTarget(a.key) == ic.toLowerCase)
              case _: org.apache.spark.sql.catalyst.plans.logical.UpdateStarAction =>
                true // SET * assigns every column, the identity one included
              case _ => false
            }
          require(!touchesId,
            s"MERGE cannot assign identity column $ic — ids are engine-assigned")
        }
        locally {
          // generated columns: the MERGE insert arm builds rows through the
          // full-outer nested-CASE, which pads unassigned columns with NULL
          // instead of deriving — the consistency CHECK would then refuse
          // the whole statement with a cryptic constraint violation, so
          // demand the derivation be written in the arm (where its inputs
          // are in scope) up front
          val gen = SnapshotStore.generatedCols(
            SnapshotStore.readSchema(spark, SnapshotStore.latest(root)))
            .map(_.name.toLowerCase)
          if (gen.nonEmpty && m.notMatchedActions.nonEmpty) {
            def assigns(a: Any, gc: String): Boolean = a match {
              case ia: org.apache.spark.sql.catalyst.plans.logical.InsertAction =>
                ia.assignments.exists(a => assignmentTarget(a.key) == gc)
              case _ => false // INSERT * cannot be verified — refuse
            }
            val missing = gen.filterNot(gc =>
              m.notMatchedActions.forall(assigns(_, gc)))
            require(missing.isEmpty,
              s"MERGE INSERT arms must assign generated column(s) " +
                s"${missing.mkString(", ")} explicitly (write the " +
                "derivation in the arm; a NULL pad fails the consistency CHECK)")
          }
        }
        // the join-matched target rows scope the write: a source row's
        // match, if any, is by definition among them, so mergeFrames over
        // the matched rows (or their partitions) ≡ the full merge
        // restricted to them plus the inserts. A NOT MATCHED BY SOURCE arm
        // can modify ANY target row, so it names no matched set.
        SnapshotStore.rewriteRows(spark, root, maxAttempts)(
          Option.when(m.notMatchedBySourceActions.isEmpty)(
            base => base.alias(tAlias).join(source.alias(sAlias),
              expr(m.mergeCondition.sql), "left_semi")))(
          base => mergeFrames(base, tAlias, source, sAlias, m,
            checkCardinality, SnapshotStore.cdcKeys(root)))

      case ins: InsertIntoStatement =>
        val (name, _) = relationOf(ins.table)
        val root = rootOf(tables, name)
        require(!ins.ifPartitionNotExists, "IF NOT EXISTS partitions not supported")
        val src = org.apache.spark.sql.GraftSqlShim.ofRows(spark, ins.query)
        if (ins.partitionSpec.nonEmpty) {
          // STATIC single-partition overwrite:
          //   INSERT OVERWRITE t PARTITION (seg = 'a') SELECT <non-part cols>
          // — replaces exactly that partition through the copy-on-write
          // staging (every other partition hard-links). The workhorse of
          // partitioned backfills: reprocess one day without touching the
          // other 10 years.
          require(ins.overwrite,
            "PARTITION (col = value) requires INSERT OVERWRITE " +
              "(appends land in partitions by row value — no spec needed)")
          val hive = SnapshotStore.partitionCols(root)
          require(hive.nonEmpty, s"$name is not a partitioned table")
          val spec = ins.partitionSpec.map { case (k, v) =>
            k.toLowerCase -> v.getOrElse(throw new IllegalArgumentException(
              s"dynamic partition value for '$k' not supported — give a literal"))
          }
          require(spec.keySet == hive.map(_.toLowerCase).toSet,
            s"PARTITION spec ${spec.keySet} must name exactly the partition " +
              s"columns ${hive.mkString(", ")}")
          val schema = SnapshotStore.readSchema(spark, SnapshotStore.latest(root))
          // generated columns are the ENGINE's to compute — the query
          // supplies only the plain data columns, and the derivation runs
          // after the partition literals attach (it may reference them)
          val genNames = SnapshotStore.generatedCols(schema)
            .map(_.name.toLowerCase).toSet
          val dataCols = schema.fieldNames.toIndexedSeq
            .filterNot(c => spec.contains(c.toLowerCase) ||
              genNames(c.toLowerCase))
          require(src.columns.length == dataCols.length,
            s"query provides ${src.columns.length} columns; partition " +
              s"$spec expects ${dataCols.mkString(", ")}")
          val newRows = {
            val d = src.toDF(dataCols: _*)
            val withParts = spec.foldLeft(d) { case (acc, (k, v)) =>
              acc.withColumn(k, lit(v).cast(schema(
                schema.fieldNames.find(_.equalsIgnoreCase(k)).get).dataType))
            }
            SnapshotStore.deriveGenerated(withParts, schema)
              .select(schema.fieldNames.toIndexedSeq.map(col): _*)
          }
          val partPred = spec.map { case (k, v) =>
            col(k) <=> lit(v).cast(schema(
              schema.fieldNames.find(_.equalsIgnoreCase(k)).get).dataType)
          }.reduce(_ && _)
          SnapshotStore.overwritePartitions(spark, root, maxAttempts)(base =>
            (base.filter(partPred), base.filter(!coalesce(partPred, lit(false)))))(
            _ => newRows)
        } else {
          // name resolution happens here; alignment/casts/CDC guards live in
          // SnapshotStore.append (shared with the catalog's V1 write fallback)
          val named =
            if (ins.userSpecifiedCols.nonEmpty) {
              require(ins.userSpecifiedCols.length == src.columns.length,
                s"INSERT column list has ${ins.userSpecifiedCols.length} names " +
                  s"for ${src.columns.length} values")
              src.toDF(ins.userSpecifiedCols: _*)
            } else {
              val cols = SnapshotStore.readSchema(spark, SnapshotStore.latest(root))
                .fieldNames.toIndexedSeq
              require(src.columns.length == cols.length,
                s"INSERT provides ${src.columns.length} columns, table has ${cols.length}")
              src.toDF(cols: _*)
            }
          SnapshotStore.append(spark, root, named, ins.overwrite, maxAttempts)
        }

      case ctas: CreateTableAsSelect =>
        val name = ctas.name match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
            u.nameParts.last
          case other => throw new IllegalArgumentException(
            s"unsupported CTAS name shape: ${other.getClass.getSimpleName}")
        }
        // PARTITIONED BY (col, ...) routes through the same hive-layout
        // init path q93's partitioned tables use; only identity transforms
        // make directory partitions (bucket/days/etc. refuse loudly)
        val parts = ctas.partitioning.toSeq.map {
          case t if t.name == "identity" && t.references.length == 1 =>
            t.references.head.fieldNames.mkString(".")
          case other => throw new IllegalArgumentException(
            s"CTAS PARTITIONED BY supports identity columns only, got $other")
        }
        val root = rootOf(tables, name)
        // feed opt-in rides TBLPROPERTIES ('cdc.keys'='k1,k2') — the same
        // place Delta puts enableChangeDataFeed
        val keys = (ctas.tableSpec match {
          case u: UnresolvedTableSpec => u.properties.get("cdc.keys")
          case _ => None
        }).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
        SnapshotStore.init(spark, root,
          org.apache.spark.sql.GraftSqlShim.ofRows(spark, ctas.query),
          partitionBy = parts, cdcKeys = keys)

      case other => throw new IllegalArgumentException(
        s"not a DML statement: ${other.getClass.getSimpleName}")
    }
  }

  /** The single-join MERGE plan, returning (result, change rows). The
    * change rows are `SnapshotStore.changeRows` over the SAME full-outer
    * join, with the resolved after-image the result projects — the
    * encoding `diffChanges` uses, by construction. The two frames are two
    * consumers of one lazy join (recomputed per write); the next step at
    * 100 TB is a single-pass writer emitting both outputs from one task,
    * the public Delta CDF design.
    */
  private def mergeFrames(base: DataFrame, tAlias: String, sourceDf: DataFrame,
      sAlias: String, m: MergeIntoTable, checkCardinality: Boolean,
      cdcKeys: Seq[String] = Nil): (DataFrame, Option[DataFrame]) = {
    val fields: Seq[StructField] = base.schema.fields.toIndexedSeq
    // every explicit assignment/insert target must BE a target column — a
    // name miss would otherwise be silently dropped by the per-field
    // compile below (the user asked for a column the table doesn't have:
    // refuse, pointing at WITH SCHEMA EVOLUTION for the add-column intent)
    locally {
      val known = fields.map(_.name.toLowerCase).toSet
      val assigned = (m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions).flatMap {
        case ua: UpdateAction => assignmentMap(ua.assignments).keys
        case ia: InsertAction => assignmentMap(ia.assignments).keys
        case _ => Nil
      }
      val unknown = assigned.filterNot(known)
      require(unknown.isEmpty,
        s"MERGE assigns to non-target column(s): ${unknown.mkString(", ")} " +
          "(add them first, or use MERGE WITH SCHEMA EVOLUTION)")
    }
    val joinCond = expr(m.mergeCondition.sql)
    val t = base.withColumn("__t", lit(true))
      .withColumn("__tid", monotonically_increasing_id()).alias(tAlias)
    val s = sourceDf.withColumn("__s", lit(true)).alias(sAlias)
    val joined = t.join(s, joinCond, "full_outer")
    val matched = col("__t").isNotNull && col("__s").isNotNull
    val sourceOnly = col("__t").isNull

    if (checkCardinality) {
      // SQL-standard / Delta guard: a target row may be touched by at most
      // one source row. One count over the matched side only.
      val dup = joined.filter(matched).groupBy(col("__tid"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1)
      require(dup.isEmpty,
        "MERGE cardinality violation: a target row matches multiple source rows")
    }

    def tCol(f: StructField): Column = col(s"$tAlias.${f.name}")

    // compile one action list to (keep-this-row, value-of-column-c),
    // falling back to `defaults` when no action's condition applies
    def compile(actions: Seq[MergeAction], defaultKeep: Column,
        defaultVal: StructField => Column): (Column, StructField => Column) = {
      val keep = actions.foldRight(defaultKeep) { (a, rest) =>
        val c = a.condition.map(e => coalesce(expr(e.sql), lit(false))).getOrElse(lit(true))
        a match {
          case _: DeleteAction => when(c, lit(false)).otherwise(rest)
          case _ => when(c, lit(true)).otherwise(rest)
        }
      }
      def valueOf(f: StructField): Column = actions.foldRight(defaultVal(f)) { (a, rest) =>
        val c = a.condition.map(e => coalesce(expr(e.sql), lit(false))).getOrElse(lit(true))
        val v: Option[Column] = a match {
          case ua: UpdateAction => Some(assignmentMap(ua.assignments)
            .getOrElse(f.name.toLowerCase, tCol(f)))
          case _: UpdateStarAction => Some(col(s"$sAlias.${f.name}"))
          case ia: InsertAction => Some(assignmentMap(ia.assignments)
            .getOrElse(f.name.toLowerCase, lit(null)))
          case _: InsertStarAction => Some(col(s"$sAlias.${f.name}"))
          case _: DeleteAction => None // row gone; value never observed
        }
        v.map(vc => when(c, vc).otherwise(rest)).getOrElse(rest)
      }
      (keep, valueOf)
    }

    val (keepM, valM) = compile(m.matchedActions, lit(true), tCol)
    val (keepI, valI) = compile(m.notMatchedActions, lit(false),
      _ => lit(null)) // unmatched source rows only exist if an arm inserts them
    val (keepN, valN) = compile(m.notMatchedBySourceActions, lit(true), tCol)

    val keep = when(matched, keepM).when(sourceOnly, keepI).otherwise(keepN)
    def after(c: String): Column = {
      val f = base.schema(c)
      when(matched, valM(f)).when(sourceOnly, valI(f)).otherwise(valN(f))
        .cast(f.dataType)
    }
    val out = joined.filter(keep).select(fields.map(f => after(f.name).as(f.name)): _*)
    // change rows from the same join: per-row fate is already resolved
    val changes = SnapshotStore.changeRows(joined, fields.map(_.name), cdcKeys)(
      col("__t").isNotNull, c => col(s"$tAlias.$c"), keep, after)
    (out, Some(changes))
  }

  /** (table name, alias) of a DML relation: unwraps `t AS a`. The name
    * keeps its full dotted form (`cat.ns.t`) so [[rootOf]] can resolve it
    * through a catalog warehouse; the alias is the last segment.
    */
  private def relationOf(plan: LogicalPlan): (String, String) = plan match {
    case SubqueryAlias(ident, child) => (relationOf(child)._1, ident.name)
    case r: UnresolvedRelation =>
      (r.multipartIdentifier.mkString("."), r.multipartIdentifier.last)
    // ANALYZED relation (the spark.sql planner-strategy path): the catalog
    // already resolved the table — its root IS the name (rootOf passes
    // "/"-containing names through untouched)
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if d.table.isInstanceOf[GraftTable] =>
      val t = d.table.asInstanceOf[GraftTable]
      require(!t.isPinned,
        s"cannot run DML against ${t.name()} pinned by time travel")
      (t.storeRoot, t.name().split('.').last)
    case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
        if sr.relation.table.isInstanceOf[GraftTable] =>
      relationOf(sr.relation)
    // V2ScanRelationPushDown wraps a PARTITIONED target in a pass-through
    // Project (the scan orders partition columns last; the Project
    // restores the declared order) — see through attribute-only Projects
    case p: org.apache.spark.sql.catalyst.plans.logical.Project
        if p.projectList.forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
      relationOf(p.child)
    case other => throw new IllegalArgumentException(
      s"unsupported DML relation shape: ${other.getClass.getSimpleName}\n" +
        other.treeString)
  }

  /** ANALYZED commands carry resolved attributes whose `.sql` regenerates
    * catalog-qualified names (`graft.dml.seg`) that the compiled
    * single-alias frames cannot resolve — rewrite every attribute's
    * qualifier to the alias its side is registered under (target vs MERGE
    * source decided by output membership). Parsed (unresolved) plans pass
    * through untouched.
    */
  private def normalizeQualifiers(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    plan match {
      case u: UpdateTable if u.resolved =>
        val q = Seq(relationOf(u.table)._2)
        u.transformExpressions {
          case a: AttributeReference => a.withQualifier(q) }
      case d: DeleteFromTable if d.resolved =>
        val q = Seq(relationOf(d.table)._2)
        d.transformExpressions {
          case a: AttributeReference => a.withQualifier(q) }
      case m: MergeIntoTable if m.resolved =>
        val tq = Seq(relationOf(m.targetTable)._2)
        val sq = Seq(aliasOf(m.sourceTable))
        val tOut = m.targetTable.outputSet
        val sOut = m.sourceTable.outputSet
        m.transformExpressions {
          case a: AttributeReference if tOut.contains(a) => a.withQualifier(tq)
          case a: AttributeReference if sOut.contains(a) => a.withQualifier(sq)
        }
      case p => p
    }
  }

  /** The alias a MERGE source's expressions are qualified with. */
  private def aliasOf(plan: LogicalPlan): String = plan match {
    case SubqueryAlias(ident, _) => ident.name
    case r: UnresolvedRelation => r.multipartIdentifier.last
    case _ => "__src"
  }

  /** MERGE source → DataFrame: a mapped/SnapshotStore name, any session
    * table/view, or (analyzed path) the already-resolved plan itself —
    * which also admits arbitrary subquery sources through the strategy.
    */
  private def sourceFrameOf(spark: SparkSession, plan: LogicalPlan,
      tables: Map[String, String]): DataFrame = plan match {
    case SubqueryAlias(_, child) => sourceFrameOf(spark, child, tables)
    case r: UnresolvedRelation =>
      val name = r.multipartIdentifier.mkString(".")
      tables.get(name).map(root => SnapshotStore.read(spark, root))
        .getOrElse(spark.table(name))
    case resolved if resolved.resolved =>
      org.apache.spark.sql.GraftSqlShim.ofRows(spark, resolved)
    case other => throw new IllegalArgumentException(
      s"unsupported MERGE source shape: ${other.getClass.getSimpleName}")
  }

  /** Root resolution: the explicit map first; otherwise catalog-qualified
    * names (`cat.ns.t` — any registered catalog with a `.warehouse` conf,
    * `graft` by default for bare names) resolve exactly as the
    * table_changes TVF does, so `UPDATE graft.ns.t SET …` needs no map at
    * all — the statement surface a catalog user expects.
    */
  private def rootOf(tables: Map[String, String], name: String): String =
    tables.getOrElse(name, {
      if (name.contains("/")) { // already a filesystem root (resolved path)
        require(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(name, "_commits")),
          s"'$name' is not a SnapshotStore table")
        return name
      }
      val conf = org.apache.spark.sql.internal.SQLConf.get
      def warehouseOf(cat: String): String =
        conf.getConfString(s"spark.sql.catalog.$cat.warehouse", "")
      val parts = name.split('.').toSeq
      val viaCatalog = warehouseOf(parts.head)
      val root =
        if (parts.length > 1 && viaCatalog.nonEmpty)
          (viaCatalog +: parts.tail).mkString("/")
        else {
          val w = warehouseOf("graft")
          if (w.isEmpty) throw new IllegalArgumentException(
            s"table '$name' has no SnapshotStore root " +
              s"(known: ${tables.keys.mkString(", ")}) and no catalog warehouse is set")
          (w +: parts).mkString("/")
        }
      require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root, "_commits")),
        s"resolved '$name' to $root, which is not a SnapshotStore table")
      root
    })

  /** Column name (lower-cased) an assignment targets, resolved from the
    * attribute itself — never parsed back out of regenerated SQL, where a
    * column name containing '.' or '`' round-trips wrong (the identity /
    * generated-column guards key on this name; a mis-parse there would let
    * a MERGE assign an identity column unrefused).
    */
  private def assignmentTarget(key: org.apache.spark.sql.catalyst.expressions
      .Expression): String = (key match {
    // UnresolvedAttribute IS an Attribute whose .name re-joins the dotted
    // parts — match it first and take the last part
    case ua: UnresolvedAttribute => ua.nameParts.last
    case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
    case other => other.sql.split('.').last.stripPrefix("`").stripSuffix("`")
  }).toLowerCase

  /** target column (lower-cased) → RHS column; RHS regenerated via
    * Expression.sql so it stays inside Catalyst/codegen.
    */
  private def assignmentMap(assigns: Seq[Assignment]): Map[String, Column] =
    assigns.map(a => assignmentTarget(a.key) -> expr(a.value.sql)).toMap
}
