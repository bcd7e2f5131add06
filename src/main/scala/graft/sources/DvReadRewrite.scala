package graft.sources

import org.apache.spark.sql.{GraftDvFilter, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, ArrayTransform, AttributeReference, CreateNamedStruct, Expression, GetArrayStructFields, GetStructField, If, IsNull, LambdaFunction, Literal, NamedExpression, NamedLambdaVariable, PredicateHelper, TransformKeys, TransformValues}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, Filter, LogicalPlan, MergeIntoTable, Project, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, FileScan}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Routes SQL reads of deletion-vector-bearing catalog tables through the
  * store's DV-applying read. A [[GraftTable]] scan is Spark's own
  * vectorized parquet reader over the snapshot dir — which is exactly
  * right until a merge-on-read commit ([[SnapshotStore.transactMoR]])
  * lands a `_dv/` sidecar: the raw scan would resurrect every deleted
  * position (and parquet footer COUNT(*) pushdown would count them). This
  * rule substitutes the relation with the logical plan of
  * [[SnapshotStore.read]] — the same [[GraftDvFilter]] predicate every
  * Scala-API plain read applies (only DML lineage reads anti-join the
  * vector) — re-aliased to the relation's output attribute ids so the
  * surrounding plan binds unchanged.
  *
  * Both relation shapes are handled, so the rule is injection-order-proof:
  * before V2 pushdown it sees [[DataSourceV2Relation]]; after (the
  * `extraOptimizations` / "User Provided Optimizers" slot that
  * [[graft.GraftExtensions.install]] uses) it sees
  * [[DataSourceV2ScanRelation]], whose scan has already CONSUMED pushed
  * partition filters — those are recovered from the [[FileScan]] and
  * re-applied on top of the substituted read (re-applying a pushed filter
  * is idempotent; dropping one would be wrong rows).
  *
  * DML/write TARGETS are left untouched: [[SqlDml]] maps them to store
  * roots by relation and performs its own DV-correct reads; substituting
  * them would break target resolution. Their SOURCE subqueries are
  * re-planned by SqlDml as fresh Datasets, where this rule applies
  * normally.
  *
  * Pushdown through the DV filter: the store's DV predicate
  * ([[GraftDvFilter]]) is NONDETERMINISTIC (it reads the task's current
  * input file), so Catalyst refuses to push anything past it — recovered
  * filters placed ABOVE it would turn every read of a DV-bearing table
  * into a full scan between a merge-on-read DML and the next OPTIMIZE.
  * Deterministic value predicates COMMUTE with a positional delete filter
  * (`_metadata.row_index` is the row's position in its file, unchanged by
  * which other rows a scan filter keeps), so [[substitute]] inserts them
  * BENEATH the DV filter, where FileSourceStrategy pushes them into the
  * parquet scan — partition pruning and row-group skipping survive DML.
  */
object DvReadRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // write/DML targets to leave alone (identity comparison: structural
    // equality could alias an unrelated read of the same table)
    lazy val shields: Seq[LogicalPlan] = plan.collect {
      case u: UpdateTable => u.table
      case d: DeleteFromTable => d.table
      case m: MergeIntoTable => m.targetTable
      case w: V2WriteCommand => w.table
    }.flatMap(_.collect {
      case r: DataSourceV2Relation => r: LogicalPlan
      case sr: DataSourceV2ScanRelation => sr: LogicalPlan
    })
    def shielded(n: LogicalPlan): Boolean = shields.exists(_ eq n)

    plan.transform {
      // pre-pushdown shape with a user Filter directly above: split out the
      // LEADING run of deterministic conjuncts (span, not partition — the
      // same prefix rule Catalyst's own pushdown uses) and hand them to
      // substitute so they land BENEATH the DV filter (pushable).
      // Everything from the first nondeterministic conjunct onward stays
      // above: reordering a deterministic conjunct past e.g. rand() < 0.5
      // would change which per-partition random draws each row receives,
      // altering the sampled result set vs vanilla Spark.
      case Filter(cond, r: DataSourceV2Relation)
          if isDvTable(r.table) && !shielded(r) =>
        val (det, rest) =
          splitConjunctivePredicates(cond).span(_.deterministic)
        val sub = substitute(r.table.asInstanceOf[GraftTable], r.output, det)
        rest.reduceOption(And).map(Filter(_, sub)).getOrElse(sub)
      case r: DataSourceV2Relation if isDvTable(r.table) && !shielded(r) =>
        substitute(r.table.asInstanceOf[GraftTable], r.output, Nil)
      case sr: DataSourceV2ScanRelation
          if isDvTable(sr.relation.table) && !shielded(sr) =>
        val recovered = sr.scan match {
          case fs: FileScan => fs.partitionFilters ++ fs.dataFilters
          case _ => Nil
        }
        substitute(sr.relation.table.asInstanceOf[GraftTable], sr.output,
          recovered)
    }
  }

  /** Needs the store read: a DV sidecar (raw scan resurrects deletes), a
    * rename mapping (raw scan null-fills the renamed column — files still
    * carry the physical pre-rename name), or a snapshot spanning
    * partition specs (raw scan misses every `_spec<i>` subtree row).
    */
  private def isDvTable(t: org.apache.spark.sql.connector.catalog.Table): Boolean =
    t match {
      case g: GraftTable =>
        g.hasDeletionVector || g.hasRenames || g.hasEvolvedSpecs
      case _ => false
    }

  /** The DV-applied read, filtered by any scan-consumed predicates and
    * projected/aliased onto the relation's original output attributes. The
    * recovered predicates are inserted BENEATH the store read's DV filter
    * (rebased onto that node's child), so FileSourceStrategy still pushes
    * them into the parquet scan — see the class doc's commutation argument.
    */
  private def substitute(table: GraftTable,
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      consumedFilters: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    val inner = SnapshotStore
      .read(spark, SnapshotStore.Snapshot(-1L, table.snapDataDir))
      .queryExecution.analyzed
    val byName = inner.output.map(a => a.name.toLowerCase -> a).toMap
    def resolve(name: String): AttributeReference =
      byName.getOrElse(name.toLowerCase, throw new IllegalStateException(
        s"DvReadRewrite: column '$name' of ${table.name()} not found in the " +
          s"store read (${inner.output.map(_.name).mkString(", ")}) — " +
          "refusing to substitute (raw scan would resurrect deleted rows)"))
        .asInstanceOf[AttributeReference]
    // Rebinding pitfall: this rule runs POST-pushdown, after DSv2 nested
    // column pruning narrowed the relation's struct types and rewrote
    // every GetStructField ORDINAL against the pruned layout. The inner
    // store read serves FULL types, so a naive attribute swap would leave
    // stale ordinals reading the wrong field (a struct slot read as a
    // long). Re-resolve every extraction ordinal BY NAME against the new
    // child's type while rebinding.
    def rebind(e: Expression,
        attrsByName: Map[String, AttributeReference]): Expression = e match {
      case a: AttributeReference =>
        attrsByName.getOrElse(a.name.toLowerCase, resolve(a.name))
      case g: GetStructField =>
        val fieldName = g.name.getOrElse(
          g.child.dataType.asInstanceOf[StructType].fields(g.ordinal).name)
        val nc = rebind(g.child, attrsByName)
        val st = nc.dataType.asInstanceOf[StructType]
        val nOrd = st.fields.indexWhere(_.name.equalsIgnoreCase(fieldName))
        require(nOrd >= 0, s"DvReadRewrite: field $fieldName not in " +
          s"${st.simpleString} while rebinding ${table.name()}")
        GetStructField(nc, nOrd, Some(fieldName))
      case g: GetArrayStructFields =>
        val nc = rebind(g.child, attrsByName)
        val st = nc.dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        val nOrd = st.fields.indexWhere(_.name.equalsIgnoreCase(g.field.name))
        require(nOrd >= 0, s"DvReadRewrite: field ${g.field.name} not in " +
          s"${st.simpleString} while rebinding ${table.name()}")
        GetArrayStructFields(nc, st.fields(nOrd), nOrd, st.fields.length,
          g.containsNull || st.fields(nOrd).nullable)
      case other => other.mapChildren(rebind(_, attrsByName))
    }
    def rebase(preds: Seq[Expression],
        attrsByName: Map[String, AttributeReference]): Option[Expression] =
      preds.map(rebind(_, attrsByName)).reduceOption(And)
    val filtered =
      if (consumedFilters.isEmpty) inner
      else {
        // insert beneath EVERY DV filter: a snapshot that spans partition
        // specs reads as a Union with one DV-filtered scan per era — a
        // once-only insertion would leave every other branch unfiltered
        // (extra rows), and each branch needs the predicate pushed below
        // ITS filter for FileSourceStrategy to reach the scan
        var nDv = 0
        val t = inner.transformUp {
          case Filter(cond, child)
              if cond.exists(_.isInstanceOf[GraftDvFilter]) =>
            nDv += 1
            val childAttrs = child.output.collect {
              case a: AttributeReference => a.name.toLowerCase -> a
            }.toMap
            Filter(cond,
              rebase(consumedFilters, childAttrs).map(Filter(_, child))
                .getOrElse(child))
        }
        if (nDv > 0) t
        else {
          // no DV filter in the read: an EVOLVED snapshot without a DV
          // reads as a plain Union of per-era scans — a filter ABOVE the
          // Union never reaches FileSourceStrategy's partition pruning
          // (we run post-optimizer; nothing re-pushes through Union), so
          // every era would full-scan. Push the recovered predicates into
          // EACH branch, rebased onto its own attribute ids — only when
          // every branch resolves every referenced name (else the global
          // top filter keeps correctness at full-scan cost).
          def branchAttrs(p: LogicalPlan): Map[String, AttributeReference] =
            p.output.collect {
              case a: AttributeReference => a.name.toLowerCase -> a
            }.toMap
          val refNames = consumedFilters
            .flatMap(_.references.map(_.name.toLowerCase)).toSet
          // push per-branch ONLY when the read contains exactly one Union
          // (today's shape — unionByName eagerly flattens via
          // CombineUnions). With nested/multiple Unions a first-match push
          // would skip the other Unions' branches AND the global fallback,
          // silently dropping recovered predicates (extra rows; ADVICE
          // r17) — take the correct-at-full-scan-cost global filter there.
          val unions = inner.collect {
            case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
          }
          var pushed = false
          val viaUnion =
            if (unions.length != 1) inner
            else inner.transformUp {
              case u: org.apache.spark.sql.catalyst.plans.logical.Union
                  if !pushed && u.children.forall(ch =>
                    refNames.subsetOf(branchAttrs(ch).keySet)) =>
                pushed = true
                u.withNewChildren(u.children.map { ch =>
                  rebase(consumedFilters, branchAttrs(ch))
                    .map(Filter(_, ch)).getOrElse(ch)
                })
            }
          if (pushed) viaUnion
          else rebase(consumedFilters, Map.empty).map(Filter(_, inner))
            .getOrElse(inner)
        }
      }
    Project(output.map { o =>
      // pruned-type conformance: when nested pruning narrowed this output
      // attribute's struct type, serve the inner full value RESHAPED to
      // the pruned layout — the surrounding plan's extraction ordinals
      // were rewritten against it and must stay valid
      Alias(conform(resolve(o.name), o.dataType), o.name)(exprId = o.exprId,
        qualifier = o.qualifier): NamedExpression
    }, filtered)
  }

  /** Reshape `e` (recursively, by FIELD NAME) onto `to` — the pruned type
    * DSv2 nested column pruning gave the relation's output attribute.
    * Identity when the types already agree; whole-struct NULLs preserved.
    * Arrays/maps of pruned structs reshape element-wise.
    */
  private def conform(e: Expression, to: DataType): Expression =
    if (org.apache.spark.sql.types.DataType.equalsIgnoreNullability(
        e.dataType, to)) e
    else (e.dataType, to) match {
      case (from: StructType, t: StructType) =>
        val entries = t.fields.toIndexedSeq.flatMap { f =>
          val idx = from.fields.indexWhere(_.name.equalsIgnoreCase(f.name))
          require(idx >= 0, s"DvReadRewrite: cannot conform " +
            s"${from.simpleString} to ${t.simpleString} — no field ${f.name}")
          Seq(Literal(f.name),
            conform(GetStructField(e, idx, Some(f.name)), f.dataType))
        }
        If(IsNull(e), Literal(null, t), CreateNamedStruct(entries))
      case (from: ArrayType, t: ArrayType) =>
        val v = NamedLambdaVariable("el", from.elementType, from.containsNull)
        ArrayTransform(e, LambdaFunction(conform(v, t.elementType), Seq(v)))
      case (from: MapType, t: MapType) =>
        // nested pruning can narrow a map's VALUE struct (keys are read
        // whole, but conform key-side too for symmetry): reshape via the
        // higher-order map transforms, value-wise like the array case
        val keyed =
          if (DataType.equalsIgnoreNullability(from.keyType, t.keyType)) e
          else {
            val k = NamedLambdaVariable("k", from.keyType, nullable = false)
            val v = NamedLambdaVariable("v", from.valueType,
              from.valueContainsNull)
            TransformKeys(e, LambdaFunction(conform(k, t.keyType), Seq(k, v)))
          }
        val km = keyed.dataType.asInstanceOf[MapType]
        if (DataType.equalsIgnoreNullability(km.valueType, t.valueType)) keyed
        else {
          val k = NamedLambdaVariable("k", km.keyType, nullable = false)
          val v = NamedLambdaVariable("v", km.valueType, km.valueContainsNull)
          TransformValues(keyed,
            LambdaFunction(conform(v, t.valueType), Seq(k, v)))
        }
      case (from, t) => throw new IllegalStateException(
        s"DvReadRewrite: cannot conform ${from.simpleString} to " +
          s"${t.simpleString} (unsupported pruned shape)")
    }
}
