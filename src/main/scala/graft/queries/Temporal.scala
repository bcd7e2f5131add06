package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-modeling extensions over `events`: SCD2 dimension versioning
  * with a point-in-time lookup (q48) and strict-order funnel analysis (q49).
  *
  * Reference context: the reference (Server/main.go) keeps only the latest
  * state per key — UPDATE-in-place destroys history. A warehouse feeding a
  * training pipeline needs the opposite: full change history (SCD2) and the
  * ability to ask "what was the value as of T" (point-in-time correctness is
  * what keeps feature sets leakage-free).
  *
  * Scale: both operators are one shuffle on `user_id` (the window partition
  * key / groupBy key) followed by pure per-partition work. No driver-side
  * iteration; the version build is `lead` over the keyed sort, and the
  * funnel is a per-user left fold over an already-sorted collected list —
  * state machine work that mapGroups would also express, but the HOF form
  * keeps it inside Catalyst. Per-user event lists are bounded (activity per
  * entity, not per corpus), so collect_list stays well under executor
  * memory even at 100 TB of total events.
  */
object Temporal {
  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)
  private def $(name: String) = col(name)

  /** Distributed served-vs-direct MV referee (VERDICT r19 #7). The direct
    * (rewrite-disabled) answer is materialized to a scratch parquet — a
    * distributed write, never a driver collect — then compared against
    * the view-served plan in ONE shuffle: union both sides tagged ±1,
    * group by every output column, and require each group's tag-sum to be
    * zero (exact BAG equality, both directions at once). The served side
    * is planned and executed strictly AFTER the conf flips back on, so
    * the rewrite provably serves it; the r17 vacuity hazard (comparing
    * the direct plan against itself) is impossible by construction — the
    * direct side is a parquet scan of the recorded answer, immune to the
    * conf. Eagerness is the final count. Driver traffic: one scalar
    * count regardless of answer size, where the old collect-both-sides
    * referee dragged the full result through the driver twice (the
    * dominant term of the q116 sf1 soak). Returns the served frame for
    * the gates' witness asserts.
    */
  private def refereeServedEqualsDirect(s: org.apache.spark.sql.SparkSession,
      q: String, tag: String, what: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.MvRewrite
    val refDir = graft.GateTmp.freshDir(tag + "_ref")
    // restore the rewrite conf even when the direct-side write throws —
    // a leaked "false" would cascade spurious plan-contains-MV failures
    // into every later MV gate in the same session (ADVICE r20)
    s.conf.set(MvRewrite.EnabledKey, "false")
    try s.sql(q).write.mode("overwrite").parquet(refDir)
    finally s.conf.set(MvRewrite.EnabledKey, "true")
    val served = s.sql(q)
    val cols = served.columns.toSeq.map($(_))
    val bad = served.withColumn("_side", lit(1L))
      .unionByName(s.read.parquet(refDir).withColumn("_side", lit(-1L)))
      .groupBy(cols: _*).agg(sum($("_side")).as("_imbalance"))
      .filter($("_imbalance") =!= 0L)
      .count()
    require(bad == 0L,
      s"$what ($bad row groups differ between served and direct)")
    served
  }

  /** The full root path of every file scan `sql` plans, subqueries
    * included. The plan string truncates long paths, so a path check on it
    * would depend on the length of `java.io.tmpdir`.
    */
  private def scannedRoots(s: org.apache.spark.sql.SparkSession, sql: String): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collectWithSubqueries(s.sql(sql).queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.relation.location.rootPaths
      case b: BatchScanExec => b.scan match {
        case f: FileScan => f.fileIndex.rootPaths
        case _ => Nil
      }
    }.flatten.map(_.toUri.getPath)
  }

  val defs: Map[String, QueryDef] = Map(

    // Q48 [extension: SCD2 + point-in-time lookup] Build the type-2 slowly
    // changing dimension from the per-user `value` change log (valid_from =
    // event ts, valid_to = next event ts, open interval for the current
    // version), then resolve a point-in-time probe: the version valid at
    // 2024-01-03T00:00:00Z for every user that has one. The PIT filter is a
    // pure predicate on the versioned table — no second join — which is the
    // shape that lets a lakehouse prune versions by partition at scale.
    "q48_scd2_pit" -> QueryDef(
      build = (s, d) => {
        val byUser = Window.partitionBy($("user_id")).orderBy($("ts"), $("event_id"))
        val probe = lit("2024-01-03 00:00:00").cast("timestamp")
        Tables.events(s, d)
          .select($("user_id"), $("ts"), $("event_id"), $("value"))
          .withColumn("valid_from", $("ts"))
          .withColumn("valid_to", lead($("ts"), 1).over(byUser))
          .withColumn("is_current", $("valid_to").isNull)
          .filter($("valid_from") <= probe &&
            ($("valid_to").isNull || $("valid_to") > probe))
          .select($("user_id"),
            unix_timestamp($("valid_from")).as("from_sec"),
            unix_timestamp($("valid_to")).as("to_sec"),
            $("is_current"), $("value").as("value_at_probe"))
          .orderBy($("user_id"))
      },
      oracle = Some(
        """WITH versions AS (
          |  SELECT user_id, ts AS valid_from,
          |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
          |    value
          |  FROM events)
          |SELECT user_id,
          |  floor(epoch(valid_from))::BIGINT AS from_sec,
          |  floor(epoch(valid_to))::BIGINT AS to_sec,
          |  valid_to IS NULL AS is_current,
          |  value AS value_at_probe
          |FROM versions
          |WHERE valid_from <= TIMESTAMP '2024-01-03 00:00:00'
          |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-03 00:00:00')
          |ORDER BY user_id""".stripMargin),
      headline = true),

    // Q49 [extension: funnel analysis] Strict-order funnel view → click →
    // purchase per user, where an `error` event RESETS in-flight progress
    // (the classic "best stage reached" funnel with abandonment). Per user:
    // a left fold over the ts-ordered event codes carrying state
    // {cur, best} — cur advances only on code cur+1, error zeroes cur, best
    // is the high-water mark. One shuffle (groupBy user_id with in-agg
    // ordered collect), then the fold is pure column work; DuckDB mirrors
    // it with list(… ORDER BY …) + list_reduce over an identical struct, so
    // the gate hash-checks the whole state machine (sf0.01: stages 1/2/3 =
    // 4/21/125 users — a real distribution, not a constant).
    "q49_funnel" -> QueryDef(
      build = (s, d) => {
        val code = when($("event_type") === "view", 1L)
          .when($("event_type") === "click", 2L)
          .when($("event_type") === "purchase", 3L)
          .when($("event_type") === "error", -1L)
          .otherwise(0L)
        val init = named_struct(lit("cur"), lit(0L), lit("best"), lit(0L))
        val perUser = Tables.events(s, d)
          .select($("user_id"), $("ts"), $("event_id"), code.as("code"))
          .groupBy($("user_id"))
          .agg(sort_array(collect_list(struct($("ts"), $("event_id"), $("code"))))
            .as("evs"))
          .select($("user_id"),
            aggregate(
              transform($("evs"), e =>
                named_struct(lit("cur"), e.getField("code"), lit("best"), lit(0L))),
              init,
              (st, e) => {
                val cur = st.getField("cur"); val best = st.getField("best")
                // In the advance branch e.cur == st.cur + 1, so the new
                // state is written from `e`, never from `st.cur + 1` twice:
                // DuckDB's list_reduce aliases the in-flight struct literal
                // (a second st['cur'] inside it sees the already-updated
                // field), so both sides use the aliasing-free form.
                when(e.getField("cur") === -1L,
                    named_struct(lit("cur"), lit(0L), lit("best"), best))
                  .when(e.getField("cur") === cur + 1L,
                    named_struct(lit("cur"), e.getField("cur"),
                      lit("best"), greatest(best, e.getField("cur"))))
                  .otherwise(st)
              },
              st => st.getField("best")).as("stage"))
        perUser.groupBy($("stage"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy($("stage"))
      },
      oracle = Some(
        """WITH coded AS (
          |  SELECT user_id, ts, event_id,
          |    CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
          |      WHEN 'purchase' THEN 3 WHEN 'error' THEN -1 ELSE 0 END AS BIGINT) AS code
          |  FROM events),
          |folded AS (
          |  SELECT user_id,
          |    list_reduce(list_prepend({'cur': 0::BIGINT, 'best': 0::BIGINT},
          |        list({'cur': code, 'best': 0::BIGINT} ORDER BY ts, event_id)),
          |      (st, e) -> CASE
          |          WHEN e['cur'] = -1 THEN {'cur': 0::BIGINT, 'best': st['best']}
          |          WHEN e['cur'] = st['cur'] + 1 THEN
          |            {'cur': e['cur'], 'best': greatest(st['best'], e['cur'])}
          |          ELSE st END)['best'] AS stage
          |  FROM coded GROUP BY user_id)
          |SELECT stage, count(*) AS n_users
          |FROM folded GROUP BY stage ORDER BY stage""".stripMargin),
      headline = true),

    // Q70 [extension: snapshot diff / CDC read side] Given two versions of
    // a keyed table, emit the change feed: added / removed / changed rows
    // with column-level change flags — the read-side primitive of data
    // versioning (Delta CDF, Iceberg changelog) and the input every
    // incremental consumer (index refresh, downstream train-set rebuild)
    // actually wants. v2 is derived deterministically from v1 (drop keys
    // ≡0 mod 97, bump price by one cent for keys ≡0 mod 31, re-key a copy
    // of keys ≡0 mod 53 past the key space as inserts). One FULL OUTER
    // hash join on the key — the minimum data movement for a diff; at
    // 100 TB both sides bucket/sort by the same key and the join is
    // exchange-free. Money compares as exact cents (Canon), so a "changed"
    // flag can never come from float noise.
    "q70_snapshot_diff" -> QueryDef(
      build = (s, d) => {
        import graft.Canon.cents
        val v1 = Tables.orders(s, d)
          .select($("o_orderkey").as("k"), cents($("o_totalprice")).as("price_c"),
            $("o_orderstatus").as("status"))
        val mods = v1.filter($("k") % 97 =!= 0)
          .withColumn("price_c",
            when($("k") % 31 === 0, $("price_c") + 1).otherwise($("price_c")))
        val maxK = 1000000000000L // 1e12: clear of any scaled key stride (orders stride 1e8 x copies)
        // Guard (r8 ADVICE): a fixed re-key offset collides with real keys
        // once o_orderkey reaches 1e8 (sf ≳ 70) — and colliding keys make
        // the diff's tie-order engine-dependent. Fail loudly at build time
        // instead of silently diverging at scale.
        val topKey = v1.agg(max($("k"))).head.getLong(0)
        require(topKey < maxK,
          s"q70 re-key offset $maxK <= max o_orderkey $topKey; raise the offset")
        val inserts = v1.filter($("k") % 53 === 0)
          .select(($("k") + maxK).as("k"), $("price_c"), $("status"))
        val v2 = mods.unionByName(inserts)
        val j = v1.as("a").join(v2.as("b"), col("a.k") === col("b.k"), "full_outer")
        j.select(
            coalesce(col("a.k"), col("b.k")).as("key"),
            when(col("b.k").isNull, "removed")
              .when(col("a.k").isNull, "added")
              .when(col("a.price_c") =!= col("b.price_c") ||
                col("a.status") =!= col("b.status"), "changed")
              .otherwise("same").as("change"),
            (col("a.price_c") =!= col("b.price_c")).as("price_changed"))
          .filter($("change") =!= "same")
          // change as tie-break: keys are unique today (guard above), but a
          // deterministic total order must not depend on that staying true
          .orderBy($("key"), $("change"))
      },
      oracle = Some {
        val pc = graft.Canon.centsSql("o_totalprice")
        s"""WITH v1 AS (
           |  SELECT o_orderkey AS k, $pc AS price_c, o_orderstatus AS status
           |  FROM orders),
           |v2 AS (
           |  SELECT k, CASE WHEN k % 31 = 0 THEN price_c + 1 ELSE price_c END
           |    AS price_c, status
           |  FROM v1 WHERE k % 97 <> 0
           |  UNION ALL
           |  SELECT k + 1000000000000, price_c, status FROM v1 WHERE k % 53 = 0)
           |SELECT coalesce(a.k, b.k) AS key,
           |  CASE WHEN b.k IS NULL THEN 'removed'
           |       WHEN a.k IS NULL THEN 'added'
           |       WHEN a.price_c <> b.price_c OR a.status <> b.status
           |         THEN 'changed'
           |       ELSE 'same' END AS change,
           |  (a.price_c <> b.price_c) AS price_changed
           |FROM v1 a FULL JOIN v2 b ON a.k = b.k
           |WHERE CASE WHEN b.k IS NULL THEN 'removed'
           |           WHEN a.k IS NULL THEN 'added'
           |           WHEN a.price_c <> b.price_c OR a.status <> b.status
           |             THEN 'changed'
           |           ELSE 'same' END <> 'same'
           |ORDER BY key, change""".stripMargin
      }),

    // Q72 [extension: optimistic snapshot commits] The WRITE-side commit
    // protocol end-to-end (sources/SnapshotStore.scala): init a table at
    // version 0, land two serial transactions (an UPDATE-shaped rewrite,
    // then a DELETE-shaped filter), read back the latest committed
    // snapshot. The oracle recomputes the same serial composition straight
    // from `customer` — value-identical output proves the staged-dir +
    // atomic-pointer protocol loses and invents nothing across commits.
    // Concurrency itself (racing writers, rebase-retry, torn-read freedom)
    // is inherently non-oracle-able and is covered by SnapshotStoreSpec;
    // this gate makes the protocol's serial correctness a CORRECTNESS row.
    // Commits move pointers, not data — at 100 TB each transact here is one
    // distributed write plus one tiny commit-file create.
    "q72_snapshot_commits" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        val root = graft.GateTmp.freshDir("q72")
        SnapshotStore.init(s, root, RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment")))
        SnapshotStore.transact(s, root)(df => df.withColumn("salary",
          when($("segment") === "BUILDING", $("salary") + 1000L)
            .otherwise($("salary"))))
        SnapshotStore.transact(s, root)(df => df.filter($("id") % 97 =!= 0))
        val last = SnapshotStore.latest(root)
        SnapshotStore.read(s, last)
          .select($("id"), $("name"), $("salary"), $("segment"),
            lit(last.version).as("version"))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""SELECT c_custkey AS id, c_name AS name,
           |  CASE WHEN c_mktsegment = 'BUILDING' THEN $cents + 1000
           |       ELSE $cents END AS salary,
           |  c_mktsegment AS segment, CAST(2 AS BIGINT) AS version
           |FROM customer WHERE c_custkey % 97 <> 0
           |ORDER BY id""".stripMargin
      }),

    // Q74 [extension: manifest file skipping] The READ-planning half of the
    // table format: snapshot `orders` range-clustered on o_orderdate with a
    // per-file min/max manifest (SnapshotStore.writeManifest), then answer
    // a half-year range query by consulting ONLY the manifest to pick
    // files whose [min,max] interval intersects the range — the
    // Iceberg/Delta data-skipping idea. The build asserts pruning really
    // happened (kept < total files) before applying the exact row filter,
    // so a silently-degenerate manifest fails the gate instead of hiding
    // behind a correct-but-unpruned full scan. The oracle is a plain range
    // scan of `orders` — value-identical output proves pruning is a
    // conservative superset, never a substitute for the row predicate.
    // At 100 TB the manifest is what keeps query PLANNING off the
    // 10^4-file listing path; range clustering is what makes the per-file
    // intervals tight enough to skip (q51 z-order is the multi-column
    // variant of the same layout decision).
    "q74_manifest_prune" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        val root = graft.GateTmp.freshDir("q74")
        val orders = Tables.orders(s, d)
          .select($("o_orderkey"), $("o_orderdate"),
            graft.Canon.cents($("o_totalprice")).as("price_c"))
          .repartitionByRange(8, $("o_orderdate"))
        SnapshotStore.init(s, root, orders, statsCols = Seq("o_orderdate"))
        val lo = lit("1996-01-01").cast("date"); val hi = lit("1996-06-30").cast("date")
        val (df, kept, total) = SnapshotStore.readPruned(s, SnapshotStore.latest(root),
          col("max_o_orderdate") >= lo && col("min_o_orderdate") <= hi)
        require(kept < total,
          s"manifest pruned nothing: kept $kept of $total files on a half-year slice")
        df.filter($("o_orderdate").between(lo, hi))
          .select($("o_orderkey"), $("o_orderdate"), $("price_c"))
          .orderBy($("o_orderkey"))
      },
      oracle = Some(
        s"""SELECT o_orderkey, o_orderdate,
           |  ${graft.Canon.centsSql("o_totalprice")} AS price_c
           |FROM orders
           |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
           |ORDER BY o_orderkey""".stripMargin)),

    // Q75 [extension: OPTIMIZE small-file compaction] the layout half of
    // table maintenance: a fragmented snapshot (64 tiny files — the shape
    // streaming ingest accretes) is bin-packed to ~4 range-clustered files
    // in one optimistic transaction, with a fresh manifest. The build
    // requires the file count really dropped AND that a q74-style pruned
    // read still skips files afterward; the oracle is a plain scan of
    // `customer` — value-identical output proves OPTIMIZE moved bytes,
    // never rows. At 100 TB scan cost is dominated by file count (one
    // open/footer/seek per file) long before byte count — periodic
    // bin-packing is what keeps read amplification flat under streaming
    // ingest, and range-clustering while packing is what keeps manifest
    // intervals tight enough to skip.
    "q75_optimize" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        val root = graft.GateTmp.freshDir("q75")
        val cust = Tables.customer(s, d)
          .select($("c_custkey"), $("c_name"),
            graft.Canon.cents($("c_acctbal")).as("bal_c"))
          .repartition(64) // the fragmented state OPTIMIZE exists to fix
        SnapshotStore.init(s, root, cust, statsCols = Seq("c_custkey"))
        val before = SnapshotStore.manifest(s, SnapshotStore.latest(root)).count()
        val rows = SnapshotStore.read(s, SnapshotStore.latest(root)).count()
        // maintenance as a STATEMENT: the catalog's CALL procedure runs the
        // same one-transaction bin-pack (sources/GraftCatalog.scala), so
        // this gate oracle-checks the SQL maintenance surface end-to-end
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", root) // unused: path form
        s.sql(s"CALL graft.system.optimize('$root', ${(rows + 3) / 4}, " +
          "'c_custkey', 'c_custkey')")
        val snap = SnapshotStore.latest(root)
        val after = SnapshotStore.manifest(s, snap).count()
        require(after < before,
          s"OPTIMIZE did not shrink the file count ($before -> $after)")
        val (_, kept, total) = SnapshotStore.readPruned(s, snap,
          col("max_c_custkey") >= 1 && col("min_c_custkey") <= rows / 8)
        require(kept < total,
          s"post-OPTIMIZE manifest pruned nothing ($kept of $total)")
        SnapshotStore.read(s, snap)
          .select($("c_custkey"), $("c_name"), $("bal_c"))
          .orderBy($("c_custkey"))
      },
      oracle = Some(
        s"""SELECT c_custkey, c_name,
           |  ${graft.Canon.centsSql("c_acctbal")} AS bal_c
           |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Q87 [extension: SQL DML statements] UPDATE / DELETE / MERGE INTO
    // parsed by SPARK'S OWN parser and compiled onto SnapshotStore
    // optimistic transactions (sources/SqlDml.scala) — the statement form
    // of the reference's write core (`Server/main.go:279-282` UPDATE,
    // `Server/main.go:112-120` insert-on-miss = MERGE's NOT MATCHED arm).
    // The serial composition lands 4 committed versions: the reference's
    // literal UPDATE-where shape, an INSERT INTO … SELECT (supplier-derived
    // new hires with shifted keys), a DELETE, then a 4-arm MERGE (two
    // conditional matched arms incl. DELETE, NOT MATCHED INSERT, NOT
    // MATCHED BY SOURCE UPDATE) sourced from an orders-derived temp view.
    // All arithmetic is exact integer (cents / counts / bigint key sums),
    // so the oracle — the same statements expressed as portable CTE
    // algebra — hash-matches bit-for-bit. MERGE lowers to ONE full-outer
    // join + nested-CASE action resolution (the Delta/Iceberg plan); the
    // final read proves statement → transaction → snapshot end-to-end.
    "q87_sql_dml" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q87")
        SnapshotStore.init(s, root, RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment")))
        val t = Map("emp" -> root)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 1000 WHERE segment = 'BUILDING'", t)
        Tables.supplier(s, d)
          .select(($("s_suppkey") + 1000000000000L).as("sid"), $("s_name").as("sname"),
            graft.Canon.cents($("s_acctbal")).as("sbal"))
          .createOrReplaceTempView("emp_new_hires")
        SqlDml.execute(s,
          """INSERT INTO emp (id, name, salary, segment)
            |SELECT sid, sname, sbal, 'SUPP' FROM emp_new_hires""".stripMargin, t)
        SqlDml.execute(s, "DELETE FROM emp WHERE salary < 0", t)
        Tables.orders(s, d)
          .groupBy($("o_custkey").as("cust_id"))
          .agg(count(lit(1)).as("n_orders"),
            sum($("o_orderkey")).cast("long").as("okey_sum"))
          .createOrReplaceTempView("emp_changes")
        SqlDml.execute(s,
          """MERGE INTO emp t USING emp_changes s ON t.id = s.cust_id
            |WHEN MATCHED AND s.n_orders >= 20
            |  THEN UPDATE SET salary = t.salary + s.n_orders * 100
            |WHEN MATCHED AND s.n_orders <= 2 THEN DELETE
            |WHEN NOT MATCHED THEN INSERT (id, name, salary, segment)
            |  VALUES (s.cust_id, 'new-' || CAST(s.cust_id AS STRING),
            |          s.okey_sum % 100000, 'NEW')
            |WHEN NOT MATCHED BY SOURCE AND t.segment = 'MACHINERY'
            |  THEN UPDATE SET salary = t.salary - 10""".stripMargin, t)
        val last = SnapshotStore.latest(root)
        SnapshotStore.read(s, last)
          .select($("id"), $("name"), $("salary"), $("segment"),
            lit(last.version).as("version"))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |u1 AS (
           |  SELECT id, name,
           |    CASE WHEN segment = 'BUILDING' THEN salary + 1000 ELSE salary END
           |      AS salary, segment
           |  FROM base),
           |i1 AS (
           |  SELECT * FROM u1
           |  UNION ALL
           |  SELECT s_suppkey + 1000000000000 AS id, s_name AS name,
           |         ${graft.Canon.centsSql("s_acctbal")} AS salary,
           |         'SUPP' AS segment
           |  FROM supplier),
           |d1 AS (SELECT * FROM i1 WHERE NOT coalesce(salary < 0, false)),
           |src AS (
           |  SELECT o_custkey AS cust_id, CAST(count(*) AS BIGINT) AS n_orders,
           |         CAST(sum(o_orderkey) AS BIGINT) AS okey_sum
           |  FROM orders GROUP BY o_custkey),
           |m AS (
           |  SELECT
           |    CASE WHEN t.id IS NOT NULL THEN t.id ELSE s.cust_id END AS id,
           |    CASE
           |      WHEN t.id IS NOT NULL AND s.cust_id IS NOT NULL THEN t.name
           |      WHEN t.id IS NULL THEN 'new-' || CAST(s.cust_id AS VARCHAR)
           |      ELSE t.name END AS name,
           |    CASE
           |      WHEN t.id IS NOT NULL AND s.cust_id IS NOT NULL THEN
           |        CASE WHEN s.n_orders >= 20 THEN t.salary + s.n_orders * 100
           |             ELSE t.salary END
           |      WHEN t.id IS NULL THEN s.okey_sum % 100000
           |      WHEN t.segment = 'MACHINERY' THEN t.salary - 10
           |      ELSE t.salary END AS salary,
           |    CASE
           |      WHEN t.id IS NOT NULL THEN t.segment
           |      ELSE 'NEW' END AS segment,
           |    NOT (t.id IS NOT NULL AND s.cust_id IS NOT NULL
           |         AND s.n_orders <= 2) AS keep
           |  FROM d1 t FULL JOIN src s ON t.id = s.cust_id)
           |SELECT id, name, salary, segment, CAST(4 AS BIGINT) AS version
           |FROM m WHERE keep ORDER BY id""".stripMargin
      }),

    // Q88 [extension: streaming change-data-feed] The CDC table's commit
    // log AS a stream: SnapshotStore tables initialized with `cdcKeys`
    // land typed change rows (insert / delete / update_preimage /
    // update_postimage) with every commit, and streaming/ChangeFeedSource
    // tails `_commits/` serving each version's change files as a
    // micro-batch — the scale-native form of the reference's
    // poll-the-table change pipeline (`Server/main.go:284-320`) and the
    // streaming twin of q70's batch snapshot diff. The gate drives the
    // feed through the SQL DML surface (UPDATE → DELETE → MERGE, three
    // commits on top of the v0 initial-insert feed), replays the feed
    // with Trigger.AvailableNow into a memory sink, and hash-checks the
    // ENTIRE typed change stream against a DuckDB replay of the same
    // statements. Exactly-once across checkpoint restarts is CdcSpec's
    // e2e case; offsets are commit versions, and change files share
    // snapshot immutability, so a replayed range is byte-identical.
    "q88_cdc_feed" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q88")
        SnapshotStore.init(s, root, RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        val t = Map("emp" -> root)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 500 WHERE segment = 'AUTOMOBILE'", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 10 = 3", t)
        Tables.orders(s, d)
          .groupBy($("o_custkey").as("cust_id"))
          .agg(count(lit(1)).as("n_orders"))
          .createOrReplaceTempView("emp_src")
        SqlDml.execute(s,
          """MERGE INTO emp t USING emp_src s ON t.id = s.cust_id
            |WHEN MATCHED AND s.n_orders >= 10
            |  THEN UPDATE SET salary = t.salary + s.n_orders
            |WHEN NOT MATCHED THEN INSERT (id, name, salary, segment)
            |  VALUES (s.cust_id, 'new-' || CAST(s.cust_id AS STRING),
            |          s.n_orders, 'NEW')""".stripMargin, t)
        val feed = s.readStream.format("graft.streaming.ChangeFeedSource")
          .option("path", root).load()
        graft.streaming.EventsStream.runToMemory(s, feed,
          s"q88_mem_${System.nanoTime()}", "append")
          .orderBy($("_commit_version"), $("id"), $("_change_type"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (
           |  SELECT id, name,
           |    CASE WHEN segment = 'AUTOMOBILE' THEN salary + 500 ELSE salary END
           |      AS salary, segment
           |  FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 10 = 3)),
           |src AS (
           |  SELECT o_custkey AS cust_id, CAST(count(*) AS BIGINT) AS n_orders
           |  FROM orders GROUP BY o_custkey),
           |c0 AS (
           |  SELECT id, name, salary, segment, 'insert' AS _change_type,
           |         0 AS _commit_version
           |  FROM base),
           |c1 AS (
           |  SELECT id, name, salary, segment, 'update_preimage', 1
           |  FROM base WHERE segment = 'AUTOMOBILE'
           |  UNION ALL
           |  SELECT id, name, salary, segment, 'update_postimage', 1
           |  FROM v1 WHERE segment = 'AUTOMOBILE'),
           |c2 AS (
           |  SELECT id, name, salary, segment, 'delete', 2
           |  FROM v1 WHERE id % 10 = 3),
           |c3 AS (
           |  SELECT t.id, t.name, t.salary, t.segment, 'update_preimage', 3
           |  FROM v2 t JOIN src s ON t.id = s.cust_id WHERE s.n_orders >= 10
           |  UNION ALL
           |  SELECT t.id, t.name, t.salary + s.n_orders, t.segment,
           |         'update_postimage', 3
           |  FROM v2 t JOIN src s ON t.id = s.cust_id WHERE s.n_orders >= 10
           |  UNION ALL
           |  SELECT s.cust_id, 'new-' || CAST(s.cust_id AS VARCHAR),
           |         s.n_orders, 'NEW', 'insert', 3
           |  FROM src s LEFT JOIN v2 t ON t.id = s.cust_id WHERE t.id IS NULL)
           |SELECT id, name, salary, segment, _change_type,
           |  CAST(_commit_version AS BIGINT) AS _commit_version
           |FROM (SELECT * FROM c0 UNION ALL SELECT * FROM c1
           |      UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3)
           |ORDER BY _commit_version, id, _change_type""".stripMargin
      }),

    // Q88b [extension: batch table_changes] the change feed's BATCH
    // surface — `SnapshotStore.changes(root, from, to)`, the
    // `table_changes('t', from, to)` read every lakehouse exposes — over
    // a version SUB-RANGE: versions (1, 2] of the same UPDATE→DELETE
    // sequence as q88, proving range selection excludes both the v0
    // initial-insert feed and later commits. Same typed rows, same
    // CTE-replay oracle restricted to c1 ∪ c2.
    "q88b_table_changes" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q88b")
        SnapshotStore.init(s, root, RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        val t = Map("emp" -> root)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 500 WHERE segment = 'AUTOMOBILE'", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 10 = 3", t)
        SqlDml.execute(s, "UPDATE emp SET salary = salary + 1 WHERE id = 1", t)
        SnapshotStore.changes(s, root, 1L, 2L)
          .orderBy($("_commit_version"), $("id"), $("_change_type"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (
           |  SELECT id, name,
           |    CASE WHEN segment = 'AUTOMOBILE' THEN salary + 500 ELSE salary END
           |      AS salary, segment
           |  FROM base),
           |c1 AS (
           |  SELECT id, name, salary, segment, 'update_preimage' AS _change_type,
           |         1 AS _commit_version
           |  FROM base WHERE segment = 'AUTOMOBILE'
           |  UNION ALL
           |  SELECT id, name, salary, segment, 'update_postimage', 1
           |  FROM v1 WHERE segment = 'AUTOMOBILE'),
           |c2 AS (
           |  SELECT id, name, salary, segment, 'delete', 2
           |  FROM v1 WHERE id % 10 = 3)
           |SELECT id, name, salary, segment, _change_type,
           |  CAST(_commit_version AS BIGINT) AS _commit_version
           |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
           |ORDER BY _commit_version, id, _change_type""".stripMargin
      }),

    // Q88c [extension: CDC replication e2e] the full APPLY CHANGES INTO
    // topology as ONE oracle-gated pipeline: source table → SQL DML
    // commits (UPDATE → DELETE) → ChangeFeedSource stream → CdcApplySink
    // foreachBatch apply → replica SnapshotStore table. The gate returns
    // the REPLICA's content, which must hash-match a DuckDB replay of the
    // statements against the source data — i.e. the replica is proven
    // byte-equal to the source's final state after riding the entire
    // streaming change pipeline. Restart/replay exactly-once semantics
    // are CdcSpec's e2e case; this gate pins the data plane.
    "q88c_cdc_replicate" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        import graft.streaming.CdcApplySink
        val src = graft.GateTmp.freshDir("q88c_src")
        val rep = graft.GateTmp.freshDir("q88c_rep")
        val cp = graft.GateTmp.freshDir("q88c_cp")
        val base = RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment"))
        SnapshotStore.init(s, src, base, cdcKeys = Seq("id"))
        SnapshotStore.init(s, rep, base.limit(0)) // empty replica, same schema
        val t = Map("emp" -> src)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 500 WHERE segment = 'AUTOMOBILE'", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 10 = 3", t)
        val q = s.readStream.format("graft.streaming.ChangeFeedSource")
          .option("path", src).load()
          .writeStream
          .foreachBatch(CdcApplySink.applyBatch(rep, "id", "q88c-replicator") _)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        SnapshotStore.read(s, rep).orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (
           |  SELECT id, name,
           |    CASE WHEN segment = 'AUTOMOBILE' THEN salary + 500 ELSE salary END
           |      AS salary, segment
           |  FROM base)
           |SELECT id, name, salary, segment FROM v1
           |WHERE NOT (id % 10 = 3) ORDER BY id""".stripMargin
      }),

    // Q89 [extension: SQL warehouse surface] The catalog-registered read/
    // write path — every statement in this gate is plain `spark.sql` text
    // against NAMED tables (sources/GraftCatalog.scala): CTAS creates the
    // SnapshotStore table, INSERT INTO appends through the V1-fallback
    // commit protocol, INSERT OVERWRITE (reading the table itself) replaces
    // it, and the final SELECT joins the live table against its own
    // pre-append version via `VERSION AS OF` — the reference's serve path (`Server/main.go:230` is a plain SQL
    // SELECT over a named table) plus the time travel its MySQL store never
    // had. Reads stay vectorized parquet with pushdown/pruning intact
    // (GraftCatalogSpec plan-locks PushedFilters/ReadSchema); analysis-time
    // snapshot pinning keeps every query on ONE consistent version under
    // concurrent writers.
    "q89_sql_warehouse" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q89")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment"))
          .createOrReplaceTempView("q89_emp_src")
        // CTAS through a non-staging catalog lowers to two commits:
        // v0 = empty CREATE, v1 = the query's rows appended
        s.sql("CREATE TABLE graft.q89emp AS SELECT * FROM q89_emp_src")
        Tables.supplier(s, d).createOrReplaceTempView("q89_supp")
        s.sql( // v2: append new hires through the commit protocol
          s"""INSERT INTO graft.q89emp
             |SELECT s_suppkey + 1000000000000, s_name,
             |       ${graft.Canon.centsSql("s_acctbal")}, 'SUPP'
             |FROM q89_supp""".stripMargin)
        s.sql( // v3: whole-table replace sourced from the table ITSELF —
               // the pinned-at-analysis snapshot makes self-reads safe
          """INSERT OVERWRITE graft.q89emp
            |SELECT id, name, salary + 100, segment
            |FROM graft.q89emp WHERE salary >= 0""".stripMargin)
        s.sql(
          """SELECT c.id, c.name, c.salary, c.segment, v1.salary AS salary_v1
            |FROM graft.q89emp c
            |LEFT JOIN graft.q89emp VERSION AS OF 1 v1 ON c.id = v1.id
            |ORDER BY c.id""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |i1 AS (
           |  SELECT * FROM base
           |  UNION ALL
           |  SELECT s_suppkey + 1000000000000 AS id, s_name AS name,
           |         ${graft.Canon.centsSql("s_acctbal")} AS salary,
           |         'SUPP' AS segment
           |  FROM supplier),
           |o2 AS (
           |  SELECT id, name, salary + 100 AS salary, segment
           |  FROM i1 WHERE salary >= 0)
           |SELECT c.id, c.name, c.salary, c.segment, v1.salary AS salary_v1
           |FROM o2 c LEFT JOIN base v1 ON c.id = v1.id
           |ORDER BY c.id""".stripMargin
      }),

    // Q89b [extension: table_changes SQL TVF] The change feed addressed
    // from SQL: `table_changes('t', from, to)` is a registered
    // table-valued function (GraftExtensions) resolving through the
    // catalog's warehouse to the same ONE-multi-path-scan plan the Scala
    // API builds (SnapshotStore.changes — plan size O(1) in version
    // count). The gate lands v1 inserts via catalog INSERT, v2 updates and
    // v3 deletes via SQL DML, then aggregates the typed feed per
    // (version, change type) — the oracle replays the same statements as
    // CTE algebra over per-version change sets. Exact integer sums keep
    // the hash bit-stable.
    "q89b_table_changes_sql" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q89b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql( // v0: empty CDC table (feed opt-in via TBLPROPERTIES)
          """CREATE TABLE graft.q89c (id BIGINT, salary BIGINT)
            |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
        RelationalPipeline.employeeView(s, d).select($("id"), $("salary"))
          .createOrReplaceTempView("q89b_src")
        s.sql("INSERT INTO graft.q89c SELECT id, salary FROM q89b_src") // v1
        val t = Map("t" -> s"$wh/q89c")
        graft.sources.SqlDml.execute(s,
          "UPDATE t SET salary = salary + 7 WHERE id % 3 = 0", t) // v2
        graft.sources.SqlDml.execute(s,
          "DELETE FROM t WHERE id % 10 = 1", t) // v3
        s.sql(
          """SELECT _commit_version, _change_type,
            |  CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
            |  CAST(sum(salary) AS BIGINT) AS sal_sum
            |FROM table_changes('q89c', 1, 3)
            |GROUP BY _commit_version, _change_type
            |ORDER BY _commit_version, _change_type""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary FROM customer),
           |ch1 AS (
           |  SELECT 1 AS _commit_version, 'insert' AS _change_type, id, salary
           |  FROM base),
           |upd AS (SELECT id, salary FROM base WHERE id % 3 = 0),
           |ch2 AS (
           |  SELECT 2 AS _commit_version, 'update_preimage' AS _change_type,
           |         id, salary FROM upd
           |  UNION ALL
           |  SELECT 2, 'update_postimage', id, salary + 7 FROM upd),
           |st2 AS (
           |  SELECT id,
           |    CASE WHEN id % 3 = 0 THEN salary + 7 ELSE salary END AS salary
           |  FROM base),
           |ch3 AS (
           |  SELECT 3 AS _commit_version, 'delete' AS _change_type, id, salary
           |  FROM st2 WHERE id % 10 = 1),
           |feed AS (
           |  SELECT * FROM ch1 UNION ALL SELECT * FROM ch2
           |  UNION ALL SELECT * FROM ch3)
           |SELECT CAST(_commit_version AS BIGINT) AS _commit_version,
           |  _change_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(id) AS BIGINT) AS id_sum,
           |  CAST(sum(salary) AS BIGINT) AS sal_sum
           |FROM feed
           |GROUP BY _commit_version, _change_type
           |ORDER BY _commit_version, _change_type""".stripMargin
      }),

    // Q90 [extension: schema evolution DDL] `ALTER TABLE ADD COLUMN` and
    // `RENAME COLUMN` as METADATA-ONLY commits: SnapshotStore.alterSchema
    // hard-links the base snapshot's parquet files into the new version's
    // dir and pins the evolved schema in its snapshot record — zero data
    // rewrite (at 100 TB a column change that rewrites the table is a
    // non-starter; on an object store the link is a manifest
    // re-reference). Old rows null-fill at read via standard parquet
    // schema-evolution; a RENAME additionally records a name-mapping
    // sidecar so reads resolve the old PHYSICAL name (`coalesce` chain —
    // the Delta column-mapping / Iceberg field-id trick by name). The
    // post-rename INSERT makes the snapshot dir MIX files carrying `bal`
    // (pre-rename links) and `balance` (fresh) — the load-bearing case.
    // Time travel BEFORE each ALTER still serves that version's own
    // schema (require()d in-build).
    "q90_schema_evolution" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q90")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        graft.GraftExtensions.install(s)
        s.sql("CREATE TABLE graft.q90ev (id BIGINT, bal BIGINT)")
        Tables.customer(s, d).createOrReplaceTempView("q90_cust")
        Tables.supplier(s, d).createOrReplaceTempView("q90_supp")
        s.sql( // v1
          s"""INSERT INTO graft.q90ev
             |SELECT c_custkey, ${graft.Canon.centsSql("c_acctbal")}
             |FROM q90_cust""".stripMargin)
        s.sql("ALTER TABLE graft.q90ev ADD COLUMN seg STRING") // v2: links only
        s.sql( // v3: rows born under the evolved schema
          s"""INSERT INTO graft.q90ev
             |SELECT s_suppkey + 1000000000000, ${graft.Canon.centsSql("s_acctbal")},
             |       'SUPP'
             |FROM q90_supp""".stripMargin)
        // time travel across the ALTER boundary serves each version's OWN
        // schema — and the ALTER version moved pointers, not data
        require(!s.sql("SELECT * FROM graft.q90ev VERSION AS OF 1")
          .columns.contains("seg"), "v1 must predate the seg column")
        require(s.sql("SELECT * FROM graft.q90ev VERSION AS OF 2")
          .columns.contains("seg"), "v2 must carry the evolved schema")
        s.sql("ALTER TABLE graft.q90ev RENAME COLUMN bal TO balance") // v4
        s.sql( // v5: fresh files under the NEW name, links under the old
          s"""INSERT INTO graft.q90ev
             |SELECT s_suppkey + 2000000000000, ${graft.Canon.centsSql("s_acctbal")},
             |       'SUPP2'
             |FROM q90_supp""".stripMargin)
        require(s.sql("SELECT * FROM graft.q90ev VERSION AS OF 3")
          .columns.toSeq.contains("bal"), "v3 must still serve the old name")
        require(s.sql("SELECT balance FROM graft.q90ev VERSION AS OF 4")
          .count() > 0, "v4 serves the renamed column over linked files")
        s.sql(
          """SELECT id, balance, coalesce(seg, 'LEGACY') AS seg
            |FROM graft.q90ev ORDER BY id""".stripMargin)
      },
      oracle = Some(
        s"""WITH ev AS (
           |  SELECT c_custkey AS id, ${graft.Canon.centsSql("c_acctbal")} AS balance,
           |         NULL AS seg
           |  FROM customer
           |  UNION ALL
           |  SELECT s_suppkey + 1000000000000, ${graft.Canon.centsSql("s_acctbal")},
           |         'SUPP'
           |  FROM supplier
           |  UNION ALL
           |  SELECT s_suppkey + 2000000000000, ${graft.Canon.centsSql("s_acctbal")},
           |         'SUPP2'
           |  FROM supplier)
           |SELECT id, balance, coalesce(seg, 'LEGACY') AS seg
           |FROM ev ORDER BY id""".stripMargin)),

    // Q90b [extension: ALTER COLUMN TYPE widening] int→bigint and
    // float→double as METADATA-ONLY commits: Spark 4's parquet reader
    // serves narrow stored values through the widened requested schema
    // (the Delta type-widening feature shape), so the ALTER hard-links
    // every file and the post-ALTER INSERT makes the snapshot dir MIX
    // narrow-era and wide-era files — both read through one scan with the
    // pinned wide schema. Narrowing refuses (silent truncation); time
    // travel before the ALTER serves the narrow types (require()d).
    "q90b_type_widening" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q90b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        graft.GraftExtensions.install(s)
        // a CDC table: the widen must not fork the feed — changes() reads
        // every frame under the head (wide) type, upcasting narrow ones
        s.sql("CREATE TABLE graft.q90w (id BIGINT, cnt INT, ratio FLOAT) " +
          "TBLPROPERTIES ('cdc.keys' = 'id')")
        Tables.customer(s, d).createOrReplaceTempView("q90b_cust")
        Tables.supplier(s, d).createOrReplaceTempView("q90b_supp")
        s.sql( // v1: narrow-era files
          """INSERT INTO graft.q90w
            |SELECT c_custkey, CAST(c_nationkey AS INT),
            |       CAST(c_nationkey AS FLOAT) / 25.0
            |FROM q90b_cust""".stripMargin)
        s.sql("ALTER TABLE graft.q90w ALTER COLUMN cnt TYPE BIGINT") // v2
        s.sql("ALTER TABLE graft.q90w ALTER COLUMN ratio TYPE DOUBLE") // v3
        s.sql( // v4: wide-era files in the same dir
          """INSERT INTO graft.q90w
            |SELECT s_suppkey + 1000000000000, CAST(s_nationkey AS BIGINT) + 100,
            |       CAST(CAST(s_nationkey AS FLOAT) / 25.0 AS DOUBLE) + 10.0
            |FROM q90b_supp""".stripMargin)
        // time travel across the ALTER boundary serves the narrow types
        require(s.sql("SELECT * FROM graft.q90w VERSION AS OF 1")
          .schema("cnt").dataType.simpleString == "int",
          "v1 must serve the narrow type")
        require(s.sql("SELECT * FROM graft.q90w VERSION AS OF 3")
          .schema("ratio").dataType.simpleString == "double",
          "v3 must serve the widened type over linked files")
        // narrowing refuses
        val e = scala.util.Try(
          s.sql("ALTER TABLE graft.q90w ALTER COLUMN cnt TYPE INT"))
        require(e.isFailure, "narrowing must refuse")
        // post-widen DML on the CDC table: the feed spans narrow-era
        // insert frames (v1), the ALTERs' empty frames, wide-era inserts
        // (v4) and wide update pre/postimages (v5) — ONE unified shape
        s.sql("UPDATE graft.q90w SET cnt = cnt + 1000000000000 " +
          "WHERE id % 100 = 0") // a delta only BIGINT can hold
        s.sql(
          """SELECT id, cnt, CAST(round(ratio * 1000) AS BIGINT) AS ratio_mils,
            |       _change_type, _commit_version
            |FROM table_changes('graft.q90w', 1, 5)
            |ORDER BY _commit_version, _change_type, id""".stripMargin)
      },
      oracle = Some(
        """WITH narrow AS (
          |  SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS cnt,
          |         CAST(CAST(c_nationkey AS FLOAT) AS DOUBLE) / 25.0 AS ratio
          |  FROM customer),
          |wide AS (
          |  SELECT s_suppkey + 1000000000000 AS id,
          |         CAST(s_nationkey AS BIGINT) + 100 AS cnt,
          |         CAST(CAST(CAST(s_nationkey AS FLOAT) / 25.0 AS FLOAT)
          |           AS DOUBLE) + 10.0 AS ratio
          |  FROM supplier),
          |ev AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide),
          |feed AS (
          |  SELECT *, 'insert' AS _change_type, 1 AS _commit_version
          |  FROM narrow
          |  UNION ALL
          |  SELECT *, 'insert', 4 FROM wide
          |  UNION ALL
          |  SELECT *, 'update_preimage', 5 FROM ev WHERE id % 100 = 0
          |  UNION ALL
          |  SELECT id, cnt + 1000000000000, ratio, 'update_postimage', 5
          |  FROM ev WHERE id % 100 = 0)
          |SELECT id, cnt, CAST(round(ratio * 1000) AS BIGINT) AS ratio_mils,
          |       _change_type, CAST(_commit_version AS BIGINT) AS _commit_version
          |FROM feed
          |ORDER BY _commit_version, _change_type, id""".stripMargin)),

    // Q90c [extension: NESTED schema evolution] ADD/DROP a field INSIDE a
    // struct column — ubiquitous for `props`-style payload columns — as
    // the same metadata-only commit as top-level ALTERs: the parquet
    // reader clips each file's stored struct against the pinned schema,
    // so pre-ADD rows null-fill the new field and post-DROP reads project
    // the dead one away, across a dir that MIXES struct eras. RENAMEs run
    // at TWO depths (props.cust and props.meta.qty — the dotted chains
    // compose across sibling subtrees and the read rebuilds every
    // enclosing struct recursively). The final projection flattens the
    // struct so DuckDB pins values without any struct SQL.
    "q90c_nested_evolution" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q90c")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        Tables.orders(s, d).createOrReplaceTempView("q90c_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql("CREATE TABLE graft.q90ct (id BIGINT, " +
          "props STRUCT<cust: BIGINT, prio: STRING, " +
          "meta: STRUCT<src: STRING, qty: BIGINT>>)")
        s.sql(
          """INSERT INTO graft.q90ct
            |SELECT o_orderkey, named_struct('cust', o_custkey,
            |  'prio', o_orderpriority,
            |  'meta', named_struct('src', 'web', 'qty', o_orderkey % 7))
            |FROM q90c_ord WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("ALTER TABLE graft.q90ct ADD COLUMN props.price_c BIGINT") // v2
        s.sql(
          s"""INSERT INTO graft.q90ct
             |SELECT o_orderkey, named_struct('cust', o_custkey,
             |  'prio', o_orderpriority,
             |  'meta', named_struct('src', 'api', 'qty', o_orderkey % 7),
             |  'price_c', $cents)
             |FROM q90c_ord WHERE o_orderkey % 2 = 1""".stripMargin)
        s.sql("ALTER TABLE graft.q90ct DROP COLUMN props.prio") // v4
        // NESTED RENAME chained onto the add/drop history: files of BOTH
        // prior eras still store `cust`; the dotted chain resolves them
        // under `buyer` while post-rename files are born with it
        s.sql("ALTER TABLE graft.q90ct RENAME COLUMN props.cust TO buyer") // v5
        // DEEP rename, one struct level further down — its chain lives in
        // a SIBLING subtree of props.buyer's and both resolve in one read
        s.sql(
          "ALTER TABLE graft.q90ct RENAME COLUMN props.meta.qty TO quantity")
        s.sql(
          s"""INSERT INTO graft.q90ct
             |SELECT o_orderkey + 10000000, named_struct('buyer',
             |  o_custkey + 7,
             |  'meta', named_struct('src', 'bulk',
             |    'quantity', (o_orderkey + 3) % 7),
             |  'price_c', $cents)
             |FROM q90c_ord WHERE o_orderkey % 4 = 0""".stripMargin)
        // era-mixed read through the evolved shape, flattened for the pin
        s.sql(
          """SELECT id, props.buyer AS cust,
            |       coalesce(props.price_c, -1) AS price_c,
            |       props.meta.src AS src, props.meta.quantity AS qty
            |FROM graft.q90ct ORDER BY id""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT * FROM (
           |  SELECT o_orderkey AS id, o_custkey AS cust,
           |         CASE WHEN o_orderkey % 2 = 1 THEN $cents
           |              ELSE -1 END AS price_c,
           |         CASE WHEN o_orderkey % 2 = 1 THEN 'api'
           |              ELSE 'web' END AS src,
           |         o_orderkey % 7 AS qty
           |  FROM orders
           |  UNION ALL
           |  SELECT o_orderkey + 10000000, o_custkey + 7, $cents,
           |         'bulk', (o_orderkey + 3) % 7
           |  FROM orders WHERE o_orderkey % 4 = 0)
           |ORDER BY id""".stripMargin
      }),

    // Q91 [extension: the FULL reference topology as one pipeline] The
    // closure gate: generator → HTTP POST (Random/main.go) → DSv2 ingest
    // source (S7, durable-ack WAL) → reject side channel (§2.11,
    // malformed bodies land in a reject table instead of a dropped 400) →
    // drift decode (unknown fields dropped, missing fields Go-zero-filled,
    // SURVEY §1.3) → exactly-once streaming MERGE into a CDC-enabled
    // SnapshotStore table (Server/main.go's store, upgraded from
    // MySQL-latest-state to versioned commits) → change feed → APPLY
    // CHANGES replica. RESTART-SPANNING: both streaming queries run twice
    // over the same checkpoints — run 1 ingests the initial employee
    // inserts and syncs the replica; run 2 (a genuine restart: fresh query,
    // same offsets/WAL/txn stamps) ingests drifted late-joiner inserts plus
    // keyed salary updates and incrementally re-syncs. The oracle replays
    // the whole topology as CTE algebra over `customer`; the gate's output
    // is the REPLICA (two exactly-once hops away from the wire bytes) plus
    // the reject count.
    //
    // Bounded by construction: posts cap at id<=600 (~600 rows/phase — the
    // driver-side collect is the test HARNESS generator, standing in for
    // the reference's external producer; the engine-side DAG never
    // collects). Admission control (maxRowsPerTrigger=256) forces each run
    // to drain over several micro-batches, so the txn-stamp replay
    // protection is exercised across batch boundaries, not just once.
    "q91_e2e_pipeline" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        import graft.streaming.{CdcApplySink, HttpIngestSource, IdempotentSink, RejectChannel, SnapshotMergeSink}
        import org.apache.spark.sql.streaming.Trigger
        import org.apache.spark.sql.types._
        val port = 8653
        val store = graft.GateTmp.freshDir("q91_store")
        val replica = graft.GateTmp.freshDir("q91_rep")
        val cpIngest = graft.GateTmp.freshDir("q91_cp_ingest")
        val cpRep = graft.GateTmp.freshDir("q91_cp_rep")
        val rejectTable = "q91_rejects"
        s.sql(s"DROP TABLE IF EXISTS $rejectTable")
        // also wipe the managed location itself: a crashed previous JVM
        // leaves the dir without the (in-memory) catalog entry, and
        // saveAsTable refuses to create over an existing location
        graft.GateTmp.wipe(java.nio.file.Paths.get(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
            .getPath, rejectTable).toString)
        HttpIngestSource.purge(port); HttpIngestSource.stateFor(port)
        val wire = StructType(Seq(StructField("id", LongType),
          StructField("name", StringType), StructField("salary", LongType),
          StructField("segment", StringType)))
        val emp = RelationalPipeline.employeeView(s, d)
          .select($("id"), $("name"), $("salary"), $("segment"))
          .filter($("id") <= 600)
        SnapshotStore.init(s, store, emp.limit(0), cdcKeys = Seq("id"))
        SnapshotStore.init(s, replica, emp.limit(0))
        def timed[T](what: String)(f: => T): T = {
          val t0 = System.nanoTime(); val r = f
          logger.debug(f"[q91] $what ${(System.nanoTime() - t0) / 1e9}%.2fs")
          r
        }
        val http = java.net.http.HttpClient.newHttpClient()
        def post(body: String): Unit = {
          val r = http.send(java.net.http.HttpRequest
            .newBuilder(java.net.URI.create(s"http://localhost:$port/ingest"))
            .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          require(r.statusCode() == 200, s"ingest ack ${r.statusCode()}")
        }
        // the generator posts concurrently (measured >1000/s vs ~20/s
        // serial — per-connection latency overlaps; within a phase keys are
        // unique so arrival order is irrelevant)
        def postAll(bodies: Seq[String]): Unit = {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(24)
          try bodies.map(b => pool.submit(new Runnable {
            def run(): Unit = post(b) })).foreach(_.get())
          finally pool.shutdown()
        }
        def bodiesOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)))
            .collect().map(_.getString(0)).toSeq
        def runIngest(): Unit = {
          val q = s.readStream.format("graft.streaming.HttpIngestSource")
            .option("port", port.toString)
            .option("maxRowsPerTrigger", "256").load()
            .writeStream.option("checkpointLocation", cpIngest)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
              val (good, bad) = RejectChannel.split(batch, wire)
              SnapshotMergeSink.upsertBatch(store, "id", "q91-ingest")(
                good.select("id", "name", "salary", "segment"), batchId)
              // ingest_ts is wall-clock — audit payload, not oracle surface
              IdempotentSink.appendOnce(
                bad.select("raw", "reason"), batchId, rejectTable)
            }.start()
          q.awaitTermination()
        }
        def runReplicate(): Unit = {
          val q = s.readStream.format("graft.streaming.ChangeFeedSource")
            .option("path", store).load()
            .writeStream
            .foreachBatch(CdcApplySink.applyBatch(replica, "id", "q91-replicator") _)
            .option("checkpointLocation", cpRep)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // ---- run 1: initial load + malformed bodies
        val phaseA = timed("bodiesA")(bodiesOf(emp.filter($("id") % 5 =!= 2)))
        timed("postA")(postAll(phaseA))
        Seq("{oops", "not json at all", "{\"id\": }").foreach(post)
        timed("ingest1")(runIngest()); timed("replicate1")(runReplicate())
        require(SnapshotStore.read(s, replica).count() == phaseA.size,
          "replica must hold exactly the phase-A inserts after run 1")
        // ---- run 2 (restart): drifted late joiners + keyed updates
        // drift: 'extra' is unknown on the wire schema (dropped), 'segment'
        // is missing (Go zero-value "" on decode)
        postAll(bodiesOf(emp.filter($("id") % 5 === 2)
          .select($("id"), $("name"), $("salary"), lit(1L).as("extra"))))
        postAll(bodiesOf(emp.filter($("id") % 5 =!= 2 && $("segment") === "BUILDING")
          .select($("id"), $("name"), ($("salary") + 777L).as("salary"),
            $("segment"))))
        timed("ingest2")(runIngest()); timed("replicate2")(runReplicate())
        // stop the listener: its dispatcher thread is non-daemon and would
        // keep a batch driver (Verify/Bench) alive after main returns
        HttpIngestSource.purge(port)
        val nRejects = s.table(rejectTable).count()
        SnapshotStore.read(s, replica)
          .withColumn("n_rejects", lit(nRejects))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_name AS name, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer WHERE c_custkey <= 600),
           |a AS (SELECT * FROM base WHERE id % 5 <> 2),
           |b1 AS (SELECT id, name, salary, '' AS segment
           |       FROM base WHERE id % 5 = 2),
           |upd AS (SELECT id, name, salary + 777 AS salary, segment
           |        FROM a WHERE segment = 'BUILDING'),
           |fin AS (
           |  SELECT * FROM a WHERE segment <> 'BUILDING'
           |  UNION ALL SELECT * FROM upd
           |  UNION ALL SELECT * FROM b1)
           |SELECT id, name, salary, segment, CAST(3 AS BIGINT) AS n_rejects
           |FROM fin ORDER BY id""".stripMargin
      }),

    // Q92 [extension: RESTORE / rollback] Roll a table back to an earlier
    // version as a NEW commit — `CALL graft.system.restore('t', v)`, the
    // Delta RESTORE semantics. METADATA-ONLY: the target version's parquet
    // files are hard-linked into the new version's dir (require()d
    // in-build: identical file names, zero data rewrite — the property
    // that makes "undo the bad batch" O(files) at 100 TB), history stays
    // linear (v4 = restore, v3 = the undone DELETE still readable), and on
    // this CDC table the restore commit emits the keyed diff head→restored
    // so feeds/replicas converge: table_changes at the restore version is
    // exactly the deleted rows coming back as `insert`s, which the gate
    // folds into the oracle surface alongside the restored content.
    "q92_restore" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q92")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql( // v0: empty CDC table
          """CREATE TABLE graft.q92t (id BIGINT, salary BIGINT, segment STRING)
            |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q92_src")
        s.sql("INSERT INTO graft.q92t SELECT id, salary, segment FROM q92_src") // v1
        val t = Map("t" -> s"$wh/q92t")
        graft.sources.SqlDml.execute(s,
          "UPDATE t SET salary = salary + 250 WHERE segment = 'MACHINERY'", t) // v2
        graft.sources.SqlDml.execute(s, "DELETE FROM t WHERE id % 7 = 0", t) // v3
        s.sql("CALL graft.system.restore('q92t', 2)") // v4: undo the DELETE
        // metadata-only proof: v4's parquet files ARE v2's (hard links)
        def files(v: Long) = {
          val dir = java.nio.file.Paths.get(
            graft.sources.SnapshotStore.at(s"$wh/q92t", v).dataDir)
          val st = java.nio.file.Files.list(dir)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(".parquet")).toSet
          } finally st.close()
        }
        require(files(4) == files(2),
          "restore must hard-link the target version's files, not rewrite")
        s.sql(
          """SELECT t.id, t.salary, t.segment, c.n_undeleted
            |FROM graft.q92t t
            |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_undeleted
            |            FROM table_changes('q92t', 4, 4)
            |            WHERE _change_type = 'insert') c
            |ORDER BY t.id""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v2 AS (
           |  SELECT id,
           |    CASE WHEN segment = 'MACHINERY' THEN salary + 250 ELSE salary
           |    END AS salary, segment
           |  FROM base)
           |SELECT v2.id, v2.salary, v2.segment,
           |  (SELECT CAST(count(*) AS BIGINT) FROM v2 WHERE id % 7 = 0)
           |    AS n_undeleted
           |FROM v2 ORDER BY v2.id""".stripMargin
      }),

    // Q93 [extension: partitioned tables] `CREATE TABLE … PARTITIONED BY`
    // onto the snapshot store: every committed snapshot lays its files out
    // hive-style (`segment=X/` dirs), so a partition predicate prunes
    // whole DIRECTORIES at planning time — the coarse-grained complement
    // to q74/manifest file skipping and the first-order scan lever at
    // 100 TB (a day-partitioned event table answers a one-day query by
    // listing one directory). The gate require()s the physical claims:
    // planned files for one segment live under exactly that partition dir
    // and number strictly fewer than the full scan's. The schema pinned in
    // the snapshot record keeps partition values on their committed types
    // (a BIGINT partition must not come back as an inferred INT), and DML
    // rewrites preserve the layout because staging is partition-aware.
    "q93_partitioned" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q93")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql(
          """CREATE TABLE graft.q93t (id BIGINT, salary BIGINT, segment STRING)
            |PARTITIONED BY (segment)""".stripMargin)
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q93_src")
        s.sql("INSERT INTO graft.q93t SELECT id, salary, segment FROM q93_src")
        graft.sources.SqlDml.execute(s, // v2: rewrite keeps the layout
          "UPDATE graft.q93t SET salary = salary + 40 WHERE segment = 'FURNITURE'")
        def planned(sql: String): Seq[String] =
          s.sql(sql).queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.toBatch.planInputPartitions().toSeq.flatMap {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.map(_.filePath.toString).toSeq
                case _ => Nil
              }
          }.flatten
        val all = planned("SELECT * FROM graft.q93t")
        val one = planned("SELECT * FROM graft.q93t WHERE segment = 'BUILDING'")
        require(one.nonEmpty && one.size < all.size,
          s"partition predicate must prune files (${one.size}/${all.size})")
        require(one.forall(_.contains("segment=BUILDING")),
          "only the matching partition's files may be planned")
        s.sql(
          """SELECT segment, CAST(count(*) AS BIGINT) AS n,
            |  CAST(sum(salary) AS BIGINT) AS sal
            |FROM graft.q93t
            |WHERE segment IN ('BUILDING', 'FURNITURE')
            |GROUP BY segment ORDER BY segment""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id,
           |    CASE WHEN c_mktsegment = 'FURNITURE' THEN $cents + 40
           |         ELSE $cents END AS salary,
           |    c_mktsegment AS segment
           |  FROM customer)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(salary) AS BIGINT) AS sal
           |FROM base WHERE segment IN ('BUILDING', 'FURNITURE')
           |GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q94 [extension: streaming sink surface] `writeStream.format(
    // "graft.streaming.SnapshotSink")` — micro-batches land in a snapshot
    // table as txn-stamped optimistic commits (the exactly-once recipe
    // without foreachBatch boilerplate), here in `mode=upsert`: phase 1
    // streams the initial employees, phase 2 RESTARTS the query over the
    // same checkpoint and streams keyed salary updates for one segment —
    // per-key replace through the anti-join MERGE shape. The history
    // length rides along as a column (v0 init + exactly one commit per
    // non-empty batch — replays would inflate it; the oracle pins 3). The
    // driver-side collect feeding MemoryStream is the test HARNESS
    // generator (bounded: id<=2000), standing in for a real upstream.
    "q94_stream_sink" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.streaming.Trigger
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val root = graft.GateTmp.freshDir("q94_t")
        val cp = graft.GateTmp.freshDir("q94_cp")
        val emp = RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment")).filter($("id") <= 2000)
        SnapshotStore.init(s, root, emp.limit(0))
        val mem = MemoryStream[(Long, Long, String)]
        def runOnce(): Unit = {
          val q = mem.toDF().toDF("id", "salary", "segment").writeStream
            .format("graft.streaming.SnapshotSink")
            .option("path", root).option("txnAppId", "q94-writer")
            .option("mode", "upsert").option("key", "id")
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        def rowsOf(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
        mem.addData(rowsOf(emp): _*)
        runOnce()
        mem.addData(rowsOf(emp.filter($("segment") === "BUILDING")
          .select($("id"), ($("salary") + 333L).as("salary"), $("segment"))): _*)
        runOnce() // a genuine restart: fresh query, same checkpoint + stamps
        val nCommits = SnapshotStore.history(s, root).count()
        SnapshotStore.read(s, root)
          .withColumn("n_commits", lit(nCommits))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id,
           |    CASE WHEN c_mktsegment = 'BUILDING' THEN $cents + 333
           |         ELSE $cents END AS salary,
           |    c_mktsegment AS segment
           |  FROM customer WHERE c_custkey <= 2000)
           |SELECT id, salary, segment, CAST(3 AS BIGINT) AS n_commits
           |FROM base ORDER BY id""".stripMargin
      }),

    // Q94b [extension: streaming sink × hidden partitioning] Micro-batch
    // ingest INTO a `days(ts)`-partitioned table: every batch's commit
    // derives the generated partition column on write (the pinned-schema
    // metadata path — commit 2+ is the regression surface: the read-back
    // frame strips field metadata) and the landed layout is live
    // immediately — a ts-range read plans only matching `ts_day=` dirs,
    // plan-audited. The exactly-once stamps carry as in q94 (v0 init +
    // one commit per non-empty batch, pinned in the output).
    "q94b_stream_hidden_partition" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.streaming.Trigger
        graft.GraftExtensions.install(s)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val wh = graft.GateTmp.freshDir("q94b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql(
          """CREATE TABLE graft.q94bt (id BIGINT, ts TIMESTAMP, v BIGINT)
            |PARTITIONED BY (days(ts))""".stripMargin)
        val root = s"$wh/q94bt"
        val cp = graft.GateTmp.freshDir("q94b_cp")
        Tables.orders(s, d).createOrReplaceTempView("q94b_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        val src = s.sql(
          s"""SELECT o_orderkey AS id,
             |  CAST(o_orderdate AS TIMESTAMP)
             |    + make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT)) AS ts,
             |  $cents AS v
             |FROM q94b_ord WHERE o_orderkey <= 100000
             |  AND o_orderdate >= DATE '1995-01-01'
             |  AND o_orderdate < DATE '1995-07-01'""".stripMargin)
        val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
        def runOnce(): Unit = {
          val q = mem.toDF().toDF("id", "ts", "v").writeStream
            .format("graft.streaming.SnapshotSink")
            .option("path", root).option("txnAppId", "q94b-writer")
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSeq
        mem.addData(rowsOf(src.filter($("id") % 2 === 0)): _*)
        runOnce() // batch 1: the empty table's first partitioned commit
        mem.addData(rowsOf(src.filter($("id") % 2 === 1)): _*)
        runOnce() // batch 2: derivation from PINNED metadata on a live layout
        // plan lock: the landed hidden layout prunes a ts-range read
        def planned(sql: String): Seq[String] =
          s.sql(sql).queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.toBatch.planInputPartitions().toSeq.flatMap {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.map(_.filePath.toString).toSeq
                case _ => Nil
              }
          }.flatten
        val all = planned("SELECT v FROM graft.q94bt")
        val ranged = planned("SELECT v FROM graft.q94bt WHERE " +
          "ts >= timestamp'1995-06-01 00:00:00' AND " +
          "ts < timestamp'1995-07-01 00:00:00'")
        require(ranged.nonEmpty && ranged.size < all.size,
          s"derived pruning under streaming commits: ${ranged.size}/${all.size}")
        require(ranged.forall(_.contains("ts_day=1995-06")),
          s"kept files must sit in June's day dirs: ${ranged.take(3)}")
        val nCommits = SnapshotStore.history(s, root).count()
        s.sql(
          """SELECT date_format(ts, 'yyyy-MM-dd') AS day,
            |  CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv
            |FROM graft.q94bt
            |WHERE ts >= timestamp'1995-06-01 00:00:00'
            |  AND ts < timestamp'1995-07-01 00:00:00'
            |GROUP BY date_format(ts, 'yyyy-MM-dd')""".stripMargin)
          .withColumn("n_commits", lit(nCommits))
          .orderBy($("day"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS id,
           |         CAST(o_orderdate AS TIMESTAMP)
           |           + INTERVAL 1 HOUR * (o_orderkey % 24) AS ts,
           |         $cents AS v
           |  FROM orders WHERE o_orderkey <= 100000
           |    AND o_orderdate >= DATE '1995-01-01'
           |    AND o_orderdate < DATE '1995-07-01')
           |SELECT strftime(ts, '%Y-%m-%d') AS day,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv,
           |  CAST(3 AS BIGINT) AS n_commits
           |FROM base
           |WHERE ts >= TIMESTAMP '1995-06-01 00:00:00'
           |  AND ts < TIMESTAMP '1995-07-01 00:00:00'
           |GROUP BY 1 ORDER BY day""".stripMargin
      }),

    // Q95 [extension: incremental materialized view] A per-segment
    // count/sum aggregate maintained from the CHANGE FEED, never the
    // table: refresh folds typed change rows (insert +, delete −, update
    // post−pre) into per-group deltas and merges them into the view with
    // one broadcast full-outer join — O(change volume) maintenance, which
    // is the whole point of CDC at 100 TB (updating 100 rows refreshes the
    // view by scanning 200 change rows). The gate UPDATEs one segment,
    // DELETEs a key slice, INSERTs late joiners, refreshes, and
    // require()s the physical claim: the delta's scan reads ONLY
    // `_changes/` files. Refresh commits carry (appId, srcVersion) stamps,
    // so the second refresh() call in-build is a stamped no-op (version
    // count pinned in the output). Exact integer sums (Canon) keep the
    // add/subtract replay bit-stable.
    "q95_incremental_mv" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        val src = graft.GateTmp.freshDir("q95_src")
        val mv = graft.GateTmp.freshDir("q95_mv")
        val base = RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
        SnapshotStore.init(s, src, base, cdcKeys = Seq("id"))
        MatView.create(s, src, mv, Seq("segment"), "salary")
        val t = Map("emp" -> src)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE segment = 'AUTOMOBILE'", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", t)
        Tables.supplier(s, d)
          .select(($("s_suppkey") + 2000000000000L).as("id"),
            graft.Canon.cents($("s_acctbal")).as("salary"),
            lit("SUPPLIER").as("segment"))
          .createOrReplaceTempView("q95_new")
        SqlDml.execute(s, "INSERT INTO emp SELECT id, salary, segment FROM q95_new", t)
        // physical claim: the refresh delta scans change files ONLY
        val cur = SnapshotStore.latest(src).version
        val probe = MatView.deltaOf(
          SnapshotStore.changes(s, src, 2, cur), Seq("segment"), "salary")
        val scanned = probe.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.toSeq
              case _ => Nil
            }
        }.flatten
        require(scanned.nonEmpty && scanned.forall(_.contains("/_changes/")),
          s"MV refresh must scan change files only, got ${scanned.take(3)}")
        MatView.refresh(s, src, mv, Seq("segment"), "salary")
        MatView.refresh(s, src, mv, Seq("segment"), "salary") // stamped no-op
        val nVersions = SnapshotStore.history(s, mv).count()
        SnapshotStore.read(s, mv)
          .withColumn("n_mv_versions", lit(nVersions))
          .orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN segment = 'AUTOMOBILE' THEN salary + 100 ELSE salary
           |  END AS salary, segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |v3 AS (SELECT * FROM v2
           |  UNION ALL
           |  SELECT s_suppkey + 2000000000000, ${graft.Canon.centsSql("s_acctbal")},
           |         'SUPPLIER'
           |  FROM supplier)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(salary) AS BIGINT) AS val_cnt,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(3 AS BIGINT) AS n_mv_versions
           |FROM v3 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q95b [extension: incremental JOIN materialized view] The
    // enrichment-view shape (fact ⋈ dim) maintained by PARTIAL recompute:
    // refresh collects the distinct join-key values in EITHER source's
    // change feed since the last refresh — update_preimage rows put a
    // join-KEY-changing UPDATE's old AND new key in the set, the case this
    // gate makes load-bearing by migrating a slice of employees to a
    // different segment — then replaces exactly those keys' view rows with
    // the join of both sources restricted to them (broadcast semi/anti:
    // the big tables and the view shuffle nothing). Both feeds' high-water
    // marks ride the SAME commit as atomic multi-app txn stamps, so the
    // doubled refresh is a stamped no-op (version count pinned). The
    // DuckDB oracle is the FULL recompute join after the same mixed DML on
    // both sides — hash equality is the partial≡full proof.
    "q95b_join_mv" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        import s.implicits._
        val emp = graft.GateTmp.freshDir("q95b_emp")
        val dim = graft.GateTmp.freshDir("q95b_dim")
        val mv = graft.GateTmp.freshDir("q95b_mv")
        SnapshotStore.init(s, emp,
          RelationalPipeline.employeeView(s, d)
            .select($("id"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        SnapshotStore.init(s, dim,
          Seq(("AUTOMOBILE", 10L), ("BUILDING", 20L), ("FURNITURE", 30L),
            ("HOUSEHOLD", 40L), ("MACHINERY", 50L))
            .toDF("segment", "bonus"),
          cdcKeys = Seq("segment"))
        MatView.createJoin(s, emp, dim, mv, Seq("segment"))
        val te = Map("emp" -> emp); val td = Map("dim" -> dim)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE id % 7 = 0", te)
        // the key-migration case: preimage carries the OLD segment
        SqlDml.execute(s,
          "UPDATE emp SET segment = 'MACHINERY' WHERE id % 31 = 0", te)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", te)
        Tables.supplier(s, d)
          .select(($("s_suppkey") + 2000000000000L).as("id"),
            graft.Canon.cents($("s_acctbal")).as("salary"),
            lit("SUPPLIER").as("segment"))
          .createOrReplaceTempView("q95b_new")
        SqlDml.execute(s, "INSERT INTO emp SELECT id, salary, segment FROM q95b_new", te)
        SqlDml.execute(s, "UPDATE dim SET bonus = bonus + 5 WHERE segment = 'BUILDING'", td)
        SqlDml.execute(s, "DELETE FROM dim WHERE segment = 'FURNITURE'", td)
        s.sql("SELECT 'SUPPLIER' AS segment, CAST(60 AS BIGINT) AS bonus")
          .createOrReplaceTempView("q95b_dnew")
        SqlDml.execute(s, "INSERT INTO dim SELECT segment, bonus FROM q95b_dnew", td)
        // physical claim: the touched-key set scans change files ONLY
        val probe = MatView.touchedKeys(s,
          Seq((emp, 0L, SnapshotStore.latest(emp).version),
            (dim, 0L, SnapshotStore.latest(dim).version)), Seq("segment"))
        val scanned = probe.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.inputFiles.toSeq
              case _ => Nil
            }
        }.flatten
        require(scanned.nonEmpty && scanned.forall(_.contains("/_changes/")),
          s"join-MV touched keys must scan change files only, got ${scanned.take(3)}")
        val vFirst = MatView.refreshJoin(s, emp, dim, mv, Seq("segment")).version
        val vAgain = MatView.refreshJoin(s, emp, dim, mv, Seq("segment")).version
        require(vAgain == vFirst,
          s"doubled refreshJoin must be a stamped no-op ($vFirst -> $vAgain)")
        val nVersions = SnapshotStore.history(s, mv).count()
        SnapshotStore.read(s, mv)
          .select($("segment"), $("id"), $("salary"), $("bonus"))
          .withColumn("n_mv_versions", lit(nVersions))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT id, salary,
           |  CASE WHEN id % 31 = 0 THEN 'MACHINERY' ELSE segment
           |  END AS segment FROM v1),
           |v3 AS (SELECT * FROM v2 WHERE NOT (id % 9 = 0)),
           |emp AS (SELECT * FROM v3
           |  UNION ALL
           |  SELECT s_suppkey + 2000000000000, ${graft.Canon.centsSql("s_acctbal")},
           |         'SUPPLIER'
           |  FROM supplier),
           |dim0 (segment, bonus) AS (VALUES
           |  ('AUTOMOBILE', 10), ('BUILDING', 20), ('FURNITURE', 30),
           |  ('HOUSEHOLD', 40), ('MACHINERY', 50)),
           |d1 AS (SELECT segment,
           |  CASE WHEN segment = 'BUILDING' THEN bonus + 5 ELSE bonus
           |  END AS bonus FROM dim0),
           |d2 AS (SELECT * FROM d1 WHERE segment <> 'FURNITURE'),
           |dim AS (SELECT * FROM d2 UNION ALL SELECT 'SUPPLIER', 60)
           |SELECT e.segment, e.id, e.salary, CAST(d.bonus AS BIGINT) AS bonus,
           |  CAST(3 AS BIGINT) AS n_mv_versions
           |FROM emp e JOIN dim d USING (segment)
           |ORDER BY e.id""".stripMargin
      }),

    // Q95c [extension: MV aggregate breadth] The same CDC-maintained view
    // as q95, now carrying min/max/avg alongside count/sum. min/max are
    // algebraic under inserts (a least/greatest fold of arriving values)
    // but NOT under deletes — a removed row may have carried the extremum —
    // so groups touched by any delete/update_preimage are recomputed from
    // the PINNED source version restricted to exactly those groups
    // (broadcast semi-join, O(touched groups)); this gate's DELETE and
    // UPDATE legs make that path load-bearing while the SUPPLIER INSERT
    // leg exercises the pure-algebra path. avg is derived from sum/count
    // in the commit's output projection — stored algebra could drift under
    // replay, a derivation cannot. Oracle: DuckDB full recompute.
    "q95c_mv_minmax" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        val src = graft.GateTmp.freshDir("q95c_src")
        val mv = graft.GateTmp.freshDir("q95c_mv")
        val aggs = Seq("count", "sum", "avg", "min", "max")
        SnapshotStore.init(s, src,
          RelationalPipeline.employeeView(s, d)
            .select($("id"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        MatView.create(s, src, mv, Seq("segment"), "salary", aggs)
        val t = Map("emp" -> src)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE segment = 'AUTOMOBILE'", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", t)
        Tables.supplier(s, d)
          .select(($("s_suppkey") + 2000000000000L).as("id"),
            graft.Canon.cents($("s_acctbal")).as("salary"),
            lit("SUPPLIER").as("segment"))
          .createOrReplaceTempView("q95c_new")
        SqlDml.execute(s, "INSERT INTO emp SELECT id, salary, segment FROM q95c_new", t)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs) // no-op
        val nVersions = SnapshotStore.history(s, mv).count()
        SnapshotStore.read(s, mv)
          .withColumn("n_mv_versions", lit(nVersions))
          .orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN segment = 'AUTOMOBILE' THEN salary + 100 ELSE salary
           |  END AS salary, segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |v3 AS (SELECT * FROM v2
           |  UNION ALL
           |  SELECT s_suppkey + 2000000000000, ${graft.Canon.centsSql("s_acctbal")},
           |         'SUPPLIER'
           |  FROM supplier)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(salary) AS BIGINT) AS val_cnt,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(min(salary) AS BIGINT) AS val_min,
           |  CAST(max(salary) AS BIGINT) AS val_max,
           |  CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(salary) AS DOUBLE) AS val_avg,
           |  CAST(3 AS BIGINT) AS n_mv_versions
           |FROM v3 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q95d [extension: AGGREGATED JOIN MV] The summary table — fact ⋈ dim
    // → GROUP BY → agg — by COMPOSITION: the join MV (q95b) now emits its
    // own change feed (delete+insert per touched key), and the aggregate
    // MV (q95/q95c) consumes it like any CDC source. End-to-end
    // maintenance stays O(change volume): mixed DML on BOTH sources
    // (value updates, a group-migrating key update, deletes, inserts)
    // flows feed → join-MV partial recompute → feed → agg-MV delta fold,
    // with min surviving deletes via the affected-group recompute against
    // the PINNED join view. Hash-pinned against DuckDB's direct
    // fact-join-dim GROUP BY on the same mutations.
    "q95d_join_agg_mv" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        import s.implicits._
        val emp = graft.GateTmp.freshDir("q95d_emp")
        val dim = graft.GateTmp.freshDir("q95d_dim")
        val jmv = graft.GateTmp.freshDir("q95d_jmv")
        val amv = graft.GateTmp.freshDir("q95d_amv")
        val aggs = Seq("count", "sum", "avg", "min")
        SnapshotStore.init(s, emp,
          RelationalPipeline.employeeView(s, d)
            .select($("id"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        SnapshotStore.init(s, dim,
          Seq(("AUTOMOBILE", 10L), ("BUILDING", 20L), ("FURNITURE", 30L),
            ("HOUSEHOLD", 40L), ("MACHINERY", 50L))
            .toDF("segment", "bonus"),
          cdcKeys = Seq("segment"))
        MatView.createJoin(s, emp, dim, jmv, Seq("segment"),
          emitChanges = true)
        MatView.create(s, jmv, amv, Seq("segment", "bonus"), "salary", aggs)
        val te = Map("emp" -> emp); val td = Map("dim" -> dim)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE id % 7 = 0", te)
        SqlDml.execute(s,
          "UPDATE emp SET segment = 'MACHINERY' WHERE id % 31 = 0", te)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", te)
        SqlDml.execute(s,
          "UPDATE dim SET bonus = bonus + 5 WHERE segment = 'BUILDING'", td)
        SqlDml.execute(s, "DELETE FROM dim WHERE segment = 'FURNITURE'", td)
        // advance the pipeline with ONE call: refreshAll walks the
        // recorded dependency DAG (sources → join view → aggregate view)
        // in topological order — no hand-ordered refresh chain
        MatView.refreshAll(s, amv)
        // second round on top (dim-side churn must cascade through both)
        SqlDml.execute(s,
          "UPDATE dim SET bonus = bonus + 1 WHERE segment = 'AUTOMOBILE'", td)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 11 = 0", te)
        MatView.refreshAll(s, amv)
        // replay: both layers are stamped no-ops
        val jv = SnapshotStore.latest(jmv).version
        val av = MatView.refreshAll(s, amv).version
        require(SnapshotStore.latest(jmv).version == jv &&
          MatView.refreshAll(s, amv).version == av,
          "a replayed refreshAll must be a no-op at every layer")
        SnapshotStore.read(s, amv)
          .select($("segment"), $("bonus"), $("n_rows"), $("val_sum"),
            $("val_min"), $("val_avg"))
          .orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT id, salary,
           |  CASE WHEN id % 31 = 0 THEN 'MACHINERY' ELSE segment
           |  END AS segment FROM v1),
           |emp AS (SELECT * FROM v2
           |  WHERE NOT (id % 9 = 0) AND NOT (id % 11 = 0)),
           |dim0 (segment, bonus) AS (VALUES
           |  ('AUTOMOBILE', 10), ('BUILDING', 20), ('FURNITURE', 30),
           |  ('HOUSEHOLD', 40), ('MACHINERY', 50)),
           |d1 AS (SELECT segment, CASE
           |  WHEN segment = 'BUILDING' THEN bonus + 5
           |  WHEN segment = 'AUTOMOBILE' THEN bonus + 1
           |  ELSE bonus END AS bonus FROM dim0),
           |dim AS (SELECT * FROM d1 WHERE segment <> 'FURNITURE')
           |SELECT e.segment, CAST(d.bonus AS BIGINT) AS bonus,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(e.salary) AS BIGINT) AS val_sum,
           |  CAST(min(e.salary) AS BIGINT) AS val_min,
           |  CAST(CAST(sum(e.salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS val_avg
           |FROM emp e JOIN dim d USING (segment)
           |GROUP BY e.segment, d.bonus
           |ORDER BY e.segment""".stripMargin
      }),

    // Q95e [extension: OUTER-JOIN MV] Left-outer enrichment view — fact
    // rows with no dim match ride NULL-extended, and maintenance must
    // FLIP them (to matched when the dim row arrives, back when it
    // leaves) through the same touched-key partial recompute. The gate
    // drives exactly those transitions: the dim starts MISSING two
    // segments, one arrives mid-stream, another is deleted. Hash-pinned
    // against DuckDB's LEFT JOIN on the same mutations.
    "q95e_outer_join_mv" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        import s.implicits._
        val emp = graft.GateTmp.freshDir("q95e_emp")
        val dim = graft.GateTmp.freshDir("q95e_dim")
        val mv = graft.GateTmp.freshDir("q95e_mv")
        SnapshotStore.init(s, emp,
          RelationalPipeline.employeeView(s, d)
            .select($("id"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        // HOUSEHOLD and FURNITURE deliberately absent: their fact rows
        // must surface null-extended from day one
        SnapshotStore.init(s, dim,
          Seq(("AUTOMOBILE", 10L), ("BUILDING", 20L), ("MACHINERY", 50L))
            .toDF("segment", "bonus"),
          cdcKeys = Seq("segment"))
        MatView.createJoin(s, emp, dim, mv, Seq("segment"),
          joinType = "left_outer")
        val te = Map("emp" -> emp); val td = Map("dim" -> dim)
        // the late-arriving dim row: HOUSEHOLD facts flip null → matched
        s.sql("SELECT 'HOUSEHOLD' AS segment, CAST(40 AS BIGINT) AS bonus")
          .createOrReplaceTempView("q95e_dnew")
        SqlDml.execute(s, "INSERT INTO dim SELECT segment, bonus FROM q95e_dnew", td)
        // the departing dim row: BUILDING facts flip matched → null
        SqlDml.execute(s, "DELETE FROM dim WHERE segment = 'BUILDING'", td)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE id % 7 = 0", te)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", te)
        MatView.refreshJoin(s, emp, dim, mv, Seq("segment"))
        SnapshotStore.read(s, mv)
          .select($("segment"), $("id"), $("salary"), $("bonus"))
          .orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |emp AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |dim (segment, bonus) AS (VALUES
           |  ('AUTOMOBILE', 10), ('MACHINERY', 50), ('HOUSEHOLD', 40))
           |SELECT e.segment, e.id, e.salary, CAST(d.bonus AS BIGINT) AS bonus
           |FROM emp e LEFT JOIN dim d USING (segment)
           |ORDER BY e.id""".stripMargin
      }),

    // Q95f [extension: MV aggregate breadth — stddev + count(distinct)]
    // stddev rides PURE integer algebra: the view stores Σv² as
    // DECIMAL(38,0) next to Σv/n and folds ±v² per change row (exact under
    // deletes, no recompute), deriving the sample stddev in the output
    // projection from the same formula DuckDB's oracle evaluates —
    // identical exact-integer operands through identical IEEE-754 ops.
    // count(distinct) is non-algebraic in BOTH directions (an arriving
    // value may duplicate, a leaving one may be a group's only copy), so
    // every touched group recomputes against the PINNED source — this
    // gate's DELETE leg removes only-copies (salary = floor(id/7)·100
    // makes most (segment, value) pairs singletons) and the INSERT leg
    // re-inserts EXISTING values under new keys, which must grow n_rows
    // without growing val_distinct. Oracle: DuckDB full recompute.
    "q95f_mv_stddev_distinct" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        val src = graft.GateTmp.freshDir("q95f_src")
        val mv = graft.GateTmp.freshDir("q95f_mv")
        val aggs = Seq("count", "sum", "avg", "stddev", "count_distinct")
        SnapshotStore.init(s, src,
          RelationalPipeline.employeeView(s, d)
            .select($("id"),
              (floor($("id") / lit(7)) * lit(100L)).as("salary"),
              $("segment")),
          cdcKeys = Seq("id"))
        MatView.create(s, src, mv, Seq("segment"), "salary", aggs)
        val t = Map("emp" -> src)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE id % 7 = 0", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", t)
        // duplicate EXISTING (segment, salary) pairs under fresh keys:
        // n_rows grows, val_distinct must not
        SnapshotStore.read(s, src).filter($("id") % 13 === 0)
          .select(($("id") + 3000000000000L).as("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q95f_dup")
        SqlDml.execute(s,
          "INSERT INTO emp SELECT id, salary, segment FROM q95f_dup", t)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs) // no-op
        SnapshotStore.read(s, mv)
          .select($("segment"), $("n_rows"), $("val_sum"), $("val_distinct"),
            $("val_avg"), $("val_stddev"))
          .orderBy($("segment"))
      },
      oracle = Some {
        s"""WITH base AS (
           |  SELECT c_custkey AS id,
           |         CAST(floor(c_custkey / 7) AS BIGINT) * 100 AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |emp AS (SELECT * FROM v2
           |  UNION ALL
           |  SELECT id + 3000000000000, salary, segment FROM v2 WHERE id % 13 = 0)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(count(DISTINCT salary) AS BIGINT) AS val_distinct,
           |  CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(*) AS DOUBLE) AS val_avg,
           |  CASE WHEN count(*) > 1 THEN sqrt(
           |    (CAST(sum(salary * salary) AS DOUBLE) -
           |     CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) *
           |     CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |       CAST(count(*) AS DOUBLE)) /
           |    (CAST(count(*) AS DOUBLE) - 1.0))
           |  ELSE NULL END AS val_stddev
           |FROM emp GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q95g [extension: MV aggregate breadth — quantiles] percentiles ride a
    // MERGEABLE log-bucket histogram column (`val_qsk`, the DDSketch shape:
    // map<bucket,int-count>, bucket = sign·(1+⌈log_γ|v|⌉)): counts are
    // exact integers, so unlike HLL the fold is invertible — deletes
    // DECREMENT the same buckets inserts incremented, no touched-group
    // recompute at all — and rank accuracy is exact, leaving only the ±α
    // value-bucketing error (α = 1%). The gate drives inserts that shift
    // the upper tail, row deletes, a GROUP-EMPTYING delete (the view row
    // must drop), and a replay no-op; it emits the EXACT discrete
    // quantiles (hash-pinned vs DuckDB quantile_disc — PERCENTILE_DISC's
    // rank ⌈q·n⌉ and DuckDB's ⌊q·(n−1)⌋+1 provably agree) plus bound
    // flags asserting the sketch estimates landed within 2%+1.
    "q95g_mv_quantile" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, SnapshotStore, SqlDml}
        val src = graft.GateTmp.freshDir("q95g_src")
        val mv = graft.GateTmp.freshDir("q95g_mv")
        val aggs = Seq("count", "sum", "approx_quantile")
        SnapshotStore.init(s, src,
          RelationalPipeline.employeeView(s, d)
            .select($("id"), $("salary"), $("segment")),
          cdcKeys = Seq("id"))
        MatView.create(s, src, mv, Seq("segment"), "salary", aggs)
        val t = Map("emp" -> src)
        SqlDml.execute(s,
          "UPDATE emp SET salary = salary + 100 WHERE id % 7 = 0", t)
        SqlDml.execute(s, "DELETE FROM emp WHERE id % 9 = 0", t)
        // group-emptying delete: every FURNITURE row leaves — the bucket
        // counts must cancel to an empty map and the view row must drop
        SqlDml.execute(s, "DELETE FROM emp WHERE segment = 'FURNITURE'", t)
        // new mass in the upper tail: p90 must move through the pure fold
        SnapshotStore.read(s, src).filter($("id") % 13 === 0)
          .select(($("id") + 3000000000000L).as("id"),
            ($("salary") + 500000L).as("salary"), $("segment"))
          .createOrReplaceTempView("q95g_new")
        SqlDml.execute(s,
          "INSERT INTO emp SELECT id, salary, segment FROM q95g_new", t)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs)
        MatView.refresh(s, src, mv, Seq("segment"), "salary", aggs) // no-op
        SnapshotStore.read(s, src).createOrReplaceTempView("q95g_final")
        val exact = s.sql(
          """SELECT segment,
            |  percentile_disc(0.5) WITHIN GROUP (ORDER BY salary) AS p50_exact,
            |  percentile_disc(0.9) WITHIN GROUP (ORDER BY salary) AS p90_exact
            |FROM q95g_final GROUP BY segment""".stripMargin)
        val bound: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
            org.apache.spark.sql.Column = (est, ex) =>
          abs(est - ex.cast("double")) <= abs(ex.cast("double")) * 0.02 + 1.0
        SnapshotStore.read(s, mv).join(exact, Seq("segment"))
          .select($("segment"), $("n_rows"), $("val_sum"),
            $("p50_exact").cast("long").as("p50_exact"),
            $("p90_exact").cast("long").as("p90_exact"),
            bound($("val_p50"), $("p50_exact")).as("p50_ok"),
            bound($("val_p90"), $("p90_exact")).as("p90_ok"))
          .orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |v3 AS (SELECT * FROM v2 WHERE segment <> 'FURNITURE'),
           |emp AS (SELECT * FROM v3
           |  UNION ALL
           |  SELECT id + 3000000000000, salary + 500000, segment
           |  FROM v3 WHERE id % 13 = 0)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(quantile_disc(salary, 0.5) AS BIGINT) AS p50_exact,
           |  CAST(quantile_disc(salary, 0.9) AS BIGINT) AS p90_exact,
           |  true AS p50_ok, true AS p90_ok
           |FROM emp GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q96 [extension: partitioned corpus × LLM pipeline] The training-data
    // warehouse shape: the documents corpus lives in a LANG-PARTITIONED
    // snapshot table, and a per-language pipeline stage (here word/char
    // stats, the q28 family) reads exactly ONE partition — require()d at
    // plan level: every planned file sits under `lang=en/` and counts
    // strictly fewer than the full corpus scan. At 100 TB this is how
    // language-specific stages (lang-id re-checks, per-lang dedup,
    // per-lang quality cuts) avoid touching the other languages' bytes
    // entirely; the same directory pruning that q93 proves for relational
    // data, exercised through the corpus path.
    "q96_partitioned_corpus" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        val root = graft.GateTmp.freshDir("q96_docs")
        SnapshotStore.init(s, root,
          Tables.documents(s, d).select($("doc_id"), $("text"), $("lang")),
          partitionBy = Seq("lang"))
        val docs = SnapshotStore.read(s, root)
        def planned(df: org.apache.spark.sql.DataFrame): Seq[String] = {
          import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
          import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
            case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
            case f: FileSourceScanExec => Seq(f)
            case other => other.children.flatMap(leaves)
          }
          leaves(df.queryExecution.executedPlan).flatMap(
            _.inputRDDs().head.partitions.toSeq.flatMap {
              case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                fp.files.map(_.filePath.toString).toSeq
              case _ => Nil
            })
        }
        val en = docs.filter($("lang") === "en")
        val prunedFiles = planned(en)
        require(prunedFiles.nonEmpty && prunedFiles.forall(_.contains("lang=en")),
          s"lang filter must prune to the lang=en dir, got ${prunedFiles.take(3)}")
        require(prunedFiles.size < planned(docs).size,
          "partition filter must plan fewer files than the full scan")
        en.select($("lang"), $("doc_id"),
            size(split($("text"), " ")).cast("long").as("n_words"),
            length($("text")).cast("long").as("n_chars"))
          .groupBy($("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum($("n_words")).as("total_words"),
            sum($("n_chars")).as("total_chars"))
          .orderBy($("lang"))
      },
      oracle = Some(
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
          |  CAST(sum(length(text)) AS BIGINT) AS total_chars
          |FROM documents WHERE lang = 'en'
          |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Q97 [extension: plain spark.sql DML] The same write statements q87
    // proves, but as BARE `spark.sql` text against a catalog table — no
    // SqlDml.execute call, no root map. Spark's planner refuses DML on
    // tables without the DSv2 row-level-operation API; GraftDmlStrategy
    // (extraStrategies run before the built-ins) intercepts the ANALYZED
    // Catalyst commands when the target is a graft table and compiles
    // them onto the store's optimistic transactions — so the user-facing
    // surface is byte-for-byte the SQL a Delta/Iceberg user types,
    // including a MERGE whose source is an inline SUBQUERY (only the
    // analyzed path can admit one). Every store invariant rides along:
    // statement-integrated CDC, version history, time-travel.
    "q97_sql_statements" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q97")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql(
          """CREATE TABLE graft.q97t (id BIGINT, salary BIGINT, segment STRING)
            |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q97_src")
        Tables.supplier(s, d).createOrReplaceTempView("q97_supp")
        s.sql("INSERT INTO graft.q97t SELECT id, salary, segment FROM q97_src") // v1
        s.sql( // v2: bare UPDATE through the planner strategy
          "UPDATE graft.q97t SET salary = salary + 500 WHERE segment = 'HOUSEHOLD'")
        s.sql("DELETE FROM graft.q97t WHERE id % 10 = 3") // v3
        s.sql( // v4: MERGE with an inline subquery source
          s"""MERGE INTO graft.q97t t
             |USING (SELECT s_suppkey AS sid,
             |         ${graft.Canon.centsSql("s_acctbal")} AS sal
             |       FROM q97_supp) s
             |ON t.id = s.sid
             |WHEN MATCHED THEN UPDATE SET salary = t.salary + s.sal
             |WHEN NOT MATCHED THEN INSERT (id, salary, segment)
             |  VALUES (s.sid + 4000000, s.sal, 'SUPP')
             |""".stripMargin)
        // partitioned CTAS through the DML router: hive layout born from
        // one SQL statement (identity transforms only); its per-segment
        // counts join back into the pinned output
        val proot = s"$wh/q97p_sqldml"
        graft.sources.SqlDml.execute(s,
          "CREATE TABLE p PARTITIONED BY (segment) AS " +
            "SELECT segment, count(*) AS seg_n FROM q97_src GROUP BY segment",
          Map("p" -> proot))
        require(graft.sources.SnapshotStore.partitionCols(proot) ==
          Seq("segment"), "partitioned CTAS must record its partition spec")
        graft.sources.SnapshotStore.read(s, proot)
          .createOrReplaceTempView("q97_segn")
        s.sql(
          """SELECT t.id, t.salary, t.segment, v1.salary AS salary_v1,
            |       sn.seg_n AS seg_n
            |FROM graft.q97t t
            |LEFT JOIN graft.q97t VERSION AS OF 1 v1 ON t.id = v1.id
            |LEFT JOIN q97_segn sn ON t.segment = sn.segment
            |ORDER BY t.id""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        val scents = graft.Canon.centsSql("s_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v2 AS (SELECT id,
           |  CASE WHEN segment = 'HOUSEHOLD' THEN salary + 500 ELSE salary
           |  END AS salary, segment FROM base),
           |v3 AS (SELECT * FROM v2 WHERE NOT (id % 10 = 3)),
           |src AS (SELECT s_suppkey AS sid, $scents AS sal FROM supplier),
           |seg AS (SELECT segment, CAST(count(*) AS BIGINT) AS seg_n
           |        FROM base GROUP BY segment),
           |v4 AS (
           |  SELECT t.id,
           |    CASE WHEN s.sid IS NOT NULL THEN t.salary + s.sal
           |         ELSE t.salary END AS salary,
           |    t.segment
           |  FROM v3 t LEFT JOIN src s ON t.id = s.sid
           |  UNION ALL
           |  SELECT s.sid + 4000000, s.sal, 'SUPP'
           |  FROM src s LEFT JOIN v3 t ON t.id = s.sid
           |  WHERE t.id IS NULL)
           |SELECT t.id, t.salary, t.segment, v1.salary AS salary_v1,
           |       sn.seg_n AS seg_n
           |FROM v4 t LEFT JOIN base v1 ON t.id = v1.id
           |LEFT JOIN seg sn ON t.segment = sn.segment
           |ORDER BY t.id""".stripMargin
      }),

    // Q98 [extension: merge-on-read DML / deletion vectors] the same bare
    // spark.sql statement surface as q97, but on a PARTITIONED table whose
    // TBLPROPERTIES select 'dml.mode' = 'merge-on-read': DELETE and UPDATE
    // commit a `_dv/` positional sidecar (+ appended post-images) and hard-
    // link every data file instead of rewriting partitions — the Delta-DV /
    // Iceberg-positional-delete shape that keeps a scattered point-delete
    // O(matched rows) at 100 TB (DvSpec pins the no-rewrite property; this
    // gate pins that every READ — current, filtered, and time-traveled —
    // applies the vector: the final SELECT runs through DvReadRewrite's
    // substituted scan, and the VERSION AS OF 1 leg reads the pre-DV
    // snapshot untouched).
    "q98_mor_dml" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q98")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql(
          """CREATE TABLE graft.q98t (id BIGINT, salary BIGINT, segment STRING)
            |PARTITIONED BY (segment)
            |TBLPROPERTIES ('dml.mode' = 'merge-on-read')""".stripMargin)
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q98_src")
        s.sql("INSERT INTO graft.q98t SELECT id, salary, segment FROM q98_src") // v1
        s.sql("DELETE FROM graft.q98t WHERE id % 7 = 0") // v2: DV only
        s.sql( // v3: DV + appended post-images (some move rows' values, not keys)
          "UPDATE graft.q98t SET salary = salary + 1000 WHERE id % 5 = 0")
        s.sql(
          """SELECT t.id, t.salary, t.segment, v1.salary AS salary_v1
            |FROM graft.q98t t
            |LEFT JOIN graft.q98t VERSION AS OF 1 v1 ON t.id = v1.id
            |WHERE t.segment <> 'MACHINERY'
            |ORDER BY t.id""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v2 AS (SELECT * FROM base WHERE NOT (id % 7 = 0)),
           |v3 AS (SELECT id,
           |  CASE WHEN id % 5 = 0 THEN salary + 1000 ELSE salary END AS salary,
           |  segment FROM v2)
           |SELECT t.id, t.salary, t.segment, v1.salary AS salary_v1
           |FROM v3 t LEFT JOIN base v1 ON t.id = v1.id
           |WHERE t.segment <> 'MACHINERY'
           |ORDER BY t.id""".stripMargin
      }),

    // Q99 [extension: OPTIMIZE ZORDER] The MULTI-dimension layout decision:
    // q74/q75 range-cluster on ONE column, which makes per-file [min,max]
    // manifests tight on that column and useless on every other (each file
    // spans the whole domain of the unclustered dim — the build measures
    // exactly that on the starting layout). `CALL graft.system.optimize(
    // zorder_by => 'a,b')` rewrites the snapshot ordered by a Morton curve
    // key — each dim quantile-ranked to a dense 0..255 bucket (skew-proof
    // cut points from one approxQuantile sketch pass; plans/RankBucket)
    // then bit-interleaved (plans/InterleaveBits) — so files tile the 2-D
    // key space and manifests prune range predicates on EITHER column.
    // The build requires all three prunings the curve promises (each
    // single-dim range < total files, the 2-D rectangle ≤ half) and that
    // the curve never prunes the second dim WORSE than the starting
    // layout's recorded baseline (copy-correlated inputs — the sf1 soak's
    // key-strided copies — legitimately pre-prune, so the baseline is
    // measured, not assumed);
    // the gate output is the rectangle query itself, value-identical to a
    // plain DuckDB scan — layout moved bytes, never rows. At 100 TB this
    // is the difference between "fast queries on the cluster key only" and
    // "fast queries on both columns analysts actually filter by"; the
    // quantile-rank normalization is what keeps the curve dense under
    // skewed id spaces (a linear min/max scaling would collapse every hot
    // decade into one curve cell).
    "q99_zorder_optimize" -> QueryDef(
      build = (s, d) => {
        import graft.sources.SnapshotStore
        val root = graft.GateTmp.freshDir("q99")
        val li = Tables.lineitem(s, d)
          .select($("l_orderkey"), $("l_partkey"),
            graft.Canon.cents($("l_extendedprice")).as("price_c"))
          .repartitionByRange(8, $("l_orderkey")) // the single-dim layout
        SnapshotStore.init(s, root, li,
          statsCols = Seq("l_orderkey", "l_partkey"))
        // data-derived rectangle (sf-stable): the middle fifth of each key
        // domain, bounds via integer floor division mirrored in the oracle
        val m = li.agg(max($("l_orderkey")), max($("l_partkey"))).head()
        val (okLo, okHi) = (m.getLong(0) * 2 / 5, m.getLong(0) * 3 / 5)
        val (pkLo, pkHi) = (m.getLong(1) * 2 / 5, m.getLong(1) * 3 / 5)
        def kept(pred: org.apache.spark.sql.Column): (Int, Int) = {
          val (_, k, t) = SnapshotStore.readPruned(s, SnapshotStore.latest(root), pred)
          (k, t)
        }
        val pkPred = col("max_l_partkey") >= pkLo && col("min_l_partkey") <= pkHi
        val okPred = col("max_l_orderkey") >= okLo && col("min_l_orderkey") <= okHi
        // the failure mode this layout exists to fix: dim-2 is (normally)
        // unprunable under a single-dim range layout. Record the baseline
        // rather than requiring it: inputs whose two keys CORRELATE (the
        // GenScale sf1 copies stride both keys together) legitimately
        // pre-prune, and the contract below is relative — the curve must
        // never prune WORSE than the starting layout, and must halve the
        // 2-D rectangle's file set in absolute terms
        val (kb, tb) = kept(pkPred)
        val rows = li.count()
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", root) // unused: path form
        // 64 files = 6 leading curve bits = an 8×8 tiling of the key
        // plane; a mid-domain fifth-of-the-domain band then intersects ~2
        // of 8 tile columns. (8 files would tile 2×4 — any band crossing
        // the half boundary of the 2-wide dim touches every file, and the
        // curve could not show its pruning.)
        s.sql(s"CALL graft.system.optimize(`table` => '$root', " +
          s"target_rows => ${(rows + 63) / 64}, " +
          "stats_cols => 'l_orderkey,l_partkey', " +
          "zorder_by => 'l_orderkey,l_partkey')")
        val (k1, t1) = kept(okPred)
        val (k2, t2) = kept(pkPred)
        val (k3, t3) = kept(okPred && pkPred)
        require(k1 < t1 && k2 < t2,
          s"z-layout failed to prune a single-dim range ($k1/$t1 orderkey, $k2/$t2 partkey)")
        require(k3 * 2 <= t3,
          s"z-layout kept $k3 of $t3 files on the 2-D rectangle (want <= half)")
        require(k2.toDouble / t2 <= (kb.toDouble + 1) / math.max(tb, 1),
          s"z-layout prunes l_partkey WORSE than the starting layout " +
            s"($k2/$t2 vs baseline $kb/$tb)")
        val (pruned, _, _) = SnapshotStore.readPruned(s, SnapshotStore.latest(root),
          okPred && pkPred)
        pruned
          .filter($("l_orderkey").between(okLo, okHi) &&
            $("l_partkey").between(pkLo, pkHi))
          .select($("l_orderkey"), $("l_partkey"), $("price_c"))
          .orderBy($("l_orderkey"), $("l_partkey"), $("price_c"))
      },
      oracle = Some(
        s"""WITH b AS (SELECT (max(l_orderkey)*2)//5 AS ok_lo,
           |  (max(l_orderkey)*3)//5 AS ok_hi, (max(l_partkey)*2)//5 AS pk_lo,
           |  (max(l_partkey)*3)//5 AS pk_hi FROM lineitem)
           |SELECT l_orderkey, l_partkey,
           |  ${graft.Canon.centsSql("l_extendedprice")} AS price_c
           |FROM lineitem, b
           |WHERE l_orderkey BETWEEN ok_lo AND ok_hi
           |  AND l_partkey BETWEEN pk_lo AND pk_hi
           |ORDER BY l_orderkey, l_partkey, price_c""".stripMargin)),

    // Q102 [extension: identity columns] `GENERATED ALWAYS AS IDENTITY`
    // through bare SQL: surrogate keys assigned by the engine (one cached
    // pass + a per-partition-count collect — hwm + step·(partition offset
    // + local ordinal), never a global window; see
    // SnapshotStore.appendWithIdentity). WHICH row draws which id is
    // partition-layout-dependent by design, so the gate hash-checks the
    // CONTENT (natural key ↔ name mapping survives untouched) while the
    // identity CONTRACT — every id unique, allocation dense 1..N, the
    // high-water mark carried through an intervening DELETE commit so the
    // next insert continues at N+1 instead of re-issuing — is enforced
    // with in-build require()s; GENERATED ALWAYS rejecting an explicit id
    // is asserted in-build too. The table then EVOLVES its partition spec
    // mid-life (flat era → by seg): allocation must stay unique and dense
    // while the snapshot spans layouts AND after the migrating OPTIMIZE
    // heals it — the Iceberg-shaped composition a long-lived surrogate-key
    // table eventually hits. The oracle replays the content algebra.
    "q102_identity" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q102")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS graft.q102t")
        s.sql(
          """CREATE TABLE graft.q102t (
            |  rid BIGINT GENERATED ALWAYS AS IDENTITY,
            |  ck BIGINT, name STRING, seg STRING)""".stripMargin)
        Tables.customer(s, d).filter($("c_custkey") <= 500)
          .select($("c_custkey").as("ck"), $("c_name").as("name"),
            ($("c_custkey") % 4).cast("string").as("seg"))
          .createOrReplaceTempView("q102_src")
        s.sql("INSERT INTO graft.q102t (ck, name, seg) " +
          "SELECT ck, name, seg FROM q102_src")
        val n = s.sql("SELECT count(*) FROM q102_src").head().getLong(0)
        s.sql("DELETE FROM graft.q102t WHERE ck % 7 = 0")
        val m = s.sql("SELECT count(*) FROM q102_src WHERE ck <= 10")
          .head().getLong(0)
        // evolve the layout mid-life: later inserts land under seg=… dirs
        // while the flat-era files ride untouched; ids keep allocating
        graft.sources.SnapshotStore.alterPartitionSpec(
          s, s"$wh/q102t", Seq("seg"))
        s.sql("INSERT INTO graft.q102t (ck, name, seg) " +
          "SELECT ck + 1000000, name, seg FROM q102_src WHERE ck <= 10")
        require(graft.sources.SnapshotStore.isEvolved(
          graft.sources.SnapshotStore.latest(s"$wh/q102t").dataDir),
          "the spanning insert must not heal the span")
        // migrate, then keep allocating past the heal
        graft.sources.SnapshotStore.optimize(s, s"$wh/q102t", 1000000L)
        val k = s.sql("SELECT count(*) FROM q102_src WHERE ck <= 5")
          .head().getLong(0)
        s.sql("INSERT INTO graft.q102t (ck, name, seg) " +
          "SELECT ck + 2000000, name, seg FROM q102_src WHERE ck <= 5")
        val st = s.sql(
          """SELECT count(*), count(DISTINCT rid), min(rid), max(rid)
            |FROM graft.q102t""".stripMargin).head()
        require(st.getLong(0) == st.getLong(1),
          s"identity ids must be unique (${st.getLong(0)} rows, ${st.getLong(1)} ids)")
        require(st.getLong(2) >= 1L && st.getLong(3) == n + m + k,
          s"allocation must continue densely through DELETE, evolution and " +
            s"OPTIMIZE (min ${st.getLong(2)}, max ${st.getLong(3)}, " +
            s"n $n, m $m, k $k)")
        val refused = try { s.sql("INSERT INTO graft.q102t VALUES (1, 2, 'x', '0')"); false }
        catch { case _: Exception => true }
        require(refused, "GENERATED ALWAYS must refuse an explicit id")
        s.sql(
          s"""SELECT ck, name, rid BETWEEN 1 AND ${n + m + k} AS ok
             |FROM graft.q102t ORDER BY ck""".stripMargin)
      },
      oracle = Some(
        """WITH src AS (
          |  SELECT c_custkey AS ck, c_name AS name FROM customer
          |  WHERE c_custkey <= 500)
          |SELECT ck, name, TRUE AS ok FROM (
          |  SELECT * FROM src WHERE ck % 7 <> 0
          |  UNION ALL
          |  SELECT ck + 1000000, name FROM src WHERE ck <= 10
          |  UNION ALL
          |  SELECT ck + 2000000, name FROM src WHERE ck <= 5)
          |ORDER BY ck""".stripMargin)),

    // Q103 [extension: STORED generated columns] `GENERATED ALWAYS AS
    // (expr)` through bare SQL: the engine computes the column on EVERY
    // write path (a provided value is overridden by the authoritative
    // derivation), and consistency is a COMMIT contract — an automatic
    // engine-internal CHECK (`col <=> (expr)`) refuses any DML that would
    // leave the stored value stale, which the build proves by attempting
    // exactly that UPDATE and require()-ing the refusal, then committing
    // the re-deriving form. Deterministic expressions only (enforced at
    // CREATE). The oracle derives the same column algebraically — value
    // identity proves stored == derived across insert and update commits.
    "q103_generated_columns" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q103")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("DROP TABLE IF EXISTS graft.q103t")
        s.sql(
          """CREATE TABLE graft.q103t (
            |  ck BIGINT, bal_c BIGINT,
            |  bal_band BIGINT GENERATED ALWAYS AS ((bal_c + 100000) DIV 100000))""".stripMargin)
        Tables.customer(s, d).filter($("c_custkey") <= 400)
          .select($("c_custkey").as("ck"),
            graft.Canon.cents($("c_acctbal")).as("bal_c"))
          .createOrReplaceTempView("q103_src")
        s.sql("INSERT INTO graft.q103t (ck, bal_c) SELECT ck, bal_c FROM q103_src")
        // staleness refuses: touching the input without re-deriving
        val refused = try {
          graft.sources.SqlDml.execute(s,
            "UPDATE graft.q103t SET bal_c = bal_c + 100000 WHERE ck % 5 = 0")
          false
        } catch { case _: Exception => true }
        require(refused, "stale generated column must refuse at commit")
        // the re-deriving form commits
        graft.sources.SqlDml.execute(s,
          "UPDATE graft.q103t SET bal_c = bal_c + 100000, " +
            "bal_band = ((bal_c + 100000) + 100000) DIV 100000 WHERE ck % 5 = 0")
        s.sql(
          """SELECT ck, bal_c, bal_band FROM graft.q103t
            |ORDER BY ck""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH src AS (
           |  SELECT c_custkey AS ck, $cents AS bal_c FROM customer
           |  WHERE c_custkey <= 400),
           |upd AS (
           |  SELECT ck,
           |    CASE WHEN ck % 5 = 0 THEN bal_c + 100000 ELSE bal_c END AS bal_c
           |  FROM src)
           |SELECT ck, bal_c, (bal_c + 100000) // 100000 AS bal_band
           |FROM upd ORDER BY ck""".stripMargin
      }),

    // Q106 [extension: SQL METADATA TABLES] the Iceberg `t$suffix` idiom
    // over the warehouse catalog: `t$history` (the commit log with
    // txn-stamp audit columns) and `t$files` (one snapshot's physical
    // data files with parquet-footer row counts), both served as
    // driver-side LocalScans — log-scale metadata queries, never a data
    // scan. `$files` composes with VERSION AS OF, so the gate asks "how
    // many physical rows did each version carry" purely through SQL
    // metadata: versions driven by `$history`, per-version totals by
    // `$files` (a CoW table's physical counts ARE its logical counts —
    // pinned against the DuckDB replay of the same three commits). The
    // footer counts come from the files themselves, so a wrong staging
    // path (doubled rows, lost rewrite) is unhideable.
    "q106_metadata_tables" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q106")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q106t (ok BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q106_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql( // v1
          s"""INSERT INTO graft.q106t
             |SELECT o_orderkey, $cents FROM q106_ord
             |WHERE o_orderkey % 3 = 0""".stripMargin)
        s.sql( // v2
          s"""INSERT INTO graft.q106t
             |SELECT o_orderkey, $cents FROM q106_ord
             |WHERE o_orderkey % 3 = 1""".stripMargin)
        graft.sources.SqlDml.execute(s, // v3: CoW rewrite shrinks the files
          "DELETE FROM graft.q106t WHERE price_c < 10000000")
        // audit surface present; unknown suffixes and writes refuse loudly
        require(s.sql("SELECT * FROM graft.`q106t$history`")
          .columns.contains("txn_stamps"), "$history must expose stamp audit")
        require(scala.util.Try(
          s.sql("SELECT * FROM graft.`q106t$bogus`")).isFailure,
          "unknown metadata suffix must refuse")
        require(scala.util.Try(s.sql(
          "INSERT INTO graft.`q106t$files` VALUES ('x', 1, 1)")).isFailure,
          "metadata tables are read-only")
        val versions = s.sql(
          "SELECT version FROM graft.`q106t$history` ORDER BY version")
          .collect().map(_.getLong(0)) // bounded: one row per commit
        versions.map { v =>
          s.sql(
            s"""SELECT CAST($v AS BIGINT) AS version,
               |       coalesce(sum(row_count), CAST(0 AS BIGINT)) AS n_rows
               |FROM graft.`q106t$$files` VERSION AS OF $v""".stripMargin)
        }.reduce(_.unionAll(_)).orderBy("version")
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH v1 AS (
           |  SELECT o_orderkey AS ok, $cents AS price_c FROM orders
           |  WHERE o_orderkey % 3 = 0),
           |v2 AS (
           |  SELECT * FROM v1
           |  UNION ALL
           |  SELECT o_orderkey, $cents FROM orders WHERE o_orderkey % 3 = 1),
           |v3 AS (SELECT * FROM v2 WHERE NOT (price_c < 10000000))
           |SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_rows
           |UNION ALL SELECT 1, (SELECT count(*) FROM v1)
           |UNION ALL SELECT 2, (SELECT count(*) FROM v2)
           |UNION ALL SELECT 3, (SELECT count(*) FROM v3)
           |ORDER BY version""".stripMargin
      }),

    // Q107 [extension: NAMED REFS / TAGS] the Iceberg tag contract end to
    // end: tag a committed version under a human name, keep committing,
    // VACUUM past it — the tag both ADDRESSES the snapshot (`VERSION AS OF
    // 'blessed'`) and PINS it against expire_snapshots. The gate makes the
    // pin load-bearing: after `expire_snapshots(keep_last => 1)` the
    // blessed version is OLDER than the whole retention window, so the
    // tagged read below succeeds ONLY because retention honored the ref
    // (the same read through its numeric version would also work, but the
    // untagged v1 is gone — required below). Grouped checksums of the
    // tagged and current states are hash-pinned against a DuckDB replay.
    "q107_refs_tags" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q107")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q107t (ok BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q107_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql( // v1
          s"""INSERT INTO graft.q107t
             |SELECT o_orderkey, $cents FROM q107_ord
             |WHERE o_orderkey % 3 = 0""".stripMargin)
        s.sql( // v2 — the version we bless
          s"""INSERT INTO graft.q107t
             |SELECT o_orderkey, $cents FROM q107_ord
             |WHERE o_orderkey % 3 = 1""".stripMargin)
        s.sql("CALL graft.system.create_tag('q107t', 'blessed', 2)")
        graft.sources.SqlDml.execute(s, // v3: keep committing past the tag
          "DELETE FROM graft.q107t WHERE price_c < 10000000")
        // tags are immutable; names that parse as versions refuse
        require(scala.util.Try(s.sql(
          "CALL graft.system.create_tag('q107t', 'blessed', 1)")).isFailure,
          "duplicate tag must refuse")
        require(scala.util.Try(s.sql(
          "CALL graft.system.create_tag('q107t', '7')")).isFailure,
          "numeric tag name must refuse")
        s.sql("CALL graft.system.expire_snapshots('q107t', 1)")
        require(scala.util.Try(s.sql(
          "SELECT * FROM graft.q107t VERSION AS OF 1").collect()).isFailure,
          "untagged v1 must be expired")
        require(s.sql("SELECT name, version FROM graft.`q107t$refs`")
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
          Seq(("blessed", 2L)), "$refs must list the live tag")
        s.sql(
          """SELECT 'blessed' AS ref, ok % 7 AS bucket,
            |       count(*) AS n_rows, sum(price_c) AS sum_price
            |FROM graft.q107t VERSION AS OF 'blessed' GROUP BY ok % 7
            |UNION ALL
            |SELECT 'current', ok % 7, count(*), sum(price_c)
            |FROM graft.q107t GROUP BY ok % 7
            |ORDER BY ref, bucket""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH v2 AS (
           |  SELECT o_orderkey AS ok, $cents AS price_c FROM orders
           |  WHERE o_orderkey % 3 IN (0, 1)),
           |v3 AS (SELECT * FROM v2 WHERE NOT (price_c < 10000000))
           |SELECT 'blessed' AS ref, ok % 7 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(price_c) AS BIGINT) AS sum_price
           |FROM v2 GROUP BY ok % 7
           |UNION ALL
           |SELECT 'current', ok % 7, CAST(count(*) AS BIGINT),
           |       CAST(sum(price_c) AS BIGINT)
           |FROM v3 GROUP BY ok % 7
           |ORDER BY ref, bucket""".stripMargin
      }),

    // Q108 [extension: INCREMENTAL COMPACTION] OPTIMIZE(small_file_rows):
    // only files under the row threshold are rewritten; already-compacted
    // files hard-link through, and the pruning manifest rides along —
    // carried across the appends (one O(batch) merge per insert) and
    // across the compaction itself. The require()s pin the physics (file
    // count shrinks to kept+1, the manifest keys every file in the LIVE
    // snapshot dir); the returned grouped checksums pin that a
    // rewrite-the-small/link-the-big commit is byte-preserving, against
    // DuckDB on the same inserts.
    "q108_incremental_optimize" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q108")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q108t (ok BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q108_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql(
          s"""INSERT INTO graft.q108t
             |SELECT o_orderkey, $cents FROM q108_ord
             |WHERE o_orderkey % 2 = 0""".stripMargin)
        // SF-independent sizing: packed files hold ~half the table, the
        // trickle files ~a sixth, the small threshold a quarter — so the
        // packed files are always kept and the trickle always rewrites,
        // at sf0.001 and sf1 alike
        val n = s.sql("SELECT count(*) FROM q108_ord").head().getLong(0)
        s.sql(s"CALL graft.system.optimize(`table` => 'q108t', " +
          s"target_rows => ${math.max(n / 2, 1)}, cluster_by => 'ok', " +
          "stats_cols => 'ok')")
        val root = s"$wh/q108t"
        val packedFiles = graft.sources.SnapshotStore
          .manifest(s, graft.sources.SnapshotStore.latest(root)).count()
        for (r <- Seq(1, 3, 5)) // the small-file trickle
          s.sql(
            s"""INSERT INTO graft.q108t
               |SELECT /*+ COALESCE(1) */ o_orderkey, $cents FROM q108_ord
               |WHERE o_orderkey % 6 = $r""".stripMargin)
        val before = graft.sources.SnapshotStore.latest(root)
        s.sql(s"CALL graft.system.optimize(`table` => 'q108t', " +
          s"target_rows => ${math.max(n / 2, 1)}, " +
          s"small_file_rows => ${math.max(n / 4, 1)})")
        val now = graft.sources.SnapshotStore.latest(root)
        require(now.version == before.version + 1, "compaction must commit")
        val m = graft.sources.SnapshotStore.manifest(s, now).collect()
        require(m.length < packedFiles + 3 &&
          m.forall(_.getAs[String]("file").contains(now.dataDir)),
          s"merged manifest must key ${m.length} live files in ${now.dataDir}")
        s.sql(
          """SELECT ok % 10 AS bucket, count(*) AS n_rows,
            |       sum(price_c) AS sum_price
            |FROM graft.q108t GROUP BY ok % 10 ORDER BY bucket""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT o_orderkey % 10 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum($cents) AS BIGINT) AS sum_price
           |FROM orders
           |WHERE o_orderkey % 2 = 0 OR o_orderkey % 6 IN (1, 3, 5)
           |GROUP BY o_orderkey % 10
           |ORDER BY bucket""".stripMargin
      }),

    // Q109 [extension: COPY INTO] idempotent drop-zone ingest, the public
    // Delta COPY INTO contract: every file under the source directory
    // loads EXACTLY ONCE across arbitrarily many invocations — the ledger
    // is per-file writer stamps recorded atomically with the one append
    // commit, so replay/no-op/late-arrival all fall out of the commit
    // log. The gate drops three shards, loads them, REPLAYS the call
    // (must be a version-preserving no-op), drops a late fourth shard,
    // loads again (only it), and hash-pins the final table against DuckDB
    // reading the same source rows directly — any double- or missed load
    // diverges the grouped checksums.
    "q109_copy_into" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q109")
        val drop = graft.GateTmp.freshDir("q109drop")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q109t (ok BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q109_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        for (r <- 0 to 2) // three shards land in the drop zone
          s.sql(s"SELECT o_orderkey AS ok, $cents AS price_c FROM q109_ord " +
              s"WHERE o_orderkey % 4 = $r")
            .coalesce(1).write.parquet(s"$drop/shard$r")
        val first = s.sql(
          "CALL graft.system.copy_into('q109t', '" + drop + "')").head()
        require(first.getLong(0) == 3L && first.getLong(2) == 0L,
          s"first load must ingest all 3 shards: $first")
        val replay = s.sql(
          "CALL graft.system.copy_into('q109t', '" + drop + "')").head()
        require(replay.getLong(0) == 0L && replay.getLong(2) == 3L &&
          replay.getLong(3) == first.getLong(3),
          s"replay must be a version-preserving no-op: $replay vs $first")
        s.sql(s"SELECT o_orderkey AS ok, $cents AS price_c FROM q109_ord " +
            "WHERE o_orderkey % 4 = 3") // the late shard
          .coalesce(1).write.parquet(s"$drop/shard3")
        val late = s.sql(
          "CALL graft.system.copy_into('q109t', '" + drop + "')").head()
        require(late.getLong(0) == 1L && late.getLong(2) == 3L &&
          late.getLong(3) == first.getLong(3) + 1L,
          s"late arrival must load ONLY the new shard: $late")
        s.sql(
          """SELECT ok % 10 AS bucket, count(*) AS n_rows,
            |       sum(price_c) AS sum_price
            |FROM graft.q109t GROUP BY ok % 10 ORDER BY bucket""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT o_orderkey % 10 AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum($cents) AS BIGINT) AS sum_price
           |FROM orders
           |GROUP BY o_orderkey % 10
           |ORDER BY bucket""".stripMargin
      }),

    // Q110 [extension: PARTITION-SPEC EVOLUTION] the Iceberg contract end
    // to end, through bare SQL: a table accretes data flat, evolves to
    // partition by `seg` WITHOUT rewriting a byte (metadata-only commit),
    // keeps ingesting under the new layout while reads span both eras
    // (per-spec planning: directory pruning on new files, row-group stats
    // on old), then one OPTIMIZE migrates everything to the current spec
    // and heals the table to single-layout. The requires pin the physics
    // (old files untouched at top level, new rows in seg= dirs, sidecar
    // gone after migration); the final grouped checksum over all three
    // ingest eras is hash-pinned against DuckDB reading the same rows.
    "q110_partition_evolution" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q110")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q110t (ok BIGINT, seg BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q110_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        def insertEra(r: Int): Unit = s.sql(
          s"""INSERT INTO graft.q110t
             |SELECT o_orderkey, o_orderkey % 5, $cents FROM q110_ord
             |WHERE o_orderkey % 3 = $r""".stripMargin)
        insertEra(0) // v1: flat era
        val evolved = s.sql(
          "CALL graft.system.set_partition_spec('q110t', 'seg')").head()
        require(evolved.getLong(1) == 2L, s"spec_count after evolve: $evolved")
        insertEra(1) // v3: lands under _spec1/seg=…
        val root = s"$wh/q110t"
        val span = graft.sources.SnapshotStore.latest(root)
        require(graft.sources.SnapshotStore.isEvolved(span.dataDir),
          "snapshot must span specs before migration")
        require(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(span.dataDir, "_spec1", "seg=0")),
          "new-era rows must lay out by the new spec")
        // pre-evolution version still reads with its own (flat) layout
        val v1 = s.sql("SELECT count(*) FROM graft.q110t VERSION AS OF 1")
          .head().getLong(0)
        val flatOnly = s.sql(
          "SELECT count(*) FROM q110_ord WHERE o_orderkey % 3 = 0")
          .head().getLong(0)
        require(v1 == flatOnly, s"time travel across the evolution: $v1 != $flatOnly")
        // migrate: one full rewrite, table heals to the current spec
        s.sql("CALL graft.system.optimize('q110t', 1000000)")
        val healed = graft.sources.SnapshotStore.latest(root)
        require(!graft.sources.SnapshotStore.isEvolved(healed.dataDir),
          "OPTIMIZE must migrate to single-spec")
        require(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(healed.dataDir, "seg=0")),
          "migrated layout must be hive dirs at top level")
        insertEra(2) // v5: a normal partitioned append post-migration
        s.sql(
          """SELECT seg, count(*) AS n_rows, sum(price_c) AS sum_price
            |FROM graft.q110t GROUP BY seg ORDER BY seg""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT o_orderkey % 5 AS seg,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum($cents) AS BIGINT) AS sum_price
           |FROM orders
           |GROUP BY o_orderkey % 5
           |ORDER BY seg""".stripMargin
      }),

    // Q111 [extension: INGEST LIFECYCLE] COPY INTO × partition evolution
    // × migration, composed through bare SQL — the interaction gate the
    // two features' own gates (q109, q110) cannot cover: the per-file
    // ingest LEDGER must survive the evolution's metadata commit (stamps
    // carry through hard-linked versions), a post-evolution COPY INTO
    // must stage its batch under the NEW spec's subtree, replays must
    // no-op across the layout boundary, and the migrating OPTIMIZE must
    // preserve every ingested row byte-for-byte. Grouped checksums over
    // all three ingest eras hash-pin against DuckDB on the same rows.
    "q111_ingest_lifecycle" -> QueryDef(
      build = (s, d) => {
        val wh = graft.GateTmp.freshDir("q111")
        val drop = graft.GateTmp.freshDir("q111drop")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q111t (ok BIGINT, seg BIGINT, price_c BIGINT)")
        Tables.orders(s, d).createOrReplaceTempView("q111_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        def shard(r: Int): Unit =
          s.sql(s"SELECT o_orderkey AS ok, o_orderkey % 4 AS seg, " +
              s"$cents AS price_c FROM q111_ord WHERE o_orderkey % 3 = $r")
            .coalesce(1).write.parquet(s"$drop/shard$r")
        shard(0); shard(1)
        val first = s.sql(
          "CALL graft.system.copy_into('q111t', '" + drop + "')").head()
        require(first.getLong(0) == 2L, s"flat-era ingest: $first")
        s.sql("CALL graft.system.set_partition_spec('q111t', 'seg')")
        shard(2) // the late shard arrives AFTER the evolution
        val late = s.sql(
          "CALL graft.system.copy_into('q111t', '" + drop + "')").head()
        require(late.getLong(0) == 1L && late.getLong(2) == 2L,
          s"ledger must survive the evolution commit: $late")
        val root = s"$wh/q111t"
        require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
          graft.sources.SnapshotStore.latest(root).dataDir, "_spec1", "seg=0")),
          "post-evolution ingest must lay out under the new spec")
        val replay = s.sql(
          "CALL graft.system.copy_into('q111t', '" + drop + "')").head()
        require(replay.getLong(0) == 0L && replay.getLong(2) == 3L,
          s"replay across the layout boundary must no-op: $replay")
        s.sql("CALL graft.system.optimize('q111t', 1000000)")
        require(!graft.sources.SnapshotStore.isEvolved(
          graft.sources.SnapshotStore.latest(root).dataDir),
          "migration must heal")
        val post = s.sql(
          "CALL graft.system.copy_into('q111t', '" + drop + "')").head()
        require(post.getLong(0) == 0L,
          s"the ledger must survive the migration too: $post")
        s.sql(
          """SELECT seg, count(*) AS n_rows, sum(price_c) AS sum_price
            |FROM graft.q111t GROUP BY seg ORDER BY seg""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT o_orderkey % 4 AS seg,
           |       CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum($cents) AS BIGINT) AS sum_price
           |FROM orders
           |GROUP BY o_orderkey % 4
           |ORDER BY seg""".stripMargin
      }),

    // Q112 [extension: SPANNING DML] UPDATE/DELETE while a partition-spec
    // evolution is PENDING — the per-era scoped copy-on-write path
    // (SnapshotStore.stagePartialEvolved). The statement's predicate
    // matches rows in BOTH eras (flat pre-evolution files and `_spec1`
    // hive dirs); the staging must rewrite only the touched files of each
    // era, keep the span (no full-table heal), and land the rewritten
    // rows under the CURRENT spec — then the migrating OPTIMIZE composes
    // on top. Grouped checksums hash-pin the surviving rows vs DuckDB.
    "q112_spanning_dml" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q112")
        Tables.orders(s, d).createOrReplaceTempView("q112_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        def era(r: Int): org.apache.spark.sql.DataFrame = s.sql(
          s"""SELECT o_orderkey AS ok, o_orderkey % 5 AS seg,
             |$cents AS price_c FROM q112_ord
             |WHERE o_orderkey % 3 = $r""".stripMargin)
        SnapshotStore.init(s, root, era(0)) // v0: flat era
        SnapshotStore.alterPartitionSpec(s, root, Seq("seg")) // v1
        SnapshotStore.append(s, root, era(1)) // v2: _spec1/seg=…
        val t = Map("t" -> root)
        // both statements match rows in BOTH eras
        SqlDml.execute(s,
          "UPDATE t SET price_c = price_c + 100 WHERE ok % 10 = 0", t)
        SqlDml.execute(s, "DELETE FROM t WHERE ok % 10 = 7", t)
        val head = SnapshotStore.latest(root)
        require(SnapshotStore.isEvolved(head.dataDir),
          "scoped DML must keep the span (no full-table heal)")
        require(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(head.dataDir, "_spec1")),
          "rewritten rows must stage under the current spec")
        // the migrating OPTIMIZE composes on top of scoped DML
        SnapshotStore.optimize(s, root, targetRows = 1000000L)
        require(!SnapshotStore.isEvolved(SnapshotStore.latest(root).dataDir),
          "OPTIMIZE must still migrate to single-spec")
        SnapshotStore.read(s, root)
          .groupBy($("seg"))
          .agg(count(lit(1)).as("n_rows"),
            sum($("price_c")).cast("long").as("sum_price"),
            sum($("ok")).cast("long").as("ok_sum"))
          .orderBy($("seg"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH t AS (
           |  SELECT o_orderkey AS ok, o_orderkey % 5 AS seg,
           |         CASE WHEN o_orderkey % 10 = 0 THEN $cents + 100
           |              ELSE $cents END AS price_c
           |  FROM orders WHERE o_orderkey % 3 IN (0, 1))
           |SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
           |       CAST(sum(price_c) AS BIGINT) AS sum_price,
           |       CAST(sum(ok) AS BIGINT) AS ok_sum
           |FROM t WHERE ok % 10 <> 7
           |GROUP BY seg ORDER BY seg""".stripMargin
      }),

    // Q113 [extension: WRITE-AUDIT-PUBLISH branches] the Iceberg
    // staged-commit pattern (SnapshotStore.createBranch / publishBranch):
    // fork the table zero-copy, stage UPDATE + DELETE + append against
    // the BRANCH root, audit it while the production table stays bitwise
    // untouched — and publish next to LIVE INGEST: new rows land on the
    // source mid-audit (the q91 topology's reality), so the squash takes
    // the REBASE path — the branch's diff replays onto the current head
    // after the disjoint-key proof (one keyed merge, never a silent
    // overwrite of the ingested rows). A rival branch whose staged keys
    // OVERLAP the published ones must still refuse — rebase is only for
    // provably-independent edits. The oracle replays both write streams;
    // the hash compares the PUBLISHED source state.
    "q113_wap" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q113")
        Tables.orders(s, d).createOrReplaceTempView("q113_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        val base = s.sql(
          s"""SELECT o_orderkey AS id, o_custkey AS cust,
             |$cents AS price_c, o_orderpriority AS prio
             |FROM q113_ord""".stripMargin)
        SnapshotStore.init(s, root, base, cdcKeys = Seq("id")) // v0
        SnapshotStore.createBranch(s, root, "release")
        SnapshotStore.createBranch(s, root, "rival") // same fork base
        val br = SnapshotStore.branchRoot(root, "release")
        val t = Map("t" -> br)
        SqlDml.execute(s,
          "UPDATE t SET price_c = price_c + 100 WHERE prio = '1-URGENT'", t)
        SqlDml.execute(s, "DELETE FROM t WHERE cust % 10 = 0", t)
        SnapshotStore.append(s, br, base.filter($("id") % 97 === 0)
          .withColumn("id", $("id") + lit(2500000000000L)))
        // WRITE + AUDIT: production untouched, invariant holds on the branch
        require(SnapshotStore.latest(root).version == 0L &&
          SnapshotStore.read(s, root).count() == base.count(),
          "staging must be invisible on the source")
        require(SnapshotStore.read(s, br)
          .filter($("cust") % 10 === 0 && $("id") < 2500000000000L).isEmpty,
          "audit: staged DELETE must hold on the branch")
        // the rival stages an edit OVERLAPPING release's key set
        SqlDml.execute(s,
          "UPDATE t SET price_c = price_c + 7 WHERE prio = '1-URGENT'",
          Map("t" -> SnapshotStore.branchRoot(root, "rival")))
        // LIVE INGEST: disjoint-key rows land on the SOURCE mid-audit
        // re-key offset far above ANY scaled keyspace (the sf1 soak rule:
        // gate constants must not encode the sf0.1 id range)
        SnapshotStore.append(s, root, base.filter($("id") % 101 === 0)
          .withColumn("id", $("id") + lit(3000000000000L))) // v1
        // PUBLISH still succeeds — the rebase path proves disjointness and
        // replays the squash diff onto the advanced head as one commit
        val pub = SnapshotStore.publishBranch(s, root, "release")
        require(pub.version == 2L, "rebase-publish must be one commit")
        // the rival's staged keys overlap the published ones: refused
        val refused = try {
          SnapshotStore.publishBranch(s, root, "rival"); false
        } catch { case _: IllegalArgumentException => true }
        require(refused, "an overlapping stale fork must refuse to publish")
        SnapshotStore.dropBranch(root, "rival")
        SnapshotStore.read(s, root).orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS id, o_custkey AS cust,
           |         $cents AS price_c, o_orderpriority AS prio
           |  FROM orders)
           |SELECT * FROM (
           |  SELECT id, cust,
           |         CASE WHEN prio = '1-URGENT' THEN price_c + 100
           |              ELSE price_c END AS price_c, prio
           |  FROM base WHERE cust % 10 <> 0
           |  UNION ALL
           |  SELECT id + 2500000000000, cust, price_c, prio
           |  FROM base WHERE id % 97 = 0
           |  UNION ALL
           |  SELECT id + 3000000000000, cust, price_c, prio
           |  FROM base WHERE id % 101 = 0)
           |ORDER BY id""".stripMargin
      }),

    // Q113b [extension: WAP × schema migration] the PRIMARY write-audit-
    // publish use case the r15 rebase path refused: fork, ALTER + backfill
    // on the branch (nullable ADD COLUMN + int→bigint widening — the
    // additive subset), audit, and publish while LIVE INGEST keeps landing
    // on the source. The rebase classifies the branch's schema delta as
    // additive, commits it onto the advanced head as the same
    // metadata-only ALTER (interim rows null-fill / upcast at read — the
    // mixed-era rule), then replays the squash diff as one keyed merge.
    // Non-additive evolution (a rival branch that DROPPED a column) must
    // still refuse. The oracle replays both write streams; the hash
    // compares the published source state.
    "q113b_wap_evolution" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        import org.apache.spark.sql.types.{LongType, StringType, StructType}
        val root = graft.GateTmp.freshDir("q113b")
        Tables.orders(s, d).createOrReplaceTempView("q113b_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        val base = s.sql(
          s"""SELECT o_orderkey AS id, CAST(o_custkey AS INT) AS cust,
             |$cents AS price_c, o_orderpriority AS prio
             |FROM q113b_ord""".stripMargin)
        SnapshotStore.init(s, root, base, cdcKeys = Seq("id")) // v0
        SnapshotStore.createBranch(s, root, "migrate")
        val br = SnapshotStore.branchRoot(root, "migrate")
        // the MIGRATION, staged entirely on the branch: ADD COLUMN,
        // widen cust int→bigint, backfill the new column
        SnapshotStore.alterSchema(s, br, _.add("tier", StringType))
        SnapshotStore.alterSchema(s, br, sch => StructType(sch.fields.map(f =>
          if (f.name == "cust") f.copy(dataType = LongType) else f)))
        SqlDml.execute(s,
          "UPDATE t SET tier = CASE WHEN prio = '1-URGENT' THEN 'high' " +
            "ELSE 'std' END", Map("t" -> br))
        require(SnapshotStore.latest(root).version == 0L,
          "staging a migration must be invisible on the source")
        // LIVE INGEST mid-audit: new keys land on the SOURCE under the
        // OLD (narrow, tier-less) schema
        // re-key offset far above ANY scaled keyspace (the sf1 soak rule:
        // gate constants must not encode the sf0.1 id range)
        SnapshotStore.append(s, root, base.filter($("id") % 101 === 0)
          .withColumn("id", $("id") + lit(3000000000000L))) // v1
        // PUBLISH: one metadata-only ALTER onto the head + one replay
        val pub = SnapshotStore.publishBranch(s, root, "migrate")
        require(pub.version == 3L,
          s"expected alter+replay commits on the head, got v${pub.version}")
        // the interim rows read through the published schema: widened
        // cust, typed-NULL tier (never backfilled — the branch never saw
        // them; that is the honest mixed-era answer)
        require(SnapshotStore.read(s, root)
          .filter($("id") >= 3000000000000L && $("tier").isNotNull).isEmpty,
          "interim rows must null-fill the branch-added column")
        // a NON-additive rival (dropped a column) still refuses to rebase:
        // fork the published head, DROP on the branch, advance the source
        SnapshotStore.createBranch(s, root, "reshape")
        SnapshotStore.alterSchema(s, SnapshotStore.branchRoot(root, "reshape"),
          sch => StructType(sch.fields.filterNot(_.name == "prio")))
        SnapshotStore.append(s, root, base.filter($("id") % 997 === 0)
          .selectExpr("id + 4000000000000 AS id", "CAST(cust AS BIGINT) AS cust",
            "price_c", "prio", "CAST(NULL AS STRING) AS tier")) // v4
        val refused = try {
          SnapshotStore.publishBranch(s, root, "reshape"); false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("dropped") }
        require(refused, "a branch that dropped a column must refuse to publish")
        SnapshotStore.dropBranch(root, "reshape")
        SnapshotStore.read(s, root).orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS id, CAST(o_custkey AS INT) AS cust,
           |         $cents AS price_c, o_orderpriority AS prio
           |  FROM orders)
           |SELECT * FROM (
           |  SELECT id, CAST(cust AS BIGINT) AS cust, price_c, prio,
           |         CASE WHEN prio = '1-URGENT' THEN 'high'
           |              ELSE 'std' END AS tier
           |  FROM base
           |  UNION ALL
           |  SELECT id + 3000000000000, CAST(cust AS BIGINT), price_c, prio,
           |         CAST(NULL AS VARCHAR)
           |  FROM base WHERE id % 101 = 0
           |  UNION ALL
           |  SELECT id + 4000000000000, CAST(cust AS BIGINT), price_c, prio,
           |         CAST(NULL AS VARCHAR)
           |  FROM base WHERE id % 997 = 0)
           |ORDER BY id""".stripMargin
      }),

    // Q113c [extension: WAP × RENAME — rebase-publish replays
    // branch-staged RENAME COLUMN] The round-16 rebase replayed additive
    // evolution; a rename is ALSO metadata-only under the sidecar-chain
    // design (files keep physical names, reads coalesce down the chain),
    // so publishing a branch that renamed+backfilled a column onto a
    // source that advanced mid-audit = the same metadata-only ALTER on
    // the head + the keyed replay. Interim rows — written under the OLD
    // physical name — resolve through the chain under the new name (the
    // mixed-era read rule). A branch that renamed a CDC KEY still refuses
    // (the keyed replay addresses rows by exactly that key).
    "q113c_wap_rename" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{SnapshotStore, SqlDml}
        val root = graft.GateTmp.freshDir("q113c")
        Tables.orders(s, d).createOrReplaceTempView("q113c_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        val base = s.sql(
          s"""SELECT o_orderkey AS id, $cents AS price_c,
             |o_orderpriority AS prio
             |FROM q113c_ord""".stripMargin)
        SnapshotStore.init(s, root, base, cdcKeys = Seq("id")) // v0
        SnapshotStore.createBranch(s, root, "ren")
        val br = SnapshotStore.branchRoot(root, "ren")
        // the migration, staged on the branch: RENAME + backfill under
        // the NEW name
        SnapshotStore.alterSchema(s, br, identity,
          renames = Map("amount_c" -> "price_c"))
        SqlDml.execute(s,
          "UPDATE t SET amount_c = amount_c + 7 WHERE id % 3 = 0",
          Map("t" -> br))
        // live ingest mid-audit, on the SOURCE, under the OLD name
        // (re-key offset far above any scaled keyspace — the sf1 rule)
        SnapshotStore.append(s, root, base.filter($("id") % 101 === 0)
          .withColumn("id", $("id") + lit(3000000000000L))) // v1
        val pub = SnapshotStore.publishBranch(s, root, "ren") // rebase path
        require(pub.version == 3L,
          s"expected rename-ALTER + replay commits, got v${pub.version}")
        val served = SnapshotStore.read(s, root)
        require(served.columns.map(_.toLowerCase).contains("amount_c") &&
          !served.columns.map(_.toLowerCase).contains("price_c"),
          s"published head must serve the renamed column: ${served.columns.toSeq}")
        // interim rows (physical old name) resolve through the chain
        require(served.filter($("id") >= 3000000000000L &&
          $("amount_c").isNull).isEmpty,
          "interim rows must resolve through the rename chain, not null-fill")
        // a rival branch renaming the CDC KEY refuses on the rebase path
        SnapshotStore.createBranch(s, root, "keyren")
        SnapshotStore.alterSchema(s, SnapshotStore.branchRoot(root, "keyren"),
          identity, renames = Map("pk" -> "id"))
        SnapshotStore.append(s, root, base.filter($("id") % 997 === 0)
          .selectExpr("id + 4000000000000 AS id", "price_c AS amount_c",
            "prio")) // v4: source advances, forcing the rebase path
        val refused = try {
          SnapshotStore.publishBranch(s, root, "keyren"); false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("CDC key") }
        require(refused, "a branch that renamed the CDC key must refuse")
        SnapshotStore.dropBranch(root, "keyren")
        SnapshotStore.read(s, root).orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS id, $cents AS price_c,
           |         o_orderpriority AS prio
           |  FROM orders)
           |SELECT * FROM (
           |  SELECT id,
           |         CASE WHEN id % 3 = 0 THEN price_c + 7
           |              ELSE price_c END AS amount_c, prio
           |  FROM base
           |  UNION ALL
           |  SELECT id + 3000000000000, price_c, prio
           |  FROM base WHERE id % 101 = 0
           |  UNION ALL
           |  SELECT id + 4000000000000, price_c, prio
           |  FROM base WHERE id % 997 = 0)
           |ORDER BY id""".stripMargin
      }),

    // Q114 [extension: HIDDEN partitioning — Iceberg transforms on the
    // Delta generated-column mechanism] `PARTITIONED BY (years(ts),
    // bucket(8, okey))` desugars to generated partition columns (computed
    // on write, CHECK-guarded, hive layout) plus a transform-spec sidecar
    // the scan builder reads to DERIVE partition filters from predicates
    // on the SOURCE columns: `ts >= X` prunes `ts_year=` dirs and
    // `okey = k` prunes to one `okey_bucket=` dir, the user never naming
    // either derived column. Both prunings are require()d at PLAN level
    // (the q96 planned-files audit); the pinned output is the range
    // aggregate vs a direct DuckDB replay. At 100 TB this is the
    // difference between a time-scoped scan reading one year's directories
    // and reading the lake.
    "q114_hidden_partitioning" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q114")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        Tables.orders(s, d).createOrReplaceTempView("q114_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql(
          """CREATE TABLE graft.q114t (okey BIGINT, ts TIMESTAMP, price_c BIGINT)
            |PARTITIONED BY (years(ts), bucket(8, okey))""".stripMargin)
        s.sql(
          s"""INSERT INTO graft.q114t (okey, ts, price_c)
             |SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP), $cents
             |FROM q114_ord""".stripMargin)
        def planned(df: org.apache.spark.sql.DataFrame): Seq[String] =
          df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.scan.toBatch.planInputPartitions().toSeq.flatMap {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.map(_.filePath.toString).toSeq
                case _ => Nil
              }
          }.flatten
        val all = planned(s.sql("SELECT price_c FROM graft.q114t"))
        val ranged = planned(s.sql(
          "SELECT price_c FROM graft.q114t WHERE " +
            "ts >= timestamp'1996-01-01 00:00:00' AND " +
            "ts < timestamp'1998-01-01 00:00:00'"))
        require(ranged.nonEmpty && ranged.forall(f =>
          f.contains("ts_year=1996") || f.contains("ts_year=1997")),
          s"ts range must prune to the two year dirs: ${ranged.take(3)}")
        require(ranged.size < all.size,
          "the derived year filter must plan fewer files than the full scan")
        val point = planned(s.sql(
          "SELECT price_c FROM graft.q114t WHERE okey = 32"))
        require(point.nonEmpty && point.map(
            _.replaceAll(".*okey_bucket=([0-9]+).*", "$1")).toSet.size == 1,
          s"okey equality must prune to ONE bucket dir: ${point.take(3)}")
        require(point.size < all.size,
          "the derived bucket filter must plan fewer files than the full scan")
        s.sql(
          """SELECT CAST(year(ts) AS BIGINT) AS y,
            |       CAST(count(*) AS BIGINT) AS n,
            |       CAST(sum(price_c) AS BIGINT) AS sum_price
            |FROM graft.q114t
            |WHERE ts >= timestamp'1996-01-01 00:00:00'
            |  AND ts < timestamp'1998-01-01 00:00:00'
            |GROUP BY year(ts) ORDER BY y""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum($cents) AS BIGINT) AS sum_price
           |FROM orders
           |WHERE o_orderdate >= DATE '1996-01-01'
           |  AND o_orderdate < DATE '1998-01-01'
           |GROUP BY year(o_orderdate) ORDER BY y""".stripMargin
      }),

    // Q115 [extension: automatic MV query rewrite] The piece that makes
    // incrementally-maintained views TRANSPARENT (the Oracle/BigQuery MV
    // rewrite): an aggregate query over the catalog fact whose shape
    // matches a maintained view's definition scans the VIEW (rows per
    // group) instead of re-aggregating the source — at 100 TB the
    // difference between reading a few thousand pre-aggregated rows and
    // re-shuffling the fact table. Plan-audited inside the gate: the
    // fresh view SERVES (MV scan present, base scan gone), a source write
    // makes it stale and the SAME query falls back to the direct scan
    // (never serving old rows), a refresh restores the rewrite, and the
    // served answers are verified equal to the rewrite-disabled direct
    // plan in-gate before the DuckDB oracle hashes them again.
    "q115_mv_rewrite" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115t (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q115_src")
        s.sql("INSERT INTO graft.q115t SELECT id, salary, segment FROM q115_src")
        val srcRoot = s"$wh/q115t"
        val mv = graft.GateTmp.freshDir("q115_mv")
        val aggs = Seq("count", "sum", "min", "max")
        MatView.create(s, srcRoot, mv, Seq("segment"), "salary", aggs)
        val q = """SELECT segment, count(*) AS n_rows,
          |  CAST(sum(salary) AS BIGINT) AS val_sum,
          |  min(salary) AS val_min, max(salary) AS val_max
          |FROM graft.q115t GROUP BY segment""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        // fresh view: the MV scan replaced the base aggregate (plan lock)
        val p1 = planOf(q)
        require(p1.contains("q115_mv"),
          s"rewrite must scan the materialized view:\n$p1")
        require(!p1.contains("/q115t/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // source writes make the view non-covering: same query, direct plan
        s.sql("UPDATE graft.q115t SET salary = salary + 100 WHERE id % 7 = 0")
        s.sql("DELETE FROM graft.q115t WHERE id % 9 = 0")
        val p2 = planOf(q)
        require(!p2.contains("q115_mv"),
          s"a stale view must never serve (fallback to direct):\n$p2")
        // refresh restores coverage; the rewrite fires again
        MatView.refresh(s, srcRoot, mv, Seq("segment"), "salary", aggs)
        val p3 = planOf(q)
        require(p3.contains("q115_mv"),
          s"the refreshed view must serve again:\n$p3")
        // in-gate referee: served ≡ rewrite-disabled direct, distributed
        // (the direct side lands in a scratch parquet; one bag-diff
        // shuffle; no driver collect — VERDICT r19 #7)
        val served = refereeServedEqualsDirect(s, q, "q115",
          "MV-served answers must equal the direct aggregate")
        s.sql(q).orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0))
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(min(salary) AS BIGINT) AS val_min,
           |  CAST(max(salary) AS BIGINT) AS val_max
           |FROM v2 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q115b [extension: automatic JOIN-MV rewrite] The second rewrite
    // shape: an INNER equi-join of two catalog tables on exactly a
    // maintained join view's keys serves from the view — one pre-joined
    // scan instead of re-shuffling both sides (at 100 TB, the enrichment
    // join a warehouse repeats all day). Residual predicates from either
    // side re-apply on the view (σ commutes with the materialized join);
    // staleness on EITHER source falls back to the direct join; a
    // refreshJoin restores the rewrite. Plan-audited like q115.
    "q115b_join_mv_rewrite" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115bf (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        s.sql("CREATE TABLE graft.q115bd (segment STRING, bonus BIGINT) " +
          "TBLPROPERTIES ('cdc.keys' = 'segment')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q115b_src")
        s.sql("INSERT INTO graft.q115bf SELECT id, salary, segment FROM q115b_src")
        s.sql("INSERT INTO graft.q115bd VALUES ('BUILDING', 100), " +
          "('AUTOMOBILE', 200), ('MACHINERY', 300), ('HOUSEHOLD', 400)")
        val mv = graft.GateTmp.freshDir("q115b_mv")
        MatView.createJoin(s, s"$wh/q115bf", s"$wh/q115bd", mv, Seq("segment"))
        val q = """SELECT f.segment, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(f.salary + d.bonus) AS BIGINT) AS sal_b
          |FROM graft.q115bf f JOIN graft.q115bd d ON f.segment = d.segment
          |WHERE f.salary > 0
          |GROUP BY f.segment""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q115b_mv"),
          s"the join must serve from the view:\n$p1")
        require(!p1.contains("/q115bf/") && !p1.contains("/q115bd/"),
          s"neither base table may be scanned when the view serves:\n$p1")
        // a dim write staleness-falls-back; refreshJoin restores
        s.sql("INSERT INTO graft.q115bd VALUES ('FURNITURE', 500)")
        require(!planOf(q).contains("q115b_mv"),
          "a stale join view must never serve")
        MatView.refreshJoin(s, s"$wh/q115bf", s"$wh/q115bd", mv, Seq("segment"))
        require(planOf(q).contains("q115b_mv"),
          "the refreshed join view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q115b",
          "view-served join answers must equal the direct join")
        s.sql(q).orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH f AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |d AS (SELECT * FROM (VALUES ('BUILDING', 100), ('AUTOMOBILE', 200),
           |  ('MACHINERY', 300), ('HOUSEHOLD', 400), ('FURNITURE', 500))
           |  AS t(segment, bonus))
           |SELECT f.segment, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(f.salary + d.bonus) AS BIGINT) AS sal_b
           |FROM f JOIN d ON f.segment = d.segment
           |WHERE f.salary > 0
           |GROUP BY f.segment ORDER BY f.segment""".stripMargin
      }),

    // Q115c [extension: MV rewrite under NULL-bearing values — the r17
    // latent hole, now gated] The view maintains val_cnt = count(v), the
    // NON-NULL count the direct plan's avg divides by (count(*) counts
    // NULL-valued rows; avg/sum ignore them; an all-NULL group's direct
    // sum/avg are SQL NULL). Planted NULLs — every 3rd salary, plus one
    // segment that is ALL NULL — make the old n_rows-derived val_avg (and
    // an unguarded val_sum) observably wrong; this gate hash-pins the
    // SERVED answers (plan-locked onto the view) against DuckDB computing
    // the same aggregates directly, through a NULL-churning DML + refresh
    // round (values→NULL updates shrink val_cnt, NULL inserts leave it).
    "q115c_mv_rewrite_nulls" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115c")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115ct (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q115c_src")
        s.sql(
          """INSERT INTO graft.q115ct
            |SELECT id,
            |  CASE WHEN id % 3 = 0 OR segment = 'FURNITURE' THEN NULL
            |       ELSE salary END,
            |  segment FROM q115c_src""".stripMargin)
        val srcRoot = s"$wh/q115ct"
        val mv = graft.GateTmp.freshDir("q115c_mv")
        val aggs = Seq("count", "sum", "avg", "min", "max")
        MatView.create(s, srcRoot, mv, Seq("segment"), "salary", aggs)
        val q = """SELECT segment, count(*) AS n_rows,
          |  count(salary) AS val_cnt,
          |  CAST(sum(salary) AS BIGINT) AS val_sum,
          |  avg(salary) AS val_avg,
          |  min(salary) AS val_min, max(salary) AS val_max
          |FROM graft.q115ct GROUP BY segment""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q115c_mv"),
          s"rewrite must scan the materialized view:\n$p1")
        require(!p1.contains("/q115ct/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // NULL churn: values→NULL (val_cnt shrinks, n_rows does not),
        // deletes of NULL and non-NULL rows — then refresh restores serving
        s.sql("UPDATE graft.q115ct SET salary = NULL WHERE id % 7 = 0")
        s.sql("DELETE FROM graft.q115ct WHERE id % 9 = 0")
        require(!planOf(q).contains("q115c_mv"),
          "a stale view must never serve")
        MatView.refresh(s, srcRoot, mv, Seq("segment"), "salary", aggs)
        require(planOf(q).contains("q115c_mv"),
          "the refreshed view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q115c",
          "NULL-bearing MV-served answers must equal the direct aggregate")
        require(served.filter(col(served.columns(3)).isNull &&
            col(served.columns(4)).isNull).limit(1).count() == 1L,
          "test integrity: an all-NULL segment (SQL NULL sum/avg) must exist")
        s.sql(q).orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment
           |  FROM customer),
           |v0 AS (SELECT id,
           |  CASE WHEN id % 3 = 0 OR segment = 'FURNITURE' THEN NULL
           |       ELSE salary END AS salary, segment FROM base),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN NULL ELSE salary END AS salary,
           |  segment FROM v0),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0))
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(salary) AS BIGINT) AS val_cnt,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(salary) AS DOUBLE) AS val_avg,
           |  CAST(min(salary) AS BIGINT) AS val_min,
           |  CAST(max(salary) AS BIGINT) AS val_max
           |FROM v2 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q115d [extension: FK-keyed join-MV rewrite] The first rewrite that
    // fires on the testdata's own canonical join: orders ⋈ customer on
    // o_custkey = c_custkey — DIFFERENTLY-named key sides (the FK shape
    // real schemas have; r17's rewrite only matched USING-style same-name
    // keys, so this canonical join could never serve). The view stores
    // BOTH key columns; the rewrite matches the pair in either written
    // orientation, re-applies residual predicates from both sides, and
    // staleness on the dim falls back until refreshJoin catches up —
    // plan-audited like q115b, hash-pinned against DuckDB's direct join
    // after the same dim mutation.
    "q115d_join_mv_fk" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115d")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115df (o_orderkey BIGINT, " +
          "o_custkey BIGINT, price_c BIGINT) " +
          "TBLPROPERTIES ('cdc.keys' = 'o_orderkey')")
        s.sql("CREATE TABLE graft.q115dd (c_custkey BIGINT, " +
          "c_mktsegment STRING) TBLPROPERTIES ('cdc.keys' = 'c_custkey')")
        Tables.orders(s, d)
          .select($("o_orderkey"), $("o_custkey"),
            graft.Canon.cents($("o_totalprice")).as("price_c"))
          .createOrReplaceTempView("q115d_ord")
        Tables.customer(s, d).select($("c_custkey"), $("c_mktsegment"))
          .createOrReplaceTempView("q115d_cust")
        s.sql("INSERT INTO graft.q115df SELECT * FROM q115d_ord")
        s.sql("INSERT INTO graft.q115dd SELECT * FROM q115d_cust")
        val mv = graft.GateTmp.freshDir("q115d_mv")
        MatView.createJoin(s, s"$wh/q115df", s"$wh/q115dd", mv,
          Seq("o_custkey=c_custkey"))
        // residual predicates from BOTH sides re-apply on the view
        val q = """SELECT f.o_orderkey, f.o_custkey, d.c_custkey,
          |  d.c_mktsegment, f.price_c
          |FROM graft.q115df f JOIN graft.q115dd d
          |  ON f.o_custkey = d.c_custkey
          |WHERE f.price_c > 20000000 AND d.c_mktsegment <> 'MACHINERY'
          |""".stripMargin
        def scansUnder(roots: Seq[String], dir: String): Boolean =
          roots.exists(r => r == dir || r.startsWith(dir + "/"))
        val p1 = scannedRoots(s, q)
        require(scansUnder(p1, mv),
          s"the FK join must serve from the view; scans:\n${p1.mkString("\n")}")
        require(!scansUnder(p1, s"$wh/q115df") && !scansUnder(p1, s"$wh/q115dd"),
          s"neither base table may be scanned when the view serves; scans:\n${p1.mkString("\n")}")
        // a dim mutation staleness-falls-back; refreshJoin restores
        s.sql("UPDATE graft.q115dd SET c_mktsegment = 'MIGRATED' " +
          "WHERE c_custkey % 10 = 0")
        require(!scansUnder(scannedRoots(s, q), mv),
          "a stale FK join view must never serve")
        MatView.refreshJoin(s, s"$wh/q115df", s"$wh/q115dd", mv,
          Seq("o_custkey=c_custkey"))
        require(scansUnder(scannedRoots(s, q), mv),
          "the refreshed FK join view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q115d",
          "view-served FK join answers must equal the direct join")
        s.sql(q).orderBy($("o_orderkey"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH f AS (
           |  SELECT o_orderkey, o_custkey, $cents AS price_c FROM orders),
           |d AS (SELECT c_custkey,
           |  CASE WHEN c_custkey % 10 = 0 THEN 'MIGRATED'
           |       ELSE c_mktsegment END AS c_mktsegment
           |  FROM customer)
           |SELECT f.o_orderkey, f.o_custkey, d.c_custkey, d.c_mktsegment,
           |  f.price_c
           |FROM f JOIN d ON f.o_custkey = d.c_custkey
           |WHERE f.price_c > 20000000 AND d.c_mktsegment <> 'MACHINERY'
           |ORDER BY f.o_orderkey""".stripMargin
      }),

    // Q115e [extension: expression-grouping-key MV rewrite] The dashboard
    // shape MV rewrite exists for: `GROUP BY year(ts)` served from a view
    // grouped by that same derived expression. The view stores the
    // expression's value under a derived column (`year_ts`), maintenance
    // derives it on every delta/recompute input, and the rewrite matches
    // the query's grouping expression SEMANTICALLY (the optimizer has
    // already pulled it out as a `_groupingexpression` projection — the
    // rule inlines it back and compares against the analyzed recorded
    // spec). Time expressions are timezone-pinned at create; a session in
    // another zone neither refreshes nor serves. Plan-audited + referee'd
    // like q115, hash-pinned against DuckDB grouping orders by year.
    "q115e_mv_expr_group" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115e")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115et (okey BIGINT, ts TIMESTAMP, " +
          "price_c BIGINT) TBLPROPERTIES ('cdc.keys' = 'okey')")
        Tables.orders(s, d).createOrReplaceTempView("q115e_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql(
          s"""INSERT INTO graft.q115et
             |SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP), $cents
             |FROM q115e_ord""".stripMargin)
        val srcRoot = s"$wh/q115et"
        val mv = graft.GateTmp.freshDir("q115e_mv")
        val aggs = Seq("count", "sum", "avg")
        MatView.create(s, srcRoot, mv, Seq("year(ts)"), "price_c", aggs)
        val q = """SELECT year(ts) AS y, count(*) AS n_rows,
          |  count(price_c) AS val_cnt,
          |  CAST(sum(price_c) AS BIGINT) AS val_sum,
          |  avg(price_c) AS val_avg
          |FROM graft.q115et GROUP BY year(ts)""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q115e_mv"),
          s"GROUP BY year(ts) must serve from the view:\n$p1")
        require(!p1.contains("/q115et/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // a DIFFERENT expression over the same column keeps the direct plan
        require(!planOf("SELECT month(ts) AS m, count(*) AS n " +
          "FROM graft.q115et GROUP BY month(ts)").contains("q115e_mv"),
          "month(ts) must not be served by a year(ts) view")
        // DML + refresh: values move between NULL-free groups; the
        // expression column re-derives on the delta and recompute inputs
        s.sql("UPDATE graft.q115et SET price_c = price_c + 100 " +
          "WHERE okey % 7 = 0")
        s.sql("DELETE FROM graft.q115et WHERE okey % 9 = 0")
        require(!planOf(q).contains("q115e_mv"),
          "a stale view must never serve")
        MatView.refresh(s, srcRoot, mv, Seq("year(ts)"), "price_c", aggs)
        require(planOf(q).contains("q115e_mv"),
          "the refreshed view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q115e",
          "expression-key MV-served answers must equal the direct plan")
        s.sql(q).orderBy($("y"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS okey, o_orderdate AS ts,
           |         $cents AS price_c FROM orders),
           |v1 AS (SELECT okey, ts,
           |  CASE WHEN okey % 7 = 0 THEN price_c + 100 ELSE price_c END
           |    AS price_c FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (okey % 9 = 0))
           |SELECT CAST(year(ts) AS INT) AS y,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(price_c) AS BIGINT) AS val_cnt,
           |  CAST(sum(price_c) AS BIGINT) AS val_sum,
           |  CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) /
           |    CAST(count(price_c) AS DOUBLE) AS val_avg
           |FROM v2 GROUP BY year(ts) ORDER BY y""".stripMargin
      }),

    // Q115f [extension: roll-up rewrite breadth — avg + count(v)] A
    // COARSER GROUP BY served from a finer view: count(*) rolls up as
    // Σn_rows, count(v) as Σval_cnt, sum as Σval_sum (NULL-guarded), avg
    // as Σval_sum/Σval_cnt (exact integer sums, one double divide — the
    // direct Average's own arithmetic). hll_sketch_estimate(
    // hll_sketch_agg(v)) is deliberately REFUSED (plan-locked here): the
    // registers of a union of stored sketches match one pass, but
    // datasketches' estimator selection differs (HIP survives a straight
    // aggregation, not a union), so at estimation-mode cardinalities the
    // served number would silently differ from the direct plan — this
    // gate's own sf0.1 run found exactly that. The view's maintained
    // val_approx_distinct stays the estimate surface, bound-checked
    // in-gate against the exact distinct count.
    "q115f_mv_rollup_breadth" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115f")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115ft (id BIGINT, segment STRING, " +
          "nat BIGINT, salary BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("segment"), (($("id")) % 25).as("nat"),
            $("salary"))
          .createOrReplaceTempView("q115f_src")
        // NULL-bearing values AND an all-NULL segment (VERDICT r18 #8):
        // the roll-up path's Σval_cnt = 0 guard must produce SQL NULL
        // sum/avg for FURNITURE, and every denominator must be the
        // non-null count
        s.sql(
          """INSERT INTO graft.q115ft
            |SELECT id, segment, nat,
            |  CASE WHEN id % 4 = 0 OR segment = 'FURNITURE' THEN NULL
            |       ELSE salary END
            |FROM q115f_src""".stripMargin)
        val srcRoot = s"$wh/q115ft"
        val mv = graft.GateTmp.freshDir("q115f_mv")
        val aggs = Seq("count", "sum", "avg", "approx_distinct")
        // the FINER view: (segment, nat); the query groups by segment only
        MatView.create(s, srcRoot, mv, Seq("segment", "nat"), "salary", aggs)
        val q = """SELECT segment, count(*) AS n_rows,
          |  count(salary) AS val_cnt,
          |  CAST(sum(salary) AS BIGINT) AS val_sum,
          |  avg(salary) AS val_avg
          |FROM graft.q115ft GROUP BY segment""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q115f_mv"),
          s"the roll-up must scan the view:\n$p1")
        require(!p1.contains("/q115ft/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // the HLL estimate shape must keep the DIRECT plan (estimator
        // selection diverges under union — see the gate comment)
        require(!planOf("SELECT segment, " +
          "hll_sketch_estimate(hll_sketch_agg(salary)) AS ad " +
          "FROM graft.q115ft GROUP BY segment").contains("q115f_mv"),
          "hll_sketch_estimate(hll_sketch_agg) must refuse the rewrite")
        // DML + refresh keeps the roll-up serving
        s.sql("UPDATE graft.q115ft SET salary = salary + 10 WHERE id % 6 = 0")
        s.sql("DELETE FROM graft.q115ft WHERE id % 11 = 0")
        require(!planOf(q).contains("q115f_mv"),
          "a stale view must never serve")
        MatView.refresh(s, srcRoot, mv, Seq("segment", "nat"), "salary", aggs)
        require(planOf(q).contains("q115f_mv"),
          "the refreshed view must serve the roll-up again")
        val served = refereeServedEqualsDirect(s, q, "q115f",
          "rolled-up served answers must equal the direct plan")
        // the approx-distinct surface is the VIEW's maintained estimate:
        // bound-check every fine (segment, nat) group against the exact
        // distinct count (q95g pattern), AND-folded per segment so the
        // hashed output stays deterministic for the DuckDB oracle
        s.sql(q).createOrReplaceTempView("q115f_served")
        graft.sources.SnapshotStore.read(s, mv)
          .select($("segment"), $("nat"), $("val_approx_distinct"))
          .createOrReplaceTempView("q115f_fine")
        s.sql("""SELECT segment, nat, count(DISTINCT salary) AS d
          |FROM graft.q115ft GROUP BY segment, nat""".stripMargin)
          .createOrReplaceTempView("q115f_exact")
        require(served.filter(col(served.columns(3)).isNull &&
            col(served.columns(4)).isNull).limit(1).count() == 1L,
          "test integrity: an all-NULL segment (SQL NULL sum/avg) must " +
            "survive the roll-up")
        // coalesce the estimate: an all-NULL group's sketch estimates
        // no values (0, or SQL NULL for a NULL stored sketch) and the
        // exact distinct count is 0 — the bound must hold, not null out
        s.sql(
          """SELECT v.segment, v.n_rows, v.val_cnt, v.val_sum, v.val_avg,
            |  b.ad_ok
            |FROM q115f_served v JOIN (
            |  SELECT f.segment,
            |    min(abs(coalesce(f.val_approx_distinct, 0.0D) -
            |      CAST(e.d AS DOUBLE)) <=
            |      CAST(e.d AS DOUBLE) * 0.02 + 1.0) AS ad_ok
            |  FROM q115f_fine f JOIN q115f_exact e
            |    ON f.segment = e.segment AND f.nat = e.nat
            |  GROUP BY f.segment) b
            |  ON v.segment = b.segment
            |ORDER BY v.segment""".stripMargin)
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, c_mktsegment AS segment,
           |         $cents AS salary0
           |  FROM customer),
           |v0 AS (SELECT id, segment,
           |  CASE WHEN id % 4 = 0 OR segment = 'FURNITURE' THEN NULL
           |       ELSE salary0 END AS salary FROM base),
           |v1 AS (SELECT id, segment,
           |  CASE WHEN id % 6 = 0 THEN salary + 10 ELSE salary END AS salary
           |  FROM v0),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 11 = 0))
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(salary) AS BIGINT) AS val_cnt,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(salary) AS DOUBLE) AS val_avg,
           |  TRUE AS ad_ok
           |FROM v2 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q115g [extension: transitive (view-over-view) rewrite — the q95d
    // diamond read end-to-end] An aggregate over fact ⋈ dim serves from
    // the aggregate view maintained OVER the join view: `_mv_consumers`
    // walks source → join view V1 → summary view V2, freshness chains
    // (V1 pinned to both source heads, V2 pinned to V1's head), and the
    // served plan scans ONLY V2 — neither source nor even V1. The
    // intermediate state is also plan-audited: after refreshJoin alone
    // (V1 fresh, V2 stale) the JOIN serves from V1 while the aggregate
    // must not serve from V2.
    "q115g_mv_transitive" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q115g")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q115gf (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        s.sql("CREATE TABLE graft.q115gd (segment STRING, bonus BIGINT) " +
          "TBLPROPERTIES ('cdc.keys' = 'segment')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q115g_src")
        // NULL-bearing values + an all-NULL segment feed the TRANSITIVE
        // path too (VERDICT r18 #8): the agg view over the join view must
        // carry val_cnt through the change-feed fold and serve FURNITURE's
        // sum as SQL NULL
        s.sql(
          """INSERT INTO graft.q115gf
            |SELECT id,
            |  CASE WHEN id % 4 = 0 OR segment = 'FURNITURE' THEN NULL
            |       ELSE salary END,
            |  segment FROM q115g_src""".stripMargin)
        s.sql("INSERT INTO graft.q115gd VALUES ('BUILDING', 100), " +
          "('AUTOMOBILE', 200), ('MACHINERY', 300), ('HOUSEHOLD', 400), " +
          "('FURNITURE', 500)")
        val jmv = graft.GateTmp.freshDir("q115g_jmv")
        val amv = graft.GateTmp.freshDir("q115g_amv")
        MatView.createJoin(s, s"$wh/q115gf", s"$wh/q115gd", jmv,
          Seq("segment"), emitChanges = true)
        MatView.create(s, jmv, amv, Seq("segment", "bonus"), "salary",
          Seq("count", "sum"))
        val q = """SELECT f.segment, d.bonus, count(*) AS n_rows,
          |  CAST(sum(f.salary) AS BIGINT) AS val_sum
          |FROM graft.q115gf f JOIN graft.q115gd d
          |  ON f.segment = d.segment
          |GROUP BY f.segment, d.bonus""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q115g_amv"),
          s"the aggregate must serve from the DEEPEST view:\n$p1")
        require(!p1.contains("q115g_jmv"),
          s"the join view must not be scanned when the agg view serves:\n$p1")
        require(!p1.contains("/q115gf/") && !p1.contains("/q115gd/"),
          s"no source may be scanned when the agg view serves:\n$p1")
        // source DML: whole chain stale — direct plan
        s.sql("UPDATE graft.q115gf SET salary = salary + 100 WHERE id % 7 = 0")
        s.sql("DELETE FROM graft.q115gf WHERE id % 9 = 0")
        val p2 = planOf(q)
        require(!p2.contains("q115g_amv") && !p2.contains("q115g_jmv"),
          s"a stale chain must take the direct plan:\n$p2")
        // refreshJoin alone: V1 serves the JOIN, V2 must not serve the agg
        MatView.refreshJoin(s, s"$wh/q115gf", s"$wh/q115gd", jmv,
          Seq("segment"))
        val p3 = planOf(q)
        require(p3.contains("q115g_jmv") && !p3.contains("q115g_amv"),
          s"fresh V1 + stale V2 must serve the join from V1 only:\n$p3")
        // refreshAll walks the chain: V2 serves again
        MatView.refreshAll(s, amv)
        require(planOf(q).contains("q115g_amv"),
          "the refreshed chain must serve from the agg view again")
        val served = refereeServedEqualsDirect(s, q, "q115g",
          "transitively-served answers must equal the direct plan")
        require(served.filter(col(served.columns(3)).isNull)
            .limit(1).count() == 1L,
          "test integrity: an all-NULL segment (SQL NULL sum) must exist")
        s.sql(q).orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base0 AS (
           |  SELECT c_custkey AS id, $cents AS salary0,
           |         c_mktsegment AS segment
           |  FROM customer),
           |base AS (SELECT id,
           |  CASE WHEN id % 4 = 0 OR segment = 'FURNITURE' THEN NULL
           |       ELSE salary0 END AS salary, segment FROM base0),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 7 = 0 THEN salary + 100 ELSE salary END AS salary,
           |  segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |d AS (SELECT * FROM (VALUES ('BUILDING', 100), ('AUTOMOBILE', 200),
           |  ('MACHINERY', 300), ('HOUSEHOLD', 400), ('FURNITURE', 500))
           |  AS t(segment, bonus))
           |SELECT f.segment, CAST(d.bonus AS BIGINT) AS bonus,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(f.salary) AS BIGINT) AS val_sum
           |FROM v2 f JOIN d ON f.segment = d.segment
           |GROUP BY f.segment, d.bonus ORDER BY f.segment""".stripMargin
      }),

    // Q116 [extension: OUTER-type FK join views — VERDICT r18 Missing #1]
    // The most common enrichment view in a real warehouse:
    // `orders LEFT JOIN customer ON o_custkey = c_custkey`, maintained
    // incrementally and SERVED by the rewrite. The dim starts with gaps
    // (custkey % 5 dropped) so null-extended fact rows exist from create;
    // a dim DELETE then flips matched rows to null-extended THROUGH
    // refreshJoin (the OR-of-sides touched-key probe — the row's stored
    // right key is the only witness it must be replaced). Plan-audited:
    // the left join serves from the view with a preserved-side (fact)
    // WHERE re-applied, and the optimizer's inferred isnotnull on the
    // null-extending key is dropped, never re-applied.
    "q116_join_mv_outer_fk" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q116")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q116f (o_orderkey BIGINT, " +
          "o_custkey BIGINT, price_c BIGINT) " +
          "TBLPROPERTIES ('cdc.keys' = 'o_orderkey')")
        s.sql("CREATE TABLE graft.q116d (c_custkey BIGINT, " +
          "c_mktsegment STRING) TBLPROPERTIES ('cdc.keys' = 'c_custkey')")
        Tables.orders(s, d)
          .select($("o_orderkey"), $("o_custkey"),
            graft.Canon.cents($("o_totalprice")).as("price_c"))
          .createOrReplaceTempView("q116_ord")
        Tables.customer(s, d)
          .filter(!($("c_custkey") % 5 === 0))
          .select($("c_custkey"), $("c_mktsegment"))
          .createOrReplaceTempView("q116_cust")
        s.sql("INSERT INTO graft.q116f SELECT * FROM q116_ord")
        s.sql("INSERT INTO graft.q116d SELECT * FROM q116_cust")
        val mv = graft.GateTmp.freshDir("q116_mv")
        MatView.createJoin(s, s"$wh/q116f", s"$wh/q116d", mv,
          Seq("o_custkey=c_custkey"), joinType = "left")
        val q = """SELECT f.o_orderkey, f.o_custkey, d.c_custkey,
          |  d.c_mktsegment, f.price_c
          |FROM graft.q116f f LEFT JOIN graft.q116d d
          |  ON f.o_custkey = d.c_custkey
          |WHERE f.price_c > 20000000""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q116_mv"),
          s"the LEFT FK join must serve from the view:\n$p1")
        require(!p1.contains("/q116f/") && !p1.contains("/q116d/"),
          s"neither base table may be scanned when the view serves:\n$p1")
        // an INNER join over the same tables must keep the direct plan
        require(!planOf("SELECT f.o_orderkey FROM graft.q116f f " +
          "JOIN graft.q116d d ON f.o_custkey = d.c_custkey")
          .contains("q116_mv"),
          "an inner join must not be served by a left_outer view")
        // dim DELETE: staleness falls back; refreshJoin flips the deleted
        // customers' orders to null-extended and restores serving
        s.sql("DELETE FROM graft.q116d WHERE c_custkey % 3 = 0")
        require(!planOf(q).contains("q116_mv"),
          "a stale outer view must never serve")
        MatView.refreshJoin(s, s"$wh/q116f", s"$wh/q116d", mv,
          Seq("o_custkey=c_custkey"))
        require(planOf(q).contains("q116_mv"),
          "the refreshed outer view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q116",
          "view-served LEFT join answers must equal the direct join")
        require(served.filter(col(served.columns(2)).isNull)
            .limit(1).count() == 1L,
          "test integrity: null-extended rows must exist in the answer")
        s.sql(q).orderBy($("o_orderkey"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH f AS (
           |  SELECT o_orderkey, o_custkey, $cents AS price_c FROM orders),
           |d AS (SELECT c_custkey, c_mktsegment FROM customer
           |  WHERE NOT (c_custkey % 5 = 0) AND NOT (c_custkey % 3 = 0))
           |SELECT f.o_orderkey, f.o_custkey, d.c_custkey, d.c_mktsegment,
           |  f.price_c
           |FROM f LEFT JOIN d ON f.o_custkey = d.c_custkey
           |WHERE f.price_c > 20000000
           |ORDER BY f.o_orderkey""".stripMargin
      }),

    // Q116b [extension: residual ON conjuncts in the join-MV rewrite —
    // VERDICT r18 Missing #2] `ON f.fk = d.pk AND f.salary > d.thr` — a
    // CROSS-SIDE residual the optimizer cannot push to one leg, so it
    // stays in the join condition. r18 refused the whole rewrite on the
    // first non-equality conjunct; now the equality pairs match the view
    // keys and the residual re-applies on the materialized view (any
    // deterministic predicate commutes with an inner materialization).
    "q116b_join_mv_residual_on" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q116b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q116bf (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        s.sql("CREATE TABLE graft.q116bd (seg STRING, thr BIGINT) " +
          "TBLPROPERTIES ('cdc.keys' = 'seg')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q116b_src")
        s.sql("INSERT INTO graft.q116bf SELECT * FROM q116b_src")
        s.sql("INSERT INTO graft.q116bd VALUES ('BUILDING', 200000), " +
          "('AUTOMOBILE', 400000), ('MACHINERY', 600000), " +
          "('HOUSEHOLD', 300000), ('FURNITURE', 500000)")
        val mv = graft.GateTmp.freshDir("q116b_mv")
        MatView.createJoin(s, s"$wh/q116bf", s"$wh/q116bd", mv,
          Seq("segment=seg"))
        val q = """SELECT f.id, f.segment, d.seg, f.salary, d.thr
          |FROM graft.q116bf f JOIN graft.q116bd d
          |  ON f.segment = d.seg AND f.salary > d.thr""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q116b_mv"),
          s"the residual-ON join must serve from the view:\n$p1")
        require(!p1.contains("/q116bf/") && !p1.contains("/q116bd/"),
          s"neither base table may be scanned when the view serves:\n$p1")
        // dim mutation: staleness falls back; refreshJoin restores
        s.sql("UPDATE graft.q116bd SET thr = thr - 100000 " +
          "WHERE seg = 'BUILDING'")
        require(!planOf(q).contains("q116b_mv"),
          "a stale view must never serve")
        MatView.refreshJoin(s, s"$wh/q116bf", s"$wh/q116bd", mv,
          Seq("segment=seg"))
        require(planOf(q).contains("q116b_mv"),
          "the refreshed view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q116b",
          "residual-ON served answers must equal the direct join")
        s.sql(q).orderBy($("id"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH f AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment FROM customer),
           |d0 AS (SELECT * FROM (VALUES ('BUILDING', 200000),
           |  ('AUTOMOBILE', 400000), ('MACHINERY', 600000),
           |  ('HOUSEHOLD', 300000), ('FURNITURE', 500000))
           |  AS t(seg, thr)),
           |d AS (SELECT seg, CASE WHEN seg = 'BUILDING' THEN thr - 100000
           |  ELSE thr END AS thr FROM d0)
           |SELECT f.id, f.segment, d.seg, f.salary, CAST(d.thr AS BIGINT) AS thr
           |FROM f JOIN d ON f.segment = d.seg AND f.salary > d.thr
           |ORDER BY f.id""".stripMargin
      }),

    // Q116c [extension: monotone time-coarsening roll-up — VERDICT r18
    // Missing #3] The dashboard drill-up: a view grouped by
    // `date_trunc('month', ts)` serves BOTH the month query (exact) and
    // `GROUP BY year(ts)` (roll-up: year = a coarsening of month along
    // the nesting chain, so the served plan re-aggregates ~12 stored rows
    // per year — never the source). `date_trunc('week', ts)` must refuse
    // (a week-start may fall in the previous month — week does not nest).
    "q116c_mv_time_rollup" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q116c")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q116ct (okey BIGINT, ts TIMESTAMP, " +
          "price_c BIGINT) TBLPROPERTIES ('cdc.keys' = 'okey')")
        Tables.orders(s, d).createOrReplaceTempView("q116c_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql(
          s"""INSERT INTO graft.q116ct
             |SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP), $cents
             |FROM q116c_ord""".stripMargin)
        val srcRoot = s"$wh/q116ct"
        val mv = graft.GateTmp.freshDir("q116c_mv")
        val aggs = Seq("count", "sum", "avg")
        MatView.create(s, srcRoot, mv, Seq("date_trunc('month', ts)"),
          "price_c", aggs)
        val qMonth = """SELECT date_trunc('month', ts) AS m,
          |  count(*) AS n FROM graft.q116ct
          |GROUP BY date_trunc('month', ts)""".stripMargin
        val qYear = """SELECT year(ts) AS y, count(*) AS n_rows,
          |  count(price_c) AS val_cnt,
          |  CAST(sum(price_c) AS BIGINT) AS val_sum,
          |  avg(price_c) AS val_avg
          |FROM graft.q116ct GROUP BY year(ts)""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        require(planOf(qMonth).contains("q116c_mv"),
          s"the exact month query must serve:\n${planOf(qMonth)}")
        val p1 = planOf(qYear)
        require(p1.contains("q116c_mv"),
          s"GROUP BY year(ts) must roll up from the month view:\n$p1")
        require(!p1.contains("/q116ct/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // week does NOT nest in month: direct plan
        require(!planOf("SELECT date_trunc('week', ts) AS w, count(*) AS n " +
          "FROM graft.q116ct GROUP BY date_trunc('week', ts)")
          .contains("q116c_mv"),
          "date_trunc('week') must not serve from a month view")
        // DML + refresh keeps both grains serving
        s.sql("UPDATE graft.q116ct SET price_c = price_c + 100 " +
          "WHERE okey % 7 = 0")
        s.sql("DELETE FROM graft.q116ct WHERE okey % 9 = 0")
        require(!planOf(qYear).contains("q116c_mv"),
          "a stale view must never serve")
        MatView.refresh(s, srcRoot, mv, Seq("date_trunc('month', ts)"),
          "price_c", aggs)
        require(planOf(qYear).contains("q116c_mv"),
          "the refreshed view must serve the roll-up again")
        val served = refereeServedEqualsDirect(s, qYear, "q116c",
          "coarsened roll-up answers must equal the direct plan")
        s.sql(qYear).orderBy($("y"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS okey, o_orderdate AS ts,
           |         $cents AS price_c FROM orders),
           |v1 AS (SELECT okey, ts,
           |  CASE WHEN okey % 7 = 0 THEN price_c + 100 ELSE price_c END
           |    AS price_c FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (okey % 9 = 0))
           |SELECT CAST(year(ts) AS INT) AS y,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(price_c) AS BIGINT) AS val_cnt,
           |  CAST(sum(price_c) AS BIGINT) AS val_sum,
           |  CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) /
           |    CAST(count(price_c) AS DOUBLE) AS val_avg
           |FROM v2 GROUP BY year(ts) ORDER BY y""".stripMargin
      }),

    // Q116d [extension: timezone pin scoped to time-dependent expression
    // keys — VERDICT r18 Missing #4] An `upper(segment)`-grouped view is
    // zone-FREE: it records no tz pin, so it keeps serving and refreshing
    // after the session zone changes — while a `year(ts)`-grouped view
    // (zone-dependent bucketing) still refuses to serve under the changed
    // zone. Both behaviors plan-audited under the flipped zone; the
    // session zone is restored before the gate returns.
    "q116d_mv_tzfree_expr" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q116d")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q116dt (id BIGINT, salary BIGINT, " +
          "segment STRING, ts TIMESTAMP) TBLPROPERTIES ('cdc.keys' = 'id')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .withColumn("ts",
            org.apache.spark.sql.functions.expr(
              "timestampadd(HOUR, CAST(id % 9000 AS INT), " +
                "TIMESTAMP'2024-01-01 00:00:00')"))
          .createOrReplaceTempView("q116d_src")
        s.sql("INSERT INTO graft.q116dt SELECT * FROM q116d_src")
        val srcRoot = s"$wh/q116dt"
        val mvU = graft.GateTmp.freshDir("q116d_mvu")
        val mvY = graft.GateTmp.freshDir("q116d_mvy")
        MatView.create(s, srcRoot, mvU, Seq("upper(segment)"), "salary",
          Seq("count", "sum"))
        MatView.create(s, srcRoot, mvY, Seq("year(ts)"), "salary",
          Seq("count", "sum"))
        val qU = """SELECT upper(segment) AS useg, count(*) AS n,
          |  CAST(sum(salary) AS BIGINT) AS sal
          |FROM graft.q116dt GROUP BY upper(segment)""".stripMargin
        val qY = """SELECT year(ts) AS y, count(*) AS n
          |FROM graft.q116dt GROUP BY year(ts)""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        require(planOf(qU).contains("q116d_mvu"),
          s"the zone-free view must serve in its create zone:\n${planOf(qU)}")
        require(planOf(qY).contains("q116d_mvy"),
          s"the year view must serve in its create zone:\n${planOf(qY)}")
        val z0 = s.sessionState.conf.sessionLocalTimeZone
        val z1 = if (MatView.sameZone(z0, "UTC")) "America/New_York" else "UTC"
        s.conf.set("spark.sql.session.timeZone", z1)
        try {
          require(planOf(qU).contains("q116d_mvu"),
            s"the zone-free view must keep serving under $z1:\n${planOf(qU)}")
          require(!planOf(qY).contains("q116d_mvy"),
            s"the year(ts) view must refuse under $z1:\n${planOf(qY)}")
          // DML + refresh of the zone-free view under the changed zone
          s.sql("UPDATE graft.q116dt SET salary = salary + 10 " +
            "WHERE id % 6 = 0")
          require(!planOf(qU).contains("q116d_mvu"),
            "a stale view must never serve")
          MatView.refresh(s, srcRoot, mvU, Seq("upper(segment)"), "salary",
            Seq("count", "sum"))
          require(planOf(qU).contains("q116d_mvu"),
            s"the zone-free view must refresh and serve under $z1")
          refereeServedEqualsDirect(s, qU, "q116d",
            "zone-free served answers must equal the direct plan")
        } finally s.conf.set("spark.sql.session.timeZone", z0)
        s.sql(qU).orderBy($("useg"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment FROM customer),
           |v1 AS (SELECT id, segment,
           |  CASE WHEN id % 6 = 0 THEN salary + 10 ELSE salary END AS salary
           |  FROM base)
           |SELECT upper(segment) AS useg, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(salary) AS BIGINT) AS sal
           |FROM v1 GROUP BY upper(segment) ORDER BY useg""".stripMargin
      }),

    // Q116e [extension: FILTERED (σ) materialized views] The SQL-Server
    // indexed-view / Oracle-MV WHERE shape: the view aggregates ONLY rows
    // passing a predicate, maintenance evaluates the predicate PER TYPED
    // CHANGE ROW (an UPDATE moving a row across the boundary nets out in
    // the ±fold: its preimage and postimage pass/fail independently), and
    // the rewrite serves a query whose WHERE covers the predicate by
    // ABSORBING it — the view population IS the filtered set. A query
    // without the predicate (a superset read) or with a different one
    // keeps the direct plan, plan-locked here.
    "q116e_mv_filtered" -> QueryDef(
      build = (s, d) => {
        import graft.sources.{MatView, MvRewrite}
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q116e")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        s.sql("CREATE TABLE graft.q116et (id BIGINT, salary BIGINT, " +
          "segment STRING) TBLPROPERTIES ('cdc.keys' = 'id')")
        RelationalPipeline.employeeView(s, d)
          .select($("id"), $("salary"), $("segment"))
          .createOrReplaceTempView("q116e_src")
        s.sql("INSERT INTO graft.q116et SELECT * FROM q116e_src")
        val srcRoot = s"$wh/q116et"
        val mv = graft.GateTmp.freshDir("q116e_mv")
        val aggs = Seq("count", "sum", "avg")
        MatView.create(s, srcRoot, mv, Seq("segment"), "salary", aggs,
          where = Some("salary > 400000"))
        val q = """SELECT segment, count(*) AS n_rows,
          |  count(salary) AS val_cnt,
          |  CAST(sum(salary) AS BIGINT) AS val_sum,
          |  avg(salary) AS val_avg
          |FROM graft.q116et WHERE salary > 400000
          |GROUP BY segment""".stripMargin
        def planOf(sql: String): String =
          s.sql(sql).queryExecution.executedPlan.toString
        val p1 = planOf(q)
        require(p1.contains("q116e_mv"),
          s"the covered query must serve from the sigma-view:\n$p1")
        require(!p1.contains("/q116et/"),
          s"the base table must not be scanned when the view serves:\n$p1")
        // a SUPERSET query (no WHERE) and a different predicate refuse
        require(!planOf("SELECT segment, count(*) AS n FROM graft.q116et " +
          "GROUP BY segment").contains("q116e_mv"),
          "a query without the view predicate reads a superset — direct")
        require(!planOf("SELECT segment, count(*) AS n FROM graft.q116et " +
          "WHERE salary > 500000 GROUP BY segment").contains("q116e_mv"),
          "a different predicate must keep the direct plan")
        // boundary-crossing DML both ways + deletes; refresh restores
        s.sql("UPDATE graft.q116et SET salary = 100 WHERE id % 7 = 0")
        s.sql("UPDATE graft.q116et SET salary = 950000 WHERE id % 11 = 3")
        s.sql("DELETE FROM graft.q116et WHERE id % 9 = 0")
        require(!planOf(q).contains("q116e_mv"),
          "a stale sigma-view must never serve")
        MatView.refresh(s, srcRoot, mv, Seq("segment"), "salary", aggs)
        require(planOf(q).contains("q116e_mv"),
          "the refreshed sigma-view must serve again")
        val served = refereeServedEqualsDirect(s, q, "q116e",
          "sigma-view-served answers must equal the direct filtered plan")
        s.sql(q).orderBy($("segment"))
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("c_acctbal")
        s"""WITH base AS (
           |  SELECT c_custkey AS id, $cents AS salary,
           |         c_mktsegment AS segment FROM customer),
           |v1 AS (SELECT id,
           |  CASE WHEN id % 11 = 3 THEN 950000
           |       WHEN id % 7 = 0 THEN 100
           |       ELSE salary END AS salary, segment FROM base),
           |v2 AS (SELECT * FROM v1 WHERE NOT (id % 9 = 0)),
           |v3 AS (SELECT * FROM v2 WHERE salary > 400000)
           |SELECT segment, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(salary) AS BIGINT) AS val_cnt,
           |  CAST(sum(salary) AS BIGINT) AS val_sum,
           |  CAST(CAST(sum(salary) AS BIGINT) AS DOUBLE) /
           |    CAST(count(salary) AS DOUBLE) AS val_avg
           |FROM v3 GROUP BY segment ORDER BY segment""".stripMargin
      }),

    // Q110b [extension: partition-TRANSFORM evolution — Iceberg's
    // `REPLACE PARTITION FIELD days(ts) → hours(ts)`] Re-granulating the
    // time layout of a live table without rewriting it: the evolve is one
    // metadata-only ALTER (the new hours derived column + spec sidecar) on
    // the q110 multi-spec era machinery, and the read side derives
    // NULL-SAFE partition filters from SOURCE-column predicates that prune
    // correctly across mixed-granularity eras — plan-audited here: a
    // cross-era time-range query plans only matching `ts_day=` dirs in the
    // days era AND only matching `ts_hour=` dirs under `_spec1/`. The
    // migrating OPTIMIZE then backfills the derivation (pre-evolution rows
    // stored NULL) so the healed single-spec table prunes on hours for
    // every row — at 100 TB this is how a table's time grain tightens as
    // its query patterns do, for the cost of metadata until the next
    // compaction.
    "q110b_transform_evolution" -> QueryDef(
      build = (s, d) => {
        graft.GraftExtensions.install(s)
        val wh = graft.GateTmp.freshDir("q110b")
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.warehouse", wh)
        Tables.orders(s, d).createOrReplaceTempView("q110b_ord")
        val cents = graft.Canon.centsSql("o_totalprice")
        s.sql(
          """CREATE TABLE graft.q110bt (ok BIGINT, ts TIMESTAMP, price_c BIGINT)
            |PARTITIONED BY (days(ts))""".stripMargin)
        // a ONE-MONTH slice: hours-granularity over the full 6-year span
        // would mean ~50k partition dirs at sf1 — the regranulation story
        // is about a bounded hot window, and the dir count must stay sane
        def insertEra(r: Int): Unit = s.sql(
          s"""INSERT INTO graft.q110bt (ok, ts, price_c)
             |SELECT o_orderkey,
             |  CAST(o_orderdate AS TIMESTAMP)
             |    + make_interval(0, 0, 0, 0, CAST(o_orderkey % 6 AS INT)),
             |  $cents
             |FROM q110b_ord WHERE o_orderkey % 2 = $r
             |  AND o_orderdate >= DATE '1995-03-01'
             |  AND o_orderdate < DATE '1995-04-01'""".stripMargin)
        insertEra(0) // v1: the days(ts) era
        val evolved = s.sql(
          "CALL graft.system.set_partition_spec('q110bt', 'hours(ts)')").head()
        require(evolved.getLong(1) == 2L, s"spec_count after evolve: $evolved")
        insertEra(1) // lands under _spec1/ts_hour=…
        val root = s"$wh/q110bt"
        require(graft.sources.SnapshotStore
          .isEvolved(graft.sources.SnapshotStore.latest(root).dataDir),
          "snapshot must span specs before migration")
        def planned(sql: String): Seq[String] = {
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
          import org.apache.spark.sql.execution.datasources.FilePartition
          // the SPANNING snapshot reads as substituted V1 scans
          // (FileSourceScanExec); the healed single-spec table reads as
          // the catalog's V2 scan (BatchScanExec) — audit both
          def parts(ps: Seq[Any]): Seq[String] =
            ps.flatMap {
              case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
              case _ => Nil
            }
          def leaves(p: SparkPlan): Seq[String] = p match {
            case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              parts(f.inputRDDs().head.partitions.toSeq)
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              parts(b.scan.toBatch.planInputPartitions().toSeq)
            case other => other.children.flatMap(leaves)
          }
          leaves(s.sql(sql).queryExecution.executedPlan)
        }
        val lo = "1995-03-05 05:00:00"; val hi = "1995-03-28 07:00:00"
        val rq = s"""SELECT date_format(ts, 'yyyy-MM-dd HH') AS h,
          |  CAST(count(*) AS BIGINT) AS n, CAST(sum(price_c) AS BIGINT) AS sp
          |FROM graft.q110bt
          |WHERE ts >= timestamp'$lo' AND ts < timestamp'$hi'
          |GROUP BY date_format(ts, 'yyyy-MM-dd HH')""".stripMargin
        val all = planned("SELECT price_c FROM graft.q110bt")
        val kept = planned(rq)
        def dirVal(f: String, key: String): Option[String] =
          // decode TWICE: the hive dir name escapes ':' as %3A, and the
          // planned file URI percent-encodes that again (%253A) — one
          // decode leaves '%3A' in the value, which mis-compares against
          // the bounds exactly on boundary-day hours ('%' < '0')
          s"(?:^|/)${key}=([^/]+)/".r.findFirstMatchIn(f).map(m =>
            java.net.URLDecoder.decode(
              java.net.URLDecoder.decode(m.group(1), "UTF-8"), "UTF-8"))
        val (e1all, e0all) = all.partition(_.contains("/_spec"))
        val (e1kept, e0kept) = kept.partition(_.contains("/_spec"))
        require(e0kept.nonEmpty && e1kept.nonEmpty,
          s"the range must hit BOTH eras: era0=${e0kept.size} era1=${e1kept.size}")
        // days era: every planned file sits in a matching ts_day dir
        require(e0kept.forall(f => dirVal(f, "ts_day").exists(v =>
          v >= lo.take(10) && v <= hi.take(10))),
          s"days-era pruning leaked: ${e0kept.take(3)}")
        // hours era: every planned file sits in a matching ts_hour dir
        require(e1kept.forall(f => dirVal(f, "ts_hour").exists(v =>
          v >= lo && v <= hi)),
          s"hours-era pruning leaked: ${e1kept.take(3)}")
        // strict pruning asserts only when an out-of-range dir EXISTS to
        // prune (at tiny SF the one-month slice may land every row inside
        // the range — correctness still holds, there is just nothing cut)
        def hasOutside(files: Seq[String], key: String,
            in: String => Boolean): Boolean =
          files.exists(f => dirVal(f, key).exists(v => !in(v)))
        val e0Out = hasOutside(e0all, "ts_day",
          v => v >= lo.take(10) && v <= hi.take(10))
        val e1Out = hasOutside(e1all, "ts_hour", v => v >= lo && v <= hi)
        require(!e0Out || e0kept.size < e0all.size,
          s"days era must prune: ${e0kept.size}/${e0all.size}")
        require(!e1Out || e1kept.size < e1all.size,
          s"hours era must prune: ${e1kept.size}/${e1all.size}")
        val before = s.sql(rq).orderBy($("h"))
        val beforeRows = before.collect().toSeq
        // migrate: the one full rewrite — backfills ts_hour on the old
        // era's rows, heals to single-spec hours layout
        // target_rows sizes BOTH files and write parallelism (rows/target
        // range partitions): hour-granularity means many small dirs, so a
        // small target keeps the migrating rewrite parallel instead of one
        // task writing every dir serially
        s.sql("CALL graft.system.optimize('q110bt', 2000)")
        val healed = graft.sources.SnapshotStore.latest(root)
        require(!graft.sources.SnapshotStore.isEvolved(healed.dataDir),
          "OPTIMIZE must migrate to single-spec")
        val keptAfter = planned(rq)
        val allAfter = planned("SELECT price_c FROM graft.q110bt")
        require(keptAfter.nonEmpty &&
          !keptAfter.exists(_.contains("HIVE_DEFAULT_PARTITION")),
          s"the backfill must leave no null-partition escape dir: " +
            s"${keptAfter.take(3)}")
        require(keptAfter.forall(f => dirVal(f, "ts_hour").exists(v =>
          v >= lo && v <= hi)), s"post-migration pruning: ${keptAfter.take(3)}")
        require(keptAfter.size < allAfter.size ||
          !hasOutside(allAfter, "ts_hour", v => v >= lo && v <= hi),
          "post-migration must prune")
        val after = s.sql(rq).orderBy($("h"))
        require(after.collect().toSeq == beforeRows,
          "migration must not change any served answer")
        after
      },
      oracle = Some {
        val cents = graft.Canon.centsSql("o_totalprice")
        s"""WITH base AS (
           |  SELECT o_orderkey AS ok,
           |         CAST(o_orderdate AS TIMESTAMP)
           |           + INTERVAL 1 HOUR * (o_orderkey % 6) AS ts,
           |         $cents AS price_c
           |  FROM orders
           |  WHERE o_orderdate >= DATE '1995-03-01'
           |    AND o_orderdate < DATE '1995-04-01')
           |SELECT strftime(ts, '%Y-%m-%d %H') AS h,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(price_c) AS BIGINT) AS sp
           |FROM base
           |WHERE ts >= TIMESTAMP '1995-03-05 05:00:00'
           |  AND ts < TIMESTAMP '1995-03-28 07:00:00'
           |GROUP BY 1 ORDER BY h""".stripMargin
      }))
}
