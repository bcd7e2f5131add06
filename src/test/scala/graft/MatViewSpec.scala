package graft

import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance — the 100 TB pattern where a
  * serving aggregate is kept fresh by APPENDING per-batch PARTIAL aggregates
  * (combinable: counts, sums, mergeable HLL sketches) instead of
  * recomputing over the full corpus. Serving merges partials at read time;
  * periodic compaction re-aggregates the partial log into one row per group
  * WITHOUT changing any served answer. Every micro-batch touches only its
  * own increment, so maintenance cost is O(batch), not O(corpus).
  */
class MatViewSpec extends SparkSpec {
  import spark.implicits._

  test("per-batch partials merge to the full-recompute answer; compaction preserves it") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang")
    val mvDir = s"${sys.props("java.io.tmpdir")}/graft_mv_test"
    val fs = new java.io.File(mvDir)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf); f.delete()
    }
    if (fs.exists) rmrf(fs)

    // ingest in 4 disjoint micro-batches; each appends ITS OWN partial agg
    (0 until 4).foreach { b =>
      docs.filter(pmod($"doc_id", lit(4)) === b)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), hll_sketch_agg($"doc_id").as("sk"))
        .withColumn("_batch_id", lit(b.toLong))
        .write.mode("append").parquet(mvDir)
    }

    def serve(src: org.apache.spark.sql.DataFrame) = src.groupBy($"lang")
      .agg(sum($"n_docs").as("n_docs"),
        hll_sketch_estimate(hll_union_agg($"sk")).as("approx_ids"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    val served = serve(spark.read.parquet(mvDir))
    // referee: one-shot recompute over the full corpus
    val direct = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        hll_sketch_estimate(hll_sketch_agg($"doc_id")).as("approx_ids"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // counts must be exact; HLL registers are maxima, so a union of
    // disjoint partials carries the same registers as one pass — estimates
    // are EQUAL, not merely close
    assert(served == direct, s"served=$served direct=$direct")

    // compaction: collapse the 4-partial log to 1 row per lang, re-serve
    val compacted = spark.read.parquet(mvDir).groupBy($"lang")
      .agg(sum($"n_docs").as("n_docs"), hll_union_agg($"sk").as("sk"))
    compacted.write.mode("overwrite").parquet(s"${mvDir}_compact")
    val servedAfter = serve(spark.read.parquet(s"${mvDir}_compact"))
    assert(servedAfter == direct, "compaction must not change served answers")
  }

  test("CDC-driven MatView tracks UPDATE/DELETE/INSERT and drops emptied groups") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mv_cdc_src")
    val mv = GateTmp.freshDir("mv_cdc_mv")
    val base = spark.range(30).selectExpr("id", "id * 10 AS v",
      "CAST(id % 3 AS STRING) AS g")
    SnapshotStore.init(spark, src, base, cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v")
    def viewNow: Map[String, (Long, Long)] =
      SnapshotStore.read(spark, mv).select($"g", $"n_rows", $"val_sum")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def recompute: Map[String, (Long, Long)] =
      SnapshotStore.read(spark, src).groupBy("g")
        .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viewNow == recompute)
    val t = Map("t" -> src)
    SqlDml.execute(spark, "UPDATE t SET v = v + 5 WHERE g = '1'", t)
    SqlDml.execute(spark, "DELETE FROM t WHERE g = '2'", t) // empties a group
    SqlDml.execute(spark,
      "INSERT INTO t SELECT id + 100, 7, '9' FROM range(4)", t) // new group
    MatView.refresh(spark, src, mv, Seq("g"), "v")
    assert(viewNow == recompute, s"view=$viewNow direct=$recompute")
    assert(!viewNow.contains("2"), "emptied group must drop out of the view")
    assert(viewNow("9") == (4L, 28L))
    // idempotence: a second refresh (and a replayed one) commits nothing
    val vBefore = SnapshotStore.latest(mv).version
    MatView.refresh(spark, src, mv, Seq("g"), "v")
    assert(SnapshotStore.latest(mv).version == vBefore,
      "refresh with no new source versions must be a no-op")
    // a refresh racing a replay: same (appId, srcVersion) stamp suppressed
    SnapshotStore.transact(spark, mv, txn = Some(SnapshotStore.Txn(
      MatView.appIdFor(src), SnapshotStore.latest(src).version)))(df => df.limit(0))
    assert(viewNow == recompute, "stamped replay must not clobber the view")
  }

  test("an aggregate-view refresh logs no dropped join hint") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mv_hint_src")
    val mv = GateTmp.freshDir("mv_hint_mv")
    SnapshotStore.init(spark, src, spark.range(30).selectExpr("id",
      "id * 10 AS v", "CAST(id % 3 AS STRING) AS g"), cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v")
    SqlDml.execute(spark, "UPDATE t SET v = v + 5 WHERE g = '1'", Map("t" -> src))
    // Spark cannot broadcast a side of a FULL OUTER join: a hint asking it
    // to is dropped with a HintErrorLogger warning per refresh
    val warned = logged("HintErrorLogger")(MatView.refresh(spark, src, mv, Seq("g"), "v"))
    assert(warned.isEmpty, warned.mkString("\n"))
    assert(SnapshotStore.read(spark, mv).filter($"g" === "1")
      .select($"val_sum").as[Long].head() == (1L until 30L by 3L).map(_ * 10 + 5).sum)
  }

  test("streaming MV maintenance + CALL surface; feed-from-0 never double-counts") {
    import graft.sources.{GraftCatalog, MatView, SnapshotStore, SqlDml}
    val wh = GateTmp.freshDir("mv_stream_wh")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
    spark.sql(
      """CREATE TABLE graft.mvsrc (id BIGINT, v BIGINT, g STRING)
        |TBLPROPERTIES ('cdc.keys' = 'id')""".stripMargin)
    spark.sql(
      "INSERT INTO graft.mvsrc SELECT id, id, CAST(id % 2 AS STRING) FROM range(20)")
    val out = spark.sql(
      "CALL graft.system.create_mv('mvsrc', 'mvagg', 'g', 'v')").head()
    assert(out.getLong(1) == 2L, "two groups expected")
    SqlDml.execute(spark, "UPDATE graft.mvsrc SET v = v + 3 WHERE g = '1'")
    // STREAMING maintenance over the feed from version 0: the high-water
    // mark filter must skip everything create() already aggregated
    val cp = GateTmp.freshDir("mv_stream_cp")
    val q = spark.readStream.format("graft.streaming.ChangeFeedSource")
      .option("path", s"$wh/mvsrc").load()
      .writeStream
      .foreachBatch(MatView.applyBatch(s"$wh/mvsrc", s"$wh/mvagg", Seq("g"), "v") _)
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def viewNow: Map[String, (Long, Long)] =
      SnapshotStore.read(spark, s"$wh/mvagg")
        .select($"g", $"n_rows", $"val_sum").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = SnapshotStore.read(spark, s"$wh/mvsrc").groupBy("g")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viewNow == direct, s"view=$viewNow direct=$direct")
    // the CALL refresh after more DML also lands (batch + streaming share
    // the same high-water mark, so neither re-applies the other's work)
    SqlDml.execute(spark, "DELETE FROM graft.mvsrc WHERE g = '0'")
    spark.sql("CALL graft.system.refresh_mv('mvsrc', 'mvagg', 'g', 'v')")
    assert(!viewNow.contains("0"), "emptied group must drop")
    assert(viewNow("1") == (10L, (0 until 20).filter(_ % 2 == 1).map(_ + 3).sum.toLong))
    // CALL surface carries the widened aggregate set too
    spark.sql(
      "CALL graft.system.create_mv('mvsrc', 'mvwide', 'g', 'v', 'count,sum,min,max,avg')")
    val wide = SnapshotStore.read(spark, s"$wh/mvwide")
    assert(wide.columns.toSet ==
      Set("g", "n_rows", "val_cnt", "val_sum", "val_min", "val_max", "val_avg"))
    SqlDml.execute(spark, "UPDATE graft.mvsrc SET v = v - 2 WHERE id = 19")
    spark.sql(
      "CALL graft.system.refresh_mv('mvsrc', 'mvwide', 'g', 'v', 'count,sum,min,max,avg')")
    val row = SnapshotStore.read(spark, s"$wh/mvwide").filter($"g" === "1")
      .select($"val_max").head()
    assert(row.getLong(0) ==
      SnapshotStore.read(spark, s"$wh/mvsrc").filter($"g" === "1")
        .agg(max($"v")).head().getLong(0),
      "refresh with min/max must track the recomputed extremum")
  }

  test("join MV: partial recompute ≡ full recompute under mixed DML incl. key migration") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val lRoot = GateTmp.freshDir("mvj_left")
    val rRoot = GateTmp.freshDir("mvj_right")
    val mv = GateTmp.freshDir("mvj_mv")
    SnapshotStore.init(spark, lRoot,
      spark.range(40).selectExpr("id", "id * 10 AS v",
        "CAST(id % 8 AS STRING) AS k"), cdcKeys = Seq("id"))
    SnapshotStore.init(spark, rRoot,
      spark.range(10).selectExpr("CAST(id AS STRING) AS k", "id + 100 AS w"),
      cdcKeys = Seq("k"))
    MatView.createJoin(spark, lRoot, rRoot, mv, Seq("k"))
    def direct: Set[(String, Long, Long, Long)] =
      SnapshotStore.read(spark, lRoot).join(
        SnapshotStore.read(spark, rRoot), "k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def mvRows: Set[(String, Long, Long, Long)] =
      SnapshotStore.read(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(mvRows == direct, "createJoin must land the full join")
    val tl = Map("l" -> lRoot); val tr = Map("r" -> rRoot)
    // the key-MIGRATION case the touchedKeys preimage path exists for:
    // id%10 rows leave their old k and join k='7' instead
    SqlDml.execute(spark, "UPDATE l SET k = '7' WHERE id % 10 = 0", tl)
    SqlDml.execute(spark, "DELETE FROM l WHERE id % 9 = 0", tl)
    spark.range(5).selectExpr("id + 1000 AS id", "id AS v", "'9' AS k")
      .createOrReplaceTempView("mvj_new")
    SqlDml.execute(spark, "INSERT INTO l SELECT id, v, k FROM mvj_new", tl)
    SqlDml.execute(spark, "UPDATE r SET w = w + 100 WHERE k = '3'", tr)
    SqlDml.execute(spark, "DELETE FROM r WHERE k = '5'", tr)
    val v1 = MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k")).version
    assert(mvRows == direct, s"after mixed DML: mv=${mvRows.size} direct=${direct.size}")
    // replayed refresh: both stamps covered -> stamped no-op
    assert(MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k")).version == v1,
      "replayed refreshJoin must commit nothing")
    // one-source-ahead refresh: only the right feed advanced
    SqlDml.execute(spark, "UPDATE r SET w = w - 7 WHERE k = '1'", tr)
    MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k"))
    assert(mvRows == direct, "one-source-ahead refresh must converge")
    // above-broadcast-limit fallback: same algebra through shuffle joins
    SqlDml.execute(spark, "UPDATE l SET v = v + 1 WHERE k = '2'", tl)
    MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k"), broadcastKeyLimit = 1L)
    assert(mvRows == direct, "shuffle-join fallback must converge")
    // both high-water marks are the sources' current versions
    assert(SnapshotStore.lastTxnVersion(mv, MatView.joinAppId("left", lRoot))
      .contains(SnapshotStore.latest(lRoot).version))
    assert(SnapshotStore.lastTxnVersion(mv, MatView.joinAppId("right", rRoot))
      .contains(SnapshotStore.latest(rRoot).version))
  }

  test("outer-join MVs: null-extension flips on dim arrival/departure; partial ≡ full") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    for (jt <- Seq("left_outer", "full_outer")) {
      val lRoot = GateTmp.freshDir(s"mvo_l_$jt")
      val rRoot = GateTmp.freshDir(s"mvo_r_$jt")
      val mv = GateTmp.freshDir(s"mvo_mv_$jt")
      SnapshotStore.init(spark, lRoot,
        spark.range(30).selectExpr("id", "id * 10 AS v",
          "CAST(id % 8 AS STRING) AS k"), cdcKeys = Seq("id"))
      // keys 6 and 7 deliberately unmatched on the right
      SnapshotStore.init(spark, rRoot,
        spark.range(6).selectExpr("CAST(id AS STRING) AS k", "id + 100 AS w"),
        cdcKeys = Seq("k"))
      MatView.createJoin(spark, lRoot, rRoot, mv, Seq("k"), joinType = jt)
      def direct: Set[Seq[Any]] =
        SnapshotStore.read(spark, lRoot).join(
          SnapshotStore.read(spark, rRoot), Seq("k"), jt).collect()
          .map(_.toSeq).toSet
      def mvRows: Set[Seq[Any]] =
        SnapshotStore.read(spark, mv)
          .select("k", "id", "v", "w").collect().map(_.toSeq).toSet
      assert(mvRows == direct, s"$jt createJoin must land the full outer join")
      val tl = Map("l" -> lRoot); val tr = Map("r" -> rRoot)
      // arrival: k=6 flips null-extended -> matched
      spark.sql("SELECT '6' AS k, CAST(600 AS BIGINT) AS w")
        .createOrReplaceTempView("mvo_new")
      SqlDml.execute(spark, "INSERT INTO r SELECT k, w FROM mvo_new", tr)
      // departure: k=2 flips matched -> null-extended (left) / right-only
      SqlDml.execute(spark, "DELETE FROM r WHERE k = '2'", tr)
      // and ordinary churn on both sides
      SqlDml.execute(spark, "UPDATE l SET v = v + 1 WHERE id % 5 = 0", tl)
      SqlDml.execute(spark, "DELETE FROM l WHERE id % 9 = 0", tl)
      MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k"))
      assert(mvRows == direct, s"$jt after mixed DML must equal full recompute")
      // full-outer only: delete EVERY left row of k=3 — the view must then
      // carry k=3 as a RIGHT-ONLY (left-null) row, not drop it
      if (jt == "full_outer") {
        SqlDml.execute(spark, "DELETE FROM l WHERE k = '3'", tl)
        MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("k"))
        assert(mvRows == direct, "full_outer right-only rows must surface")
        assert(SnapshotStore.read(spark, mv).filter(col("k") === "3")
          .collect().forall(_.isNullAt(1)), "k=3 rows must be left-null")
      }
    }
    val e = intercept[IllegalArgumentException] {
      MatView.createJoin(spark, GateTmp.freshDir("x"), GateTmp.freshDir("y"),
        GateTmp.freshDir("z"), Seq("k"), joinType = "cross")
    }
    assert(e.getMessage.contains("unsupported join-view type"), e.getMessage)
  }

  test("join MV change feed: delete+insert frames make an agg MV stack on top") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val lRoot = GateTmp.freshDir("mvc_l")
    val rRoot = GateTmp.freshDir("mvc_r")
    val jmv = GateTmp.freshDir("mvc_jmv")
    val amv = GateTmp.freshDir("mvc_amv")
    val aggs = Seq("count", "sum", "min", "max")
    SnapshotStore.init(spark, lRoot,
      spark.range(40).selectExpr("id", "id * 10 AS v",
        "CAST(id % 8 AS STRING) AS k"), cdcKeys = Seq("id"))
    SnapshotStore.init(spark, rRoot,
      spark.range(8).selectExpr("CAST(id AS STRING) AS k", "id + 100 AS w"),
      cdcKeys = Seq("k"))
    MatView.createJoin(spark, lRoot, rRoot, jmv, Seq("k"), emitChanges = true)
    // the view's feed keys are the union of both sources' CDC keys
    assert(SnapshotStore.cdcKeys(jmv).toSet == Set("id", "k"))
    // the aggregate MV over the JOIN VIEW: per right-side attribute w,
    // count and sum of joined v — the fact⋈dim→GROUP BY summary table
    MatView.create(spark, jmv, amv, Seq("w"), "v", aggs)
    def directAgg: Set[(Long, Long, Long, Long, Long)] =
      SnapshotStore.read(spark, lRoot)
        .join(SnapshotStore.read(spark, rRoot), "k")
        .groupBy("w").agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    def mvAgg: Set[(Long, Long, Long, Long, Long)] =
      SnapshotStore.read(spark, amv)
        .select("w", "n_rows", "val_sum", "val_min", "val_max")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(mvAgg == directAgg, "agg MV over the join view must start exact")
    val tl = Map("l" -> lRoot); val tr = Map("r" -> rRoot)
    // churn both sources: value changes, key migration, deletes (the
    // delete leg exercises min/max recompute against the PINNED join view)
    SqlDml.execute(spark, "UPDATE l SET v = v + 3 WHERE id % 4 = 0", tl)
    SqlDml.execute(spark, "UPDATE l SET k = '7' WHERE id % 10 = 0", tl)
    SqlDml.execute(spark, "DELETE FROM l WHERE id % 9 = 0", tl)
    SqlDml.execute(spark, "UPDATE r SET w = w + 50 WHERE k = '3'", tr)
    SqlDml.execute(spark, "DELETE FROM r WHERE k = '5'", tr)
    MatView.refreshJoin(spark, lRoot, rRoot, jmv, Seq("k"))
    // the join view's feed carries ONLY delete/insert frames
    val kinds = SnapshotStore.changes(spark, jmv, 2L,
      SnapshotStore.latest(jmv).version)
      .select(SnapshotStore.ChangeTypeCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds.subsetOf(Set("delete", "insert")), s"feed kinds: $kinds")
    MatView.refresh(spark, jmv, amv, Seq("w"), "v", aggs)
    assert(mvAgg == directAgg, "agg MV must track the composed pipeline")
    // replay the whole chain: both layers stamped no-ops
    val jv = MatView.refreshJoin(spark, lRoot, rRoot, jmv, Seq("k")).version
    assert(MatView.refreshJoin(spark, lRoot, rRoot, jmv, Seq("k")).version == jv)
    val av = MatView.refresh(spark, jmv, amv, Seq("w"), "v", aggs).version
    assert(MatView.refresh(spark, jmv, amv, Seq("w"), "v", aggs).version == av)
  }

  test("min/max/avg MV: delete-touched groups recompute; insert-only refresh stays source-free") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mvmm_src")
    val mv = GateTmp.freshDir("mvmm_mv")
    val aggs = Seq("count", "sum", "avg", "min", "max")
    SnapshotStore.init(spark, src,
      spark.range(30).selectExpr("id", "id * 7 AS v",
        "CAST(id % 3 AS STRING) AS g"), cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v", aggs)
    def direct: Map[String, (Long, Long, Long, Long, Double)] =
      SnapshotStore.read(spark, src).groupBy("g")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"), min($"v").as("mn"),
          max($"v").as("mx")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(2).toDouble / r.getLong(1).toDouble)).toMap
    def viewNow: Map[String, (Long, Long, Long, Long, Double)] =
      SnapshotStore.read(spark, mv)
        .select($"g", $"n_rows", $"val_sum", $"val_min", $"val_max", $"val_avg")
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toMap
    assert(viewNow == direct)
    val t = Map("t" -> src)
    // delete the current MAX of group '0' (id=27, v=189) — algebra alone
    // cannot recover the next-best extremum; the recompute path must
    SqlDml.execute(spark, "DELETE FROM t WHERE id = 27", t)
    // update group '1' values (preimage removals -> recompute)
    SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE g = '1'", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewNow == direct, s"view=$viewNow direct=$direct")
    // INSERT-only refresh: min/max fold algebraically; the refresh plan
    // must scan NO source data files (change files only)
    spark.range(4).selectExpr("id + 500 AS id", "id AS v", "'9' AS g")
      .createOrReplaceTempView("mvmm_new")
    SqlDml.execute(spark, "INSERT INTO t SELECT id, v, g FROM mvmm_new", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewNow == direct, "insert-only refresh must fold min/max algebraically")
    assert(viewNow("9") == (4L, 6L, 0L, 3L, 1.5d))
    // unsupported aggregates refuse loudly
    val e = intercept[IllegalArgumentException](
      MatView.create(spark, src, GateTmp.freshDir("mvmm_bad"), Seq("g"), "v",
        Seq("count", "median")))
    assert(e.getMessage.contains("median"))
  }

  test("stddev folds Σv² exactly under deletes; count_distinct recomputes touched groups") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mvsd_src")
    val mv = GateTmp.freshDir("mvsd_mv")
    val aggs = Seq("count", "sum", "stddev", "count_distinct")
    // values engineered so group '0' holds an only-copy (id=0 → v=0) and
    // duplicates (ids 3,6 → v=30,60; ids 9,12 → …): deletes hit both kinds
    SnapshotStore.init(spark, src, spark.range(30)
      .selectExpr("id", "(id DIV 3) * 30 AS v", "CAST(id % 3 AS STRING) AS g"),
      cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v", aggs)
    def viewNow: Map[String, (Long, Long, Long, Double)] =
      SnapshotStore.read(spark, mv)
        .select($"g", $"n_rows", $"val_sum", $"val_distinct", $"val_stddev")
        .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def direct: Map[String, (Long, Long, Long, Double)] =
      SnapshotStore.read(spark, src).groupBy("g")
        .agg(count(lit(1)).as("n"), sum($"v").as("s"),
          countDistinct($"v").as("d"), stddev_samp($"v").as("sd"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def close(a: Map[String, (Long, Long, Long, Double)],
        b: Map[String, (Long, Long, Long, Double)]): Unit = {
      assert(a.keySet == b.keySet, s"$a vs $b")
      a.foreach { case (k, (n, s1, dd, sd)) =>
        val (n2, s2, d2, sd2) = b(k)
        assert(n == n2 && s1 == s2 && dd == d2, s"$k: $a vs $b")
        // the view derives stddev from exact sums; Spark's stddev_samp
        // streams — equal to a few ulps, not bit-equal
        assert(math.abs(sd - sd2) <= 1e-9 * math.max(1.0, sd2.abs),
          s"$k stddev: $sd vs $sd2")
      }
    }
    close(viewNow, direct)
    val t = Map("t" -> src)
    // delete an only-copy (id=0, v=0 in g=0) AND one of a duplicate pair
    SqlDml.execute(spark, "DELETE FROM t WHERE id IN (0, 3)", t)
    SqlDml.execute(spark, "UPDATE t SET v = v + 7 WHERE id % 5 = 1", t)
    // re-insert values under fresh keys: the touched-group recompute must
    // count duplicates once and genuinely-new values once
    SqlDml.execute(spark,
      "INSERT INTO t SELECT id + 100, (id DIV 3) * 30, CAST(id % 3 AS STRING) " +
        "FROM range(6, 9)", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    close(viewNow, direct)
    // replay: a doubled refresh is a stamped no-op
    val vBefore = SnapshotStore.latest(mv).version
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(SnapshotStore.latest(mv).version == vBefore)
  }

  test("approx_distinct MV: HLL union-folds inserts, recomputes removal-touched groups") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mvhll_src")
    val mv = GateTmp.freshDir("mvhll_mv")
    val aggs = Seq("count", "sum", "approx_distinct")
    SnapshotStore.init(spark, src, spark.range(60)
      .selectExpr("id", "(id DIV 4) * 7 AS v", "CAST(id % 3 AS STRING) AS g"),
      cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v", aggs)
    // same algorithm, same values ⇒ same registers ⇒ the view's estimate
    // must EQUAL a one-shot sketch over the live source (union of partials
    // is register-wise max — associative and order-independent)
    def viewEst: Map[String, Long] =
      SnapshotStore.read(spark, mv)
        .select($"g", $"val_approx_distinct".cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def directEst: Map[String, Long] =
      SnapshotStore.read(spark, src).groupBy($"g")
        .agg(hll_sketch_estimate(hll_sketch_agg($"v")).cast("long").as("e"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viewEst == directEst)
    val t = Map("t" -> src)
    // insert-only round: pure sketch union, no recompute path
    SqlDml.execute(spark,
      "INSERT INTO t SELECT id + 100, id * 131, CAST(id % 3 AS STRING) " +
        "FROM range(20)", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewEst == directEst, s"insert fold: $viewEst vs $directEst")
    // removals: registers cannot shrink — the touched groups recompute
    SqlDml.execute(spark, "DELETE FROM t WHERE id % 4 = 0", t)
    SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE id = 1", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewEst == directEst, s"post-delete recompute: $viewEst vs $directEst")
    // replay no-op
    val vBefore = SnapshotStore.latest(mv).version
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(SnapshotStore.latest(mv).version == vBefore)
  }

  test("approx_quantile MV: bucket histogram folds exactly in BOTH directions") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    import org.apache.spark.sql.functions.lit
    val src = GateTmp.freshDir("mvq_src")
    val mv = GateTmp.freshDir("mvq_mv")
    val aggs = Seq("count", "sum", "approx_quantile")
    SnapshotStore.init(spark, src, spark.range(200)
      .selectExpr("id", "(id * id) % 1000 + 1 AS v",
        "CAST(CASE WHEN id < 150 THEN id % 3 ELSE 9 END AS STRING) AS g"),
      cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v", aggs)
    // the invariant HLL cannot offer: the STORED sketch map equals a
    // one-shot sketch of the live source — exactly, not within-bound —
    // because bucket counts are plain integers and the fold is invertible
    def viewSk: Map[String, Map[Int, Long]] =
      SnapshotStore.read(spark, mv).select($"g", $"val_qsk")
        .collect().map(r => r.getString(0) ->
          r.getAs[scala.collection.Map[Int, Long]](1).toMap).toMap
    def directSk: Map[String, Map[Int, Long]] =
      MatView.qSketchOf(SnapshotStore.read(spark, src), Seq("g"), "v", "sk",
          lit(1L))
        .collect().map(r => r.getString(0) ->
          r.getAs[scala.collection.Map[Int, Long]](1).toMap).toMap
    assert(viewSk == directSk)
    val t = Map("t" -> src)
    SqlDml.execute(spark,
      "INSERT INTO t SELECT id + 1000, id * 37 + 1, CAST(id % 3 AS STRING) " +
        "FROM range(50)", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewSk == directSk, "insert fold must match a direct sketch")
    // deletes DECREMENT buckets (no recompute, no drift) and an emptied
    // group's counts cancel to nothing — the view row drops
    SqlDml.execute(spark, "DELETE FROM t WHERE id % 4 = 0", t)
    SqlDml.execute(spark, "DELETE FROM t WHERE g = '9'", t)
    SqlDml.execute(spark, "UPDATE t SET v = v + 500 WHERE id % 7 = 1", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(viewSk == directSk, "delete fold must match a direct sketch")
    assert(!viewSk.contains("9"), "group-emptying delete must drop the row")
    // estimates stay within the ±α envelope of the true discrete quantile
    SnapshotStore.read(spark, src).createOrReplaceTempView("mvq_final")
    val exact = spark.sql(
      """SELECT g,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p50,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS BIGINT) AS p90
        |FROM mvq_final GROUP BY g""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    SnapshotStore.read(spark, mv).select($"g", $"val_p50", $"val_p90")
      .collect().foreach { r =>
        val (e50, e90) = exact(r.getString(0))
        assert(math.abs(r.getDouble(1) - e50) <= 0.02 * math.abs(e50) + 1.0,
          s"p50 ${r.getDouble(1)} vs exact $e50 in group ${r.getString(0)}")
        assert(math.abs(r.getDouble(2) - e90) <= 0.02 * math.abs(e90) + 1.0,
          s"p90 ${r.getDouble(2)} vs exact $e90 in group ${r.getString(0)}")
      }
    // replay no-op
    val vBefore = SnapshotStore.latest(mv).version
    MatView.refresh(spark, src, mv, Seq("g"), "v", aggs)
    assert(SnapshotStore.latest(mv).version == vBefore)
  }

  test("refreshAll walks the recorded MV DAG: diamond refreshes the shared upstream once") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val emp = GateTmp.freshDir("mvdag_emp")
    val dim = GateTmp.freshDir("mvdag_dim")
    val jmv = GateTmp.freshDir("mvdag_jmv")
    val g1 = GateTmp.freshDir("mvdag_g1")
    val g2 = GateTmp.freshDir("mvdag_g2")
    SnapshotStore.init(spark, emp, spark.range(30)
      .selectExpr("id", "id * 10 AS v", "CAST(id % 3 AS STRING) AS g"),
      cdcKeys = Seq("id"))
    SnapshotStore.init(spark, dim,
      Seq(("0", 1L), ("1", 2L), ("2", 3L)).toDF("g", "w"),
      cdcKeys = Seq("g"))
    // the diamond: two aggregate views over ONE shared join view
    MatView.createJoin(spark, emp, dim, jmv, Seq("g"), emitChanges = true)
    MatView.create(spark, jmv, g1, Seq("g"), "v")
    MatView.create(spark, jmv, g2, Seq("w"), "v")
    SqlDml.execute(spark, "UPDATE t SET v = v + 1 WHERE id % 5 = 0",
      Map("t" -> emp))
    SqlDml.execute(spark, "DELETE FROM t WHERE g = '2'", Map("t" -> dim))
    // one call per sink view: the first refreshes the shared join view,
    // the second finds it already current (stamped no-op) and only folds
    MatView.refreshAll(spark, g1)
    val jvAfterFirst = SnapshotStore.latest(jmv).version
    MatView.refreshAll(spark, g2)
    assert(SnapshotStore.latest(jmv).version == jvAfterFirst,
      "the shared upstream must refresh once, not once per consumer")
    def direct(groupCol: String): Map[String, Long] = {
      val j = SnapshotStore.read(spark, emp).join(
        SnapshotStore.read(spark, dim), "g")
      j.groupBy(groupCol).agg(sum($"v").as("s")).collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
    }
    def view(root: String): Map[String, Long] =
      SnapshotStore.read(spark, root).collect()
        .map(r => r.get(0).toString ->
          r.getLong(r.fieldIndex("val_sum"))).toMap
    assert(view(g1) == direct("g"), s"${view(g1)} vs ${direct("g")}")
    assert(view(g2) == direct("w"), s"${view(g2)} vs ${direct("w")}")
    // a replayed refreshAll is a no-op at EVERY layer
    val (v1, v2) = (SnapshotStore.latest(g1).version,
      SnapshotStore.latest(g2).version)
    MatView.refreshAll(spark, g1)
    MatView.refreshAll(spark, g2)
    assert(SnapshotStore.latest(jmv).version == jvAfterFirst &&
      SnapshotStore.latest(g1).version == v1 &&
      SnapshotStore.latest(g2).version == v2)
    // a plain table is not refreshAll-able — loud, with the explicit API named
    val e = intercept[IllegalArgumentException](MatView.refreshAll(spark, emp))
    assert(e.getMessage.contains("_mv_def"), e.getMessage)
    // the SQL face drives the same walk: CALL refresh_all_mv('view')
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      GateTmp.freshDir("mvdag_wh"))
    SqlDml.execute(spark, "UPDATE t SET v = v + 2 WHERE id % 4 = 1",
      Map("t" -> emp))
    val got = spark.sql(s"CALL graft.system.refresh_all_mv('$g1')").head()
    assert(got.getLong(0) == SnapshotStore.latest(g1).version)
    assert(view(g1) == direct("g"),
      "CALL refresh_all_mv must walk the join view first, then the aggregate")
  }

  test("refreshAll refreshes INDEPENDENT DAG legs concurrently (wide diamond)") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val a = GateTmp.freshDir("mvw_a"); val b = GateTmp.freshDir("mvw_b")
    val c = GateTmp.freshDir("mvw_c"); val dd = GateTmp.freshDir("mvw_d")
    val j1 = GateTmp.freshDir("mvw_j1"); val j2 = GateTmp.freshDir("mvw_j2")
    val top = GateTmp.freshDir("mvw_top")
    SnapshotStore.init(spark, a, spark.range(50)
      .selectExpr("id", "CAST(id % 10 AS STRING) AS k", "id * 2 AS va"),
      cdcKeys = Seq("id"))
    SnapshotStore.init(spark, b, spark.range(10)
      .selectExpr("CAST(id AS STRING) AS k", "id + 100 AS wb"),
      cdcKeys = Seq("k"))
    SnapshotStore.init(spark, c, spark.range(50)
      .selectExpr("id AS id2", "CAST(id % 10 AS STRING) AS k", "id * 3 AS vc"),
      cdcKeys = Seq("id2"))
    SnapshotStore.init(spark, dd, spark.range(10)
      .selectExpr("CAST(id AS STRING) AS k", "id + 200 AS wd"),
      cdcKeys = Seq("k"))
    // two INDEPENDENT join-view legs feeding one top view: refreshAll's
    // first frontier is {j1, j2} — refreshed concurrently — then {top}
    MatView.createJoin(spark, a, b, j1, Seq("k"), buckets = 0,
      emitChanges = true)
    MatView.createJoin(spark, c, dd, j2, Seq("k"), buckets = 0,
      emitChanges = true)
    MatView.createJoin(spark, j1, j2, top, Seq("k"))
    SqlDml.execute(spark,
      "UPDATE t SET va = va + 1000 WHERE id < 10", Map("t" -> a))
    SqlDml.execute(spark,
      "UPDATE t SET vc = vc + 7 WHERE id2 % 3 = 0", Map("t" -> c))
    SqlDml.execute(spark,
      "DELETE FROM t WHERE k = '9'", Map("t" -> b))
    MatView.refreshAll(spark, top)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.selectExpr("concat_ws('|', k, id, va, wb, id2, vc, wd)")
        .collect().map(_.getString(0)).toSeq.sorted
    val expect = canon(
      SnapshotStore.read(spark, a).join(SnapshotStore.read(spark, b), "k")
        .join(SnapshotStore.read(spark, c)
          .join(SnapshotStore.read(spark, dd), "k"), "k"))
    assert(canon(SnapshotStore.read(spark, top)
      .drop(MatView.BucketCol)) == expect)
    // replay: a second walk is a stamped no-op at every layer
    val vs = Seq(j1, j2, top).map(r => SnapshotStore.latest(r).version)
    MatView.refreshAll(spark, top)
    assert(Seq(j1, j2, top).map(r => SnapshotStore.latest(r).version) == vs)
  }

  test("legacy view without val_cnt keeps refreshing (n_rows denominators)") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    // hand-build a PRE-val_cnt view: legacy schema (g, n_rows, val_sum),
    // legacy comma-joined def, stamped at the source's current version —
    // refresh must maintain it legacy-shaped, never crash on the missing
    // column (the upgrade-in-place contract for existing warehouses)
    val src = GateTmp.freshDir("mvleg_src")
    val mv = GateTmp.freshDir("mvleg_mv")
    SnapshotStore.init(spark, src,
      spark.range(30).selectExpr("id", "id * 10 AS v",
        "CAST(id % 3 AS STRING) AS g"), cdcKeys = Seq("id"))
    val legacyAgg = SnapshotStore.read(spark, src).groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum($"v").as("val_sum"))
    SnapshotStore.init(spark, mv, legacyAgg.limit(0))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(mv, "_mv_def"),
      s"kind\tagg\nsrc\t$src\ngroups\tg\nvalue\tv\naggs\tcount,sum\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(src, "_mv_consumers"), s"$mv\n")
    SnapshotStore.transact(spark, mv, txn = Some(SnapshotStore.Txn(
      MatView.appIdFor(src), SnapshotStore.latest(src).version)))(_ => legacyAgg)
    assert(!SnapshotStore.read(spark, mv).columns.contains("val_cnt"),
      "test integrity: the hand-built view must be legacy-shaped")
    val t = Map("t" -> src)
    SqlDml.execute(spark, "UPDATE t SET v = v + 5 WHERE g = '1'", t)
    SqlDml.execute(spark, "DELETE FROM t WHERE id % 9 = 0", t)
    MatView.refresh(spark, src, mv, Seq("g"), "v")
    val got = SnapshotStore.read(spark, mv)
      .select($"g", $"n_rows", $"val_sum").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = SnapshotStore.read(spark, src).groupBy("g")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"legacy view=$got direct=$want")
    assert(!SnapshotStore.read(spark, mv).columns.contains("val_cnt"),
      "refresh must keep the legacy shape, not half-add val_cnt")
  }

  test("group-migrating UPDATE keeps n_rows right (pre/postimage ±1)") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    val src = GateTmp.freshDir("mvmig_src")
    val mv = GateTmp.freshDir("mvmig_mv")
    SnapshotStore.init(spark, src,
      spark.range(20).selectExpr("id", "id AS v", "CAST(id % 2 AS STRING) AS g"),
      cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("g"), "v")
    // migrate half of group '0' into group '1': counts must move with them
    SqlDml.execute(spark, "UPDATE t SET g = '1' WHERE id % 4 = 0", Map("t" -> src))
    MatView.refresh(spark, src, mv, Seq("g"), "v")
    val got = SnapshotStore.read(spark, mv)
      .select($"g", $"n_rows", $"val_sum").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = SnapshotStore.read(spark, src).groupBy("g")
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"view=$got direct=$want")
  }

  test("FK-keyed join MV (lk=rk): partial recompute ≡ full; rewrite serves the canonical join") {
    import graft.sources.{GraftCatalog, MatView, SnapshotStore, SqlDml}
    // maintenance: differently-named keys through mixed DML on both sides
    val lRoot = GateTmp.freshDir("mvfk_l")
    val rRoot = GateTmp.freshDir("mvfk_r")
    val mv = GateTmp.freshDir("mvfk_mv")
    SnapshotStore.init(spark, lRoot,
      spark.range(40).selectExpr("id AS okey", "CAST(id % 8 AS STRING) AS ck",
        "id * 10 AS v"), cdcKeys = Seq("okey"))
    SnapshotStore.init(spark, rRoot,
      spark.range(10).selectExpr("CAST(id AS STRING) AS custk", "id + 100 AS w"),
      cdcKeys = Seq("custk"))
    MatView.createJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"))
    def direct: Set[Seq[Any]] =
      SnapshotStore.read(spark, lRoot).as("l")
        .join(SnapshotStore.read(spark, rRoot).as("r"),
          col("l.ck") === col("r.custk")).collect().map(_.toSeq).toSet
    def mvRows: Set[Seq[Any]] =
      SnapshotStore.read(spark, mv).select("okey", "ck", "v", "custk", "w")
        .collect().map(_.toSeq).toSet
    assert(mvRows == direct, "createJoin must land the full FK join")
    val tl = Map("l" -> lRoot); val tr = Map("r" -> rRoot)
    SqlDml.execute(spark, "UPDATE l SET ck = '7' WHERE okey % 10 = 0", tl)
    SqlDml.execute(spark, "DELETE FROM l WHERE okey % 9 = 0", tl)
    SqlDml.execute(spark, "UPDATE r SET w = w + 50 WHERE custk = '3'", tr)
    SqlDml.execute(spark, "DELETE FROM r WHERE custk = '5'", tr)
    MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"))
    assert(mvRows == direct, s"after mixed DML: ${mvRows.size} vs ${direct.size}")
    // refusal: mixed key forms (outer + pairs is now SUPPORTED — the
    // left-outer FK maintenance path has its own spec below and the
    // q116 gate end-to-end)
    val e2 = intercept[IllegalArgumentException](MatView.createJoin(spark,
      lRoot, rRoot, GateTmp.freshDir("mvfk_bad2"), Seq("ck=custk", "okey")))
    assert(e2.getMessage.contains("cannot mix"), e2.getMessage)

    // rewrite: the canonical FK join (fact.ck = dim.ck2) serves from the view
    val wh = java.nio.file.Files.createTempDirectory("graft_mvfk_wh").toString
    spark.conf.set("spark.sql.catalog.graft_fk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_fk.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_fk.fact (id BIGINT, ck STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("CREATE TABLE graft_fk.dim (ck2 STRING, bonus BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'ck2')")
    (1L to 300L).toDF("id")
      .withColumn("ck", concat(lit("c"), pmod($"id", lit(4))))
      .withColumn("v", $"id" * 2).createOrReplaceTempView("mvfk_f")
    spark.sql("INSERT INTO graft_fk.fact SELECT id, ck, v FROM mvfk_f")
    spark.sql("INSERT INTO graft_fk.dim VALUES ('c0', 5), ('c1', 7), ('c2', 11)")
    val rmv = GateTmp.freshDir("graft_mvfk_view")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", rmv, Seq("ck=ck2"))
    val sql = "SELECT f.id, f.ck, d.ck2, f.v + d.bonus AS vb " +
      "FROM graft_fk.fact f JOIN graft_fk.dim d ON f.ck = d.ck2"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Set[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val directR = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    val p1 = plan(sql)
    assert(p1.contains("graft_mvfk_view"), s"expected the view scan:\n$p1")
    assert(rows(sql) == directR)
    // a REVERSED-orientation key condition (d.ck2 = f.ck) matches too
    val rev = "SELECT f.id FROM graft_fk.dim d JOIN graft_fk.fact f " +
      "ON d.ck2 = f.ck"
    assert(plan(rev).contains("graft_mvfk_view"), plan(rev))
    // a DIFFERENT pairing refuses (fact.ck = dim.bonus is not the view)
    assert(!plan("SELECT f.id FROM graft_fk.fact f JOIN graft_fk.dim d " +
      "ON f.id = d.bonus").contains("graft_mvfk_view"))
    // staleness falls back; refreshJoin restores
    spark.sql("INSERT INTO graft_fk.dim VALUES ('c3', 13)")
    assert(!plan(sql).contains("graft_mvfk_view"), "stale view must not serve")
    MatView.refreshJoin(spark, s"$wh/fact", s"$wh/dim", rmv, Seq("ck=ck2"))
    assert(plan(sql).contains("graft_mvfk_view"))
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val directR2 = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(rows(sql) == directR2)
    spark.sql("DROP TABLE graft_fk.fact")
    spark.sql("DROP TABLE graft_fk.dim")
  }

  test("transitive rewrite: Aggregate over fact⋈dim serves from the agg view OVER the join view") {
    import graft.sources.{GraftCatalog, MatView, SqlDml}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvtv_wh").toString
    spark.conf.set("spark.sql.catalog.graft_tv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tv.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_tv.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("CREATE TABLE graft_tv.dim (seg STRING, bonus BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'seg')")
    (1L to 400L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(4))))
      .withColumn("v", $"id" * 3).createOrReplaceTempView("mvtv_f")
    spark.sql("INSERT INTO graft_tv.fact SELECT id, seg, v FROM mvtv_f")
    spark.sql("INSERT INTO graft_tv.dim VALUES ('s0', 5), ('s1', 7), " +
      "('s2', 11), ('s3', 13)")
    val jmv = GateTmp.freshDir("graft_mvtv_jmv")
    val amv = GateTmp.freshDir("graft_mvtv_amv")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", jmv, Seq("seg"),
      emitChanges = true)
    MatView.create(spark, jmv, amv, Seq("seg", "bonus"), "v",
      Seq("count", "sum"))
    val sql = "SELECT f.seg, d.bonus, count(*) AS n, sum(f.v) AS s " +
      "FROM graft_tv.fact f JOIN graft_tv.dim d ON f.seg = d.seg " +
      "GROUP BY f.seg, d.bonus"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Set[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    // the deepest view serves: neither source nor even the JOIN VIEW scans
    val p1 = plan(sql)
    assert(p1.contains("graft_mvtv_amv"), s"expected the agg-view scan:\n$p1")
    assert(!p1.contains("graft_mvtv_jmv"),
      s"the join view must not be scanned when the agg view serves:\n$p1")
    assert(rows(sql) == direct)
    // a group-column filter commutes all the way through
    val qf = sql.replace("GROUP BY", "WHERE d.bonus > 6 GROUP BY")
    assert(plan(qf).contains("graft_mvtv_amv"), plan(qf))
    assert(rows(qf) == direct.filter(r =>
      r(1).asInstanceOf[Long] > 6))
    // ROLL-UP through the diamond: GROUP BY seg alone re-aggregates V2
    val ru = "SELECT f.seg, count(*) AS n FROM graft_tv.fact f " +
      "JOIN graft_tv.dim d ON f.seg = d.seg GROUP BY f.seg"
    assert(plan(ru).contains("graft_mvtv_amv"), plan(ru))
    // source DML: the whole chain is stale — direct plan; a refreshJoin
    // alone restores V1 (join serves) but not V2 (agg view must NOT)
    SqlDml.execute(spark, "UPDATE graft_tv.dim SET bonus = bonus + 1 " +
      "WHERE seg = 's1'")
    val p2 = plan(sql)
    assert(!p2.contains("graft_mvtv_amv") && !p2.contains("graft_mvtv_jmv"),
      s"a stale chain must take the direct plan:\n$p2")
    MatView.refreshJoin(spark, s"$wh/fact", s"$wh/dim", jmv, Seq("seg"))
    val p3 = plan(sql)
    assert(p3.contains("graft_mvtv_jmv") && !p3.contains("graft_mvtv_amv"),
      s"fresh V1 + stale V2 must serve the JOIN from V1 only:\n$p3")
    // refreshAll walks the chain; V2 serves again, answers track the DML
    MatView.refreshAll(spark, amv)
    assert(plan(sql).contains("graft_mvtv_amv"))
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct2 = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(rows(sql) == direct2)
    spark.sql("DROP TABLE graft_tv.fact")
    spark.sql("DROP TABLE graft_tv.dim")
  }

  test("NULL-bearing value column: val_cnt denominators; rewrite serves NULL-correct sum/avg/count") {
    import graft.sources.{GraftCatalog, MatView, SqlDml}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvnull_wh").toString
    spark.conf.set("spark.sql.catalog.graft_nl", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_nl.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_nl.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    // seg s0..s3; every 3rd value NULL; seg s3 is ALL NULL (the group the
    // r17 hole was about: direct avg/sum are SQL NULL, count(v) is 0)
    (1L to 200L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(4))))
      .withColumn("v", when(pmod($"id", lit(3)) === 0 || pmod($"id", lit(4)) === 3,
        lit(null).cast("long")).otherwise($"id" * 3))
      .createOrReplaceTempView("mvnull_src")
    spark.sql("INSERT INTO graft_nl.fact SELECT id, seg, v FROM mvnull_src")
    val mv = GateTmp.freshDir("graft_mvnull_view")
    MatView.create(spark, s"$wh/fact", mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"))
    val sql = "SELECT seg, count(*) AS n, count(v) AS c, sum(v) AS s, " +
      "avg(v) AS a FROM graft_nl.fact GROUP BY seg"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Map[String, (Long, Long, Any, Any)] =
      spark.sql(q).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.get(3), r.get(4))).toMap
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(plan(sql).contains("graft_mvnull_view"), plan(sql))
    assert(rows(sql) == direct,
      s"served=${rows(sql)}\ndirect=$direct")
    assert(direct("s3")._3 == null && direct("s3")._4 == null,
      "the all-NULL group's direct sum/avg must be SQL NULL (test setup)")
    // maintenance with NULL churn: delete some non-null values (val_cnt
    // must shrink), insert more NULLs (val_cnt must not move), then the
    // refreshed view serves the same NULL-correct answers
    SqlDml.execute(spark, "DELETE FROM graft_nl.fact WHERE id % 5 = 1")
    spark.sql("INSERT INTO graft_nl.fact SELECT id + 1000, " +
      "concat('s', id % 4), CAST(NULL AS BIGINT) FROM range(40)")
    MatView.refresh(spark, s"$wh/fact", mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"))
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct2 = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(plan(sql).contains("graft_mvnull_view"), "refreshed view must serve")
    assert(rows(sql) == direct2,
      s"served=${rows(sql)}\ndirect=$direct2")
    // roll-up over a NULL-bearing view: global-free coarser grouping —
    // view keys (seg, v IS NULL marker col) would be contrived; instead
    // verify the roll-up guard math on a 2-key view
    spark.sql("CREATE TABLE graft_nl.fact2 (id BIGINT, seg STRING, " +
      "day STRING, v BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft_nl.fact2 SELECT id, concat('s', id % 3), " +
      "concat('d', id % 5), CASE WHEN id % 3 = 2 THEN NULL ELSE id END " +
      "FROM range(1, 100)")
    val mv2 = GateTmp.freshDir("graft_mvnull_view2")
    MatView.create(spark, s"$wh/fact2", mv2, Seq("seg", "day"), "v",
      Seq("count", "sum", "avg"))
    val ru = "SELECT seg, count(*) AS n, count(v) AS c, sum(v) AS s, " +
      "avg(v) AS a FROM graft_nl.fact2 GROUP BY seg"
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val ruDirect = rows(ru)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(plan(ru).contains("graft_mvnull_view2"), plan(ru))
    assert(rows(ru) == ruDirect, s"served=${rows(ru)}\ndirect=$ruDirect")
    assert(ruDirect("s2")._3 == null && ruDirect("s2")._4 == null,
      "the all-NULL roll-up group must be SQL NULL (test setup)")
    spark.sql("DROP TABLE graft_nl.fact")
    spark.sql("DROP TABLE graft_nl.fact2")
  }

  test("expression group keys: year(ts) view maintains, serves, and pins its timezone") {
    import graft.sources.{GraftCatalog, MatView, SqlDml}
    val wh = java.nio.file.Files.createTempDirectory("graft_mveg_wh").toString
    spark.conf.set("spark.sql.catalog.graft_eg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_eg.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_eg.fact (id BIGINT, ts TIMESTAMP, " +
      "seg STRING, v BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft_eg.fact SELECT id, " +
      "timestamp_seconds(800000000 + id * 2000000), " +
      "concat('s', id % 3), id * 7 FROM range(1, 300)")
    val mv = GateTmp.freshDir("graft_mveg_view")
    MatView.create(spark, s"$wh/fact", mv, Seq("year(ts)", "seg"), "v",
      Seq("count", "sum", "avg"))
    val sql = "SELECT year(ts) AS y, seg, count(*) AS n, sum(v) AS s, " +
      "avg(v) AS a FROM graft_eg.fact GROUP BY year(ts), seg"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Set[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    val p1 = plan(sql)
    assert(p1.contains("graft_mveg_view"), s"expected the view scan:\n$p1")
    assert(rows(sql) == direct)
    // ROLL-UP across an expression key: GROUP BY year(ts) alone
    val ru = "SELECT year(ts) AS y, count(*) AS n, sum(v) AS s, avg(v) AS a " +
      "FROM graft_eg.fact GROUP BY year(ts)"
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val ruDirect = rows(ru)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(plan(ru).contains("graft_mveg_view"), plan(ru))
    assert(rows(ru) == ruDirect)
    // a DIFFERENT expression over the same column refuses
    assert(!plan("SELECT month(ts) AS m, count(*) AS n FROM graft_eg.fact " +
      "GROUP BY month(ts)").contains("graft_mveg_view"))
    // a predicate on the UNDERLYING column does not commute — refuse
    assert(!plan("SELECT year(ts) AS y, count(*) AS n FROM graft_eg.fact " +
      "WHERE ts > timestamp'2000-01-01' GROUP BY year(ts)")
      .contains("graft_mveg_view"))
    // maintenance through DML keeps serving
    SqlDml.execute(spark, "UPDATE graft_eg.fact SET v = v + 1 WHERE id % 5 = 0")
    SqlDml.execute(spark, "DELETE FROM graft_eg.fact WHERE id % 9 = 0")
    assert(!plan(sql).contains("graft_mveg_view"), "stale view must not serve")
    MatView.refresh(spark, s"$wh/fact", mv, Seq("year(ts)", "seg"), "v",
      Seq("count", "sum", "avg"))
    assert(plan(sql).contains("graft_mveg_view"))
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct2 = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(rows(sql) == direct2)
    // timezone pin: a session in another zone neither refreshes nor serves
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      assert(!plan(sql).contains("graft_mveg_view"),
        "a zone-mismatched session must not serve year(ts) buckets")
      spark.sql("UPDATE graft_eg.fact SET v = v + 1 WHERE id = 1")
      val e = intercept[IllegalArgumentException](
        MatView.refresh(spark, s"$wh/fact", mv, Seq("year(ts)", "seg"), "v",
          Seq("count", "sum", "avg")))
      assert(e.getMessage.contains("timezone"), e.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    // UTC again: refresh works and the view serves
    MatView.refresh(spark, s"$wh/fact", mv, Seq("year(ts)", "seg"), "v",
      Seq("count", "sum", "avg"))
    assert(plan(sql).contains("graft_mveg_view"))
    spark.sql("DROP TABLE graft_eg.fact")
  }

  test("avg >=2^53 policy: the view serves the exact-integer quotient, accepted over the direct double accumulation") {
    // The POLICY pin for MvRewrite's avg mapping (see the rollAgg
    // comment): both paths do one double divide, but once a group's Σv
    // exceeds 2^53 the direct Average's DOUBLE sum buffer rounds per row
    // while the view's val_sum is an exact integer. The served answer is
    // the MORE accurate of the two, so the divergence is ACCEPTED — this
    // test documents it end-to-end and fails if either side's arithmetic
    // changes.
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvp_wh").toString
    spark.conf.set("spark.sql.catalog.graft_mvp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mvp.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_mvp.t (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    val big = 1L << 53
    // group 'big': Σv = 2^53 + 4 > 2^53 — each direct +1 rounds away
    // (ties-to-even at spacing 2). group 'small': far below 2^53 — both
    // paths bit-identical.
    val rows = Seq((1L, "big", big), (2L, "big", 1L), (3L, "big", 1L),
      (4L, "big", 1L), (5L, "big", 1L),
      (6L, "small", 10L), (7L, "small", 11L), (8L, "small", 13L))
    rows.toDF("id", "seg", "v").coalesce(1)
      .createOrReplaceTempView("mvp_src")
    spark.sql("INSERT INTO graft_mvp.t SELECT * FROM mvp_src")
    val mv = GateTmp.freshDir("graft_mvp_view")
    MatView.create(spark, s"$wh/t", mv, Seq("seg"), "v",
      Seq("count", "sum", "avg"))
    val sql = "SELECT seg, avg(v) AS a FROM graft_mvp.t GROUP BY seg"
    def avgOf: Map[String, Double] =
      spark.sql(sql).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val p1 = spark.sql(sql).queryExecution.executedPlan.toString
    assert(p1.contains("graft_mvp_view"), s"the view must serve:\n$p1")
    val served = avgOf
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = avgOf
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    // the view's answer IS the exact-integer quotient
    val exactBig = (big + 4L).toDouble / 5.0
    assert(served("big") == exactBig,
      s"served=${served("big")} exact=$exactBig")
    // the documented divergence: the direct double buffer lost the +1s
    assert(direct("big") != served("big"),
      "expected the >=2^53 divergence this policy documents — if Spark's " +
        "Average became exact, re-evaluate the policy comment in MvRewrite")
    assert(direct("big") == big.toDouble / 5.0, s"direct=${direct("big")}")
    // below 2^53 the two paths are bit-identical
    assert(served("small") == direct("small"))
    spark.sql("DROP TABLE graft_mvp.t")
  }

  test("automatic MV query rewrite: fresh view serves, stale falls back, filters commute") {
    import graft.sources.{GraftCatalog, MatView, SnapshotStore}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvrw_wh").toString
    spark.conf.set("spark.sql.catalog.graft_rw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rw.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_rw.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    (1L to 500L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(5))))
      .withColumn("v", $"id" * 3).createOrReplaceTempView("mvrw_src")
    spark.sql("INSERT INTO graft_rw.fact SELECT id, seg, v FROM mvrw_src")
    val srcRoot = s"$wh/fact"
    val mv = GateTmp.freshDir("graft_mvrw_view")
    MatView.create(spark, srcRoot, mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"))

    val sql = "SELECT seg, count(*) AS n, sum(v) AS s, avg(v) AS a, " +
      "min(v) AS mn, max(v) AS mx FROM graft_rw.fact GROUP BY seg"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Map[String, (Long, Long, Double, Long, Long)] =
      spark.sql(q).collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getLong(5))).toMap

    // the referee: the direct plan with the rewrite disabled
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    assert(!plan(sql).contains("graft_mvrw_view"),
      "disabled rewrite must keep the direct plan")
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")

    // fresh view: the plan scans the VIEW, answers hash-equal the direct
    val p1 = plan(sql)
    assert(p1.contains("graft_mvrw_view"), s"expected the MV scan:\n$p1")
    assert(!p1.toLowerCase.contains("fact"), s"base scan must be gone:\n$p1")
    assert(rows(sql) == direct)

    // group-column filters commute onto the view; other columns refuse
    val qf = "SELECT seg, sum(v) AS s FROM graft_rw.fact " +
      "WHERE seg IN ('s1','s3') GROUP BY seg"
    assert(plan(qf).contains("graft_mvrw_view"), plan(qf))
    assert(spark.sql(qf).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap ==
      direct.view.filterKeys(Set("s1", "s3")).toMap
        .map { case (k, t) => k -> t._2 })
    val qv = "SELECT seg, count(*) AS n FROM graft_rw.fact " +
      "WHERE v > 60 GROUP BY seg"
    assert(!plan(qv).contains("graft_mvrw_view"),
      "value-column predicate must keep the direct plan")
    // an aggregate the view does not maintain refuses too
    assert(!plan("SELECT seg, count(DISTINCT v) AS d FROM graft_rw.fact " +
      "GROUP BY seg").contains("graft_mvrw_view"))
    // SELECT DISTINCT over the group key is an Aggregate with no calls —
    // served as the view's group-column scan (one row per group, and a
    // view row exists iff the group has n_rows > 0 rows)
    val qd = "SELECT DISTINCT seg FROM graft_rw.fact"
    assert(plan(qd).contains("graft_mvrw_view"), plan(qd))
    assert(spark.sql(qd).collect().map(_.getString(0)).toSet == direct.keySet)

    // a RENAMING subquery (seg AS seg2) between the aggregate and the
    // scan: the alias-inlining must keep the ORIGINAL output exprId (the
    // surrounding Sort binds to it) while still matching the view
    val qr = "SELECT seg2, count(*) AS n FROM " +
      "(SELECT seg AS seg2, v FROM graft_rw.fact) GROUP BY seg2 ORDER BY seg2"
    assert(spark.sql(qr).collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap ==
      direct.map { case (k, t) => k -> t._1 },
      "a renamed group key must bind and answer correctly")

    // staleness: a write to the source makes the view non-covering — the
    // query falls back to the direct scan and sees the new rows
    spark.sql("INSERT INTO graft_rw.fact VALUES (1001, 's1', 300000)")
    val p2 = plan(sql)
    assert(!p2.contains("graft_mvrw_view"), s"stale view must not serve:\n$p2")
    val after = rows(sql)
    assert(after("s1")._5 == 300000L, after.toString)
    // refresh restores coverage: the rewrite fires again, answers agree
    MatView.refresh(spark, srcRoot, mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"))
    assert(plan(sql).contains("graft_mvrw_view"))
    assert(rows(sql) == after)
    spark.sql("DROP TABLE graft_rw.fact")
  }

  test("MV ROLL-UP rewrite: coarser GROUP BY re-aggregates the view, never the source") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvru_wh").toString
    spark.conf.set("spark.sql.catalog.graft_ru", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ru.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_ru.fact (id BIGINT, seg STRING, " +
      "day STRING, v BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
    (1L to 400L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(3))))
      .withColumn("day", concat(lit("d"), pmod($"id", lit(7))))
      .withColumn("v", $"id" * 5).createOrReplaceTempView("mvru_src")
    spark.sql("INSERT INTO graft_ru.fact SELECT id, seg, day, v FROM mvru_src")
    val mv = GateTmp.freshDir("graft_mvru_view")
    MatView.create(spark, s"$wh/fact", mv, Seq("seg", "day"), "v",
      Seq("count", "sum", "avg", "min", "max"))
    // the query groups by a STRICT SUBSET of the view's keys
    val sql = "SELECT seg, count(*) AS n, sum(v) AS s, avg(v) AS a, " +
      "min(v) AS mn, max(v) AS mx FROM graft_ru.fact GROUP BY seg"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String) = spark.sql(q).collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
        r.getLong(5))).toMap
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    val p1 = plan(sql)
    assert(p1.contains("graft_mvru_view"), s"roll-up must scan the view:\n$p1")
    assert(rows(sql) == direct, "rolled-up answers must equal the direct plan")
    // filters on the QUERY's group columns still commute
    val qf = "SELECT seg, sum(v) AS s FROM graft_ru.fact " +
      "WHERE seg = 's1' GROUP BY seg"
    assert(plan(qf).contains("graft_mvru_view"))
    assert(spark.sql(qf).head().getLong(1) == direct("s1")._2)
    // non-mergeable aggregates refuse roll-up (stddev needs Σv²)
    assert(!plan("SELECT seg, stddev_samp(v) AS sd FROM graft_ru.fact " +
      "GROUP BY seg").contains("graft_mvru_view"))
    // grouping outside the view's keys refuses
    assert(!plan("SELECT id, count(*) AS n FROM graft_ru.fact GROUP BY id")
      .contains("graft_mvru_view"))
    spark.sql("DROP TABLE graft_ru.fact")
  }

  test("FILTERED (sigma) MV: boundary-crossing DML maintains; rewrite absorbs the WHERE") {
    import graft.sources.{GraftCatalog, MatView, SnapshotStore, SqlDml}
    // maintenance on a plain root: view population = v > 300, with
    // min/max so deletes drive the recompute path THROUGH the filter
    val src = GateTmp.freshDir("mvsig_src")
    val mv = GateTmp.freshDir("mvsig_mv")
    SnapshotStore.init(spark, src,
      spark.range(200).selectExpr("id", "CAST(id % 4 AS STRING) AS seg",
        "id * 5 AS v"), cdcKeys = Seq("id"))
    MatView.create(spark, src, mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"), where = Some("v > 300"))
    def viewNow: Map[String, (Long, Long, Long, Long)] =
      SnapshotStore.read(spark, mv)
        .select($"seg", $"n_rows", $"val_sum", $"val_min", $"val_max")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def recompute: Map[String, (Long, Long, Long, Long)] =
      SnapshotStore.read(spark, src).filter($"v" > 300).groupBy("seg")
        .agg(count(lit(1)), sum($"v"), min($"v"), max($"v")).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(viewNow == recompute, s"create: $viewNow vs $recompute")
    val t = Map("t" -> src)
    // boundary crossings BOTH ways + deletes on both sides of the filter
    SqlDml.execute(spark, "UPDATE t SET v = 10 WHERE id % 9 = 0", t)   // out
    SqlDml.execute(spark, "UPDATE t SET v = 9000 WHERE id % 11 = 1", t) // in
    SqlDml.execute(spark, "DELETE FROM t WHERE id % 13 = 5", t)
    SqlDml.execute(spark, "UPDATE t SET v = v + 7 WHERE id % 17 = 2", t)
    MatView.refresh(spark, src, mv, Seq("seg"), "v",
      Seq("count", "sum", "avg", "min", "max"))
    assert(viewNow == recompute, s"after DML: $viewNow vs $recompute")

    // rewrite: a query whose WHERE covers the view predicate serves; the
    // predicate is ABSORBED (the view population), leftover group-column
    // conjuncts re-apply; a superset query or a different predicate
    // keeps the direct plan
    val wh = java.nio.file.Files.createTempDirectory("graft_mvsig_wh").toString
    spark.conf.set("spark.sql.catalog.graft_sg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sg.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_sg.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.range(500).selectExpr("id", "CAST(id % 4 AS STRING) AS seg",
      "id * 5 AS v").createOrReplaceTempView("mvsig_src2")
    spark.sql("INSERT INTO graft_sg.fact SELECT * FROM mvsig_src2")
    val cmv = GateTmp.freshDir("graft_mvsig_view")
    MatView.create(spark, s"$wh/fact", cmv, Seq("seg"), "v",
      Seq("count", "sum"), where = Some("v > 300"))
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    val q1 = "SELECT seg, count(*) AS n, sum(v) AS s FROM graft_sg.fact " +
      "WHERE v > 300 GROUP BY seg"
    val p1 = plan(q1)
    assert(p1.contains("graft_mvsig_view"), s"the sigma-view must serve:\n$p1")
    assert(!p1.toLowerCase.contains("fact"), s"base scan must be gone:\n$p1")
    val served = spark.sql(q1).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = spark.sql(q1).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(served == direct)
    // WHERE + an extra group-column conjunct: absorbed + re-applied
    val q2 = q1 + " HAVING seg IN ('1','2')"
    val q2b = "SELECT seg, count(*) AS n FROM graft_sg.fact " +
      "WHERE v > 300 AND seg = '2' GROUP BY seg"
    assert(plan(q2b).contains("graft_mvsig_view"), plan(q2b))
    assert(plan(q2).contains("graft_mvsig_view"), plan(q2))
    // NO where → the query reads a SUPERSET of the population: direct
    assert(!plan("SELECT seg, count(*) AS n FROM graft_sg.fact GROUP BY seg")
      .contains("graft_mvsig_view"))
    // a DIFFERENT predicate on the same column: direct
    assert(!plan("SELECT seg, count(*) AS n FROM graft_sg.fact " +
      "WHERE v > 400 GROUP BY seg").contains("graft_mvsig_view"))
    spark.sql("DROP TABLE graft_sg.fact")
  }

  test("rewrite composes with HAVING / ORDER BY / expressions over group keys and aggregates") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvhv_wh").toString
    spark.conf.set("spark.sql.catalog.graft_hv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_hv.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_hv.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    (1L to 500L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(5))))
      .withColumn("v", $"id" * 3).createOrReplaceTempView("mvhv_src")
    spark.sql("INSERT INTO graft_hv.fact SELECT id, seg, v FROM mvhv_src")
    val mv = GateTmp.freshDir("graft_mvhv_view")
    MatView.create(spark, s"$wh/fact", mv, Seq("seg"), "v",
      Seq("count", "sum", "avg"))
    // HAVING (a Filter ABOVE the Aggregate — stays above the spliced
    // node), ORDER BY, an expression over the GROUP KEY in the output
    // (upper(seg)), and an expression over an AGGREGATE (sum/100) all
    // compose with the rewrite: the splice preserves output exprIds
    val sql = "SELECT upper(seg) AS u, sum(v) AS s, sum(v) / 100 AS s100, " +
      "avg(v) AS a FROM graft_hv.fact GROUP BY seg " +
      "HAVING count(*) > 50 ORDER BY u"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    val p1 = plan(sql)
    assert(p1.contains("graft_mvhv_view"),
      s"HAVING/expression shapes must still serve:\n$p1")
    assert(!p1.toLowerCase.contains("fact"), s"base scan must be gone:\n$p1")
    val served = spark.sql(sql).collect().map(_.toSeq).toSeq
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = spark.sql(sql).collect().map(_.toSeq).toSeq
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(served == direct, s"served=$served\ndirect=$direct")
    spark.sql("DROP TABLE graft_hv.fact")
  }

  test("MIXED bare + time-coarsened roll-up keys; quarter from month; extractor specs serve nothing coarser") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvtc_wh").toString
    spark.conf.set("spark.sql.catalog.graft_tc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tc.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_tc.fact (id BIGINT, seg STRING, " +
      "ts TIMESTAMP, v BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
    (1L to 600L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(3))))
      .withColumn("ts", expr(
        "timestampadd(DAY, CAST(id % 800 AS INT), TIMESTAMP'2023-01-15 06:00:00')"))
      .withColumn("v", $"id" * 5).createOrReplaceTempView("mvtc_src")
    spark.sql("INSERT INTO graft_tc.fact SELECT id, seg, ts, v FROM mvtc_src")
    val mv = GateTmp.freshDir("graft_mvtc_view")
    MatView.create(spark, s"$wh/fact", mv,
      Seq("seg", "date_trunc('month', ts)"), "v", Seq("count", "sum", "avg"))
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def referee(q: String): Unit = {
      val served = spark.sql(q).collect().map(_.toSeq).toSet
      spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
      val direct = spark.sql(q).collect().map(_.toSeq).toSet
      spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
      assert(served == direct, s"$q\nserved=$served\ndirect=$direct")
    }
    // MIXED keys: one bare (seg) + one COARSENED (year from month-trunc)
    val qMixed = "SELECT seg, year(ts) AS y, count(*) AS n, sum(v) AS s, " +
      "avg(v) AS a FROM graft_tc.fact GROUP BY seg, year(ts)"
    assert(plan(qMixed).contains("graft_mvtc_view"), plan(qMixed))
    assert(!plan(qMixed).toLowerCase.contains("fact"), plan(qMixed))
    referee(qMixed)
    // quarter is a coarsening of month too
    val qQ = "SELECT date_trunc('quarter', ts) AS q, count(*) AS n " +
      "FROM graft_tc.fact GROUP BY date_trunc('quarter', ts)"
    assert(plan(qQ).contains("graft_mvtc_view"), plan(qQ))
    referee(qQ)
    // month itself (the exact expression) serves without re-aggregation
    val qM = "SELECT date_trunc('month', ts) AS m, sum(v) AS s " +
      "FROM graft_tc.fact GROUP BY date_trunc('month', ts)"
    assert(plan(qM).contains("graft_mvtc_view"), plan(qM))
    referee(qM)
    // day is FINER than month: refuse
    assert(!plan("SELECT date_trunc('day', ts) AS d, count(*) AS n " +
      "FROM graft_tc.fact GROUP BY date_trunc('day', ts)")
      .contains("graft_mvtc_view"))
    // an EXTRACTOR view spec (month(ts) — an int, the year forgotten)
    // serves nothing coarser: year(ts) over it must refuse
    val mvE = GateTmp.freshDir("graft_mvtc_extractor_view")
    MatView.create(spark, s"$wh/fact", mvE, Seq("month(ts)"), "v",
      Seq("count", "sum"))
    assert(!plan("SELECT year(ts) AS y, count(*) AS n FROM graft_tc.fact " +
      "GROUP BY year(ts)").contains("graft_mvtc_extractor_view"))
    spark.sql("DROP TABLE graft_tc.fact")
  }

  test("FULL/RIGHT outer FK join MV maintenance: both sides' null-extensions flip through refresh") {
    import graft.sources.{MatView, SnapshotStore, SqlDml}
    for (jt <- Seq("full", "right")) {
      val lRoot = GateTmp.freshDir(s"mvfo_${jt}_l")
      val rRoot = GateTmp.freshDir(s"mvfo_${jt}_r")
      val mv = GateTmp.freshDir(s"mvfo_${jt}_mv")
      // left keys 0..9; right keys 5..14 — both sides start with
      // unmatched rows, so full outer null-extends BOTH ways
      SnapshotStore.init(spark, lRoot,
        spark.range(40).selectExpr("id AS okey",
          "CAST(id % 10 AS STRING) AS ck", "id * 10 AS v"),
        cdcKeys = Seq("okey"))
      SnapshotStore.init(spark, rRoot,
        spark.range(5, 15).selectExpr("CAST(id AS STRING) AS custk",
          "id + 100 AS w"), cdcKeys = Seq("custk"))
      MatView.createJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"),
        joinType = jt)
      val sjt = if (jt == "full") "full_outer" else "right_outer"
      def direct: Set[Seq[Any]] =
        SnapshotStore.read(spark, lRoot).as("l")
          .join(SnapshotStore.read(spark, rRoot).as("r"),
            col("l.ck") === col("r.custk"), sjt)
          .collect().map(_.toSeq).toSet
      def mvRows: Set[Seq[Any]] =
        SnapshotStore.read(spark, mv).select("okey", "ck", "v", "custk", "w")
          .collect().map(_.toSeq).toSet
      assert(mvRows == direct, s"createJoin must land the full $jt join")
      if (jt == "full")
        assert(direct.exists(_(0) == null) && direct.exists(_(3) == null),
          "full outer setup must null-extend BOTH ways")
      // flips in both directions within one refresh window: a dim delete
      // (matched -> extended), a dim insert closing a left gap
      // (extended -> matched), fact deletes emptying a right key
      SqlDml.execute(spark, "DELETE FROM r WHERE custk = '6'",
        Map("r" -> rRoot))
      SnapshotStore.append(spark, rRoot,
        spark.range(2, 3).selectExpr("CAST(id AS STRING) AS custk",
          "id + 100 AS w"))
      SqlDml.execute(spark, "DELETE FROM l WHERE ck = '7'", Map("l" -> lRoot))
      MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"))
      assert(mvRows == direct,
        s"$jt after flip DML: ${mvRows.size} vs ${direct.size}")
    }
  }

  test("join-MV rewrite: inner equi-join serves from the view; stale/outer refuse") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvrwj_wh").toString
    spark.conf.set("spark.sql.catalog.graft_rwj", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rwj.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_rwj.fact (id BIGINT, seg STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("CREATE TABLE graft_rwj.dim (seg STRING, bonus BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'seg')")
    (1L to 300L).toDF("id")
      .withColumn("seg", concat(lit("s"), pmod($"id", lit(4))))
      .withColumn("v", $"id" * 2).createOrReplaceTempView("mvrwj_f")
    spark.sql("INSERT INTO graft_rwj.fact SELECT id, seg, v FROM mvrwj_f")
    spark.sql("INSERT INTO graft_rwj.dim VALUES " +
      "('s0', 5), ('s1', 7), ('s2', 11)") // s3 unmatched: inner drops it
    val mv = GateTmp.freshDir("graft_mvrwj_view")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", mv, Seq("seg"))

    val sql = "SELECT f.id, f.seg, f.v + d.bonus AS vb " +
      "FROM graft_rwj.fact f JOIN graft_rwj.dim d ON f.seg = d.seg"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Map[Long, (String, Long)] =
      spark.sql(q).collect().map(r =>
        r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    // fresh view: the join is GONE, the view scan serves
    val p1 = plan(sql)
    assert(p1.contains("graft_mvrwj_view"), s"expected the view scan:\n$p1")
    assert(rows(sql) == direct)
    // residual predicates (either side's columns) re-apply on the view
    val qf = sql + " WHERE d.bonus > 5 AND f.v < 100"
    assert(plan(qf).contains("graft_mvrwj_view"), plan(qf))
    assert(rows(qf) == direct.filter { case (id, (seg, _)) =>
      Set("s1", "s2")(seg) && id * 2 < 100 })
    // staleness: a dim write falls back until refreshJoin catches up
    spark.sql("INSERT INTO graft_rwj.dim VALUES ('s3', 13)")
    assert(!plan(sql).contains("graft_mvrwj_view"), "stale view must not serve")
    val withS3 = rows(sql)
    assert(withS3.size > direct.size)
    MatView.refreshJoin(spark, s"$wh/fact", s"$wh/dim", mv, Seq("seg"))
    assert(plan(sql).contains("graft_mvrwj_view"))
    assert(rows(sql) == withS3)
    // a LEFT join must not match an inner view
    assert(!plan("SELECT f.id FROM graft_rwj.fact f LEFT JOIN graft_rwj.dim d " +
      "ON f.seg = d.seg").contains("graft_mvrwj_view"))
    spark.sql("DROP TABLE graft_rwj.fact")
    spark.sql("DROP TABLE graft_rwj.dim")
  }

  test("OUTER FK join MV: null-extension flips maintain; rewrite serves the left join") {
    import graft.sources.{GraftCatalog, MatView, SnapshotStore, SqlDml}
    // maintenance on plain roots: dim deliberately missing keys 8/9, so
    // the view starts with null-extended fact rows
    val lRoot = GateTmp.freshDir("mvofk_l")
    val rRoot = GateTmp.freshDir("mvofk_r")
    val mv = GateTmp.freshDir("mvofk_mv")
    SnapshotStore.init(spark, lRoot,
      spark.range(40).selectExpr("id AS okey", "CAST(id % 10 AS STRING) AS ck",
        "id * 10 AS v"), cdcKeys = Seq("okey"))
    SnapshotStore.init(spark, rRoot,
      spark.range(8).selectExpr("CAST(id AS STRING) AS custk", "id + 100 AS w"),
      cdcKeys = Seq("custk"))
    MatView.createJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"),
      joinType = "left")
    def direct: Set[Seq[Any]] =
      SnapshotStore.read(spark, lRoot).as("l")
        .join(SnapshotStore.read(spark, rRoot).as("r"),
          col("l.ck") === col("r.custk"), "left_outer")
        .collect().map(_.toSeq).toSet
    def mvRows: Set[Seq[Any]] =
      SnapshotStore.read(spark, mv).select("okey", "ck", "v", "custk", "w")
        .collect().map(_.toSeq).toSet
    assert(mvRows == direct, "createJoin must land the full LEFT join")
    assert(direct.exists(_(3) == null), "setup must produce null-extended rows")
    val tl = Map("l" -> lRoot); val tr = Map("r" -> rRoot)
    // matched → null-extended (dim delete), null-extended → matched (dim
    // insert), key migration + fact deletes in the same refresh window
    SqlDml.execute(spark, "DELETE FROM r WHERE custk = '3'", tr)
    SnapshotStore.append(spark, rRoot,
      spark.range(8, 9).selectExpr("CAST(id AS STRING) AS custk",
        "id + 100 AS w"))
    SqlDml.execute(spark, "UPDATE l SET ck = '9' WHERE okey % 10 = 4", tl)
    SqlDml.execute(spark, "DELETE FROM l WHERE okey % 7 = 0", tl)
    MatView.refreshJoin(spark, lRoot, rRoot, mv, Seq("ck=custk"))
    assert(mvRows == direct, s"after flip DML: ${mvRows.size} vs ${direct.size}")

    // rewrite: the left join serves from the view; a preserved-side (fact)
    // filter re-applies; a null-rejecting dim filter turns the plan inner
    // and must refuse
    val wh = java.nio.file.Files.createTempDirectory("graft_mvofk_wh").toString
    spark.conf.set("spark.sql.catalog.graft_ofk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ofk.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_ofk.fact (okey BIGINT, ck STRING, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'okey')")
    spark.sql("CREATE TABLE graft_ofk.dim (custk STRING, w BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'custk')")
    spark.range(40).selectExpr("id AS okey", "CAST(id % 10 AS STRING) AS ck",
      "id * 10 AS v").createOrReplaceTempView("mvofk_f")
    spark.range(8).selectExpr("CAST(id AS STRING) AS custk", "id + 100 AS w")
      .createOrReplaceTempView("mvofk_d")
    spark.sql("INSERT INTO graft_ofk.fact SELECT * FROM mvofk_f")
    spark.sql("INSERT INTO graft_ofk.dim SELECT * FROM mvofk_d")
    val cmv = GateTmp.freshDir("graft_mvofk_view")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", cmv, Seq("ck=custk"),
      joinType = "left")
    val q = "SELECT f.okey, f.ck, d.custk, d.w FROM graft_ofk.fact f " +
      "LEFT JOIN graft_ofk.dim d ON f.ck = d.custk WHERE f.v < 250"
    def plan(s: String): String =
      spark.sql(s).queryExecution.executedPlan.toString
    val p1 = plan(q)
    assert(p1.contains("graft_mvofk_view"), s"left join must serve:\n$p1")
    val served = spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val directQ = spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(served == directQ)
    assert(served.exists(_(2) == null), "the served rows must keep " +
      "null-extension")
    // INNER over the same tables must not match the left_outer view
    assert(!plan("SELECT f.okey FROM graft_ofk.fact f JOIN graft_ofk.dim d " +
      "ON f.ck = d.custk").contains("graft_mvofk_view"))
    // a null-rejecting dim predicate → optimizer turns the join inner →
    // type mismatch refuses (direct plan, still correct rows)
    assert(!plan(q + " AND d.w > 104").contains("graft_mvofk_view"))
    // a FULL outer view over the SAME sources: the type match picks the
    // right candidate among multiple views on one source pair — the bare
    // FULL JOIN serves from it (filter-free legs required), while the
    // filtered LEFT join keeps serving from the left_outer view
    val fmv = GateTmp.freshDir("graft_mvofk_full_view")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", fmv, Seq("ck=custk"),
      joinType = "full")
    val qFull = "SELECT f.okey, f.ck, d.custk, d.w FROM graft_ofk.fact f " +
      "FULL JOIN graft_ofk.dim d ON f.ck = d.custk"
    val pf = plan(qFull)
    assert(pf.contains("graft_mvofk_full_view"), s"full join must serve:\n$pf")
    val servedF = spark.sql(qFull).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val directF = spark.sql(qFull).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(servedF == directF)
    assert(plan(q).contains("graft_mvofk_view"),
      "the filtered LEFT join must still pick the left_outer view")
    spark.sql("DROP TABLE graft_ofk.fact")
    spark.sql("DROP TABLE graft_ofk.dim")
  }
  test("transitive rewrite refuses an extra cross-side equality beyond the view keys (ADVICE r19)") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvxe_wh").toString
    spark.conf.set("spark.sql.catalog.graft_xe", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_xe.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_xe.fact (id BIGINT, seg STRING, a2 BIGINT, " +
      "v BIGINT) TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("CREATE TABLE graft_xe.dim (seg STRING, c BIGINT, bonus BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'seg')")
    spark.sql("INSERT INTO graft_xe.fact SELECT id, concat('s', id % 4), " +
      "id % 3, id * 3 FROM range(1, 400)")
    spark.sql("INSERT INTO graft_xe.dim VALUES ('s0', 0, 5), ('s1', 1, 7), " +
      "('s2', 5, 11), ('s3', 2, 13)")
    val jmv = GateTmp.freshDir("graft_mvxe_jmv")
    val amv = GateTmp.freshDir("graft_mvxe_amv")
    MatView.createJoin(spark, s"$wh/fact", s"$wh/dim", jmv, Seq("seg"),
      emitChanges = true)
    MatView.create(spark, jmv, amv, Seq("seg", "a2"), "v", Seq("count", "sum"))
    // the ON carries an EXTRA cross-side equality (a2 = c) that is NOT a
    // view key; a2 is also a grouping key, so canonicalizing through the
    // extra pair would collapse the restriction to the trivial a2 = a2 and
    // serve groups the direct join filters out. The transitive rewrite
    // must REFUSE and keep the direct plan.
    val sql = "SELECT f.seg, f.a2, count(*) AS n, sum(f.v) AS s " +
      "FROM graft_xe.fact f JOIN graft_xe.dim d " +
      "ON f.seg = d.seg AND f.a2 = d.c GROUP BY f.seg, f.a2"
    def plan(q: String): String =
      spark.sql(q).queryExecution.executedPlan.toString
    def rows(q: String): Set[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(sql)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(direct.nonEmpty && direct.size < 16,
      s"the extra equality must be selective for the test to bite: $direct")
    assert(!plan(sql).contains("graft_mvxe_amv"),
      s"an extra cross-side equality must refuse the transitive rewrite:\n${plan(sql)}")
    assert(rows(sql) == direct)
    // the DIRECT join splice stays legal: the same ON without the
    // aggregate serves from the JOIN view, a2 = c re-applied by name
    val js = "SELECT f.seg, f.a2, d.c FROM graft_xe.fact f " +
      "JOIN graft_xe.dim d ON f.seg = d.seg AND f.a2 = d.c"
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val jDirect = rows(js)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(plan(js).contains("graft_mvxe_jmv"), plan(js))
    assert(rows(js) == jDirect)
    spark.sql("DROP TABLE graft_xe.fact")
    spark.sql("DROP TABLE graft_xe.dim")
  }

  test("trunc(dt,'dd') is an all-NULL spec, never a day-level coarsening source; sigma WHERE must be deterministic (ADVICE r19)") {
    import graft.sources.{GraftCatalog, MatView}
    val wh = java.nio.file.Files.createTempDirectory("graft_mvtd_wh").toString
    spark.conf.set("spark.sql.catalog.graft_td", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_td.warehouse", wh)
    GraftExtensions.install(spark)
    spark.sql("CREATE TABLE graft_td.fact (id BIGINT, dt DATE, v BIGINT) " +
      "TBLPROPERTIES ('cdc.keys' = 'id')")
    spark.sql("INSERT INTO graft_td.fact SELECT id, " +
      "date_add(date'2020-01-01', cast((id * 7) % 1800 AS INT)), id * 3 " +
      "FROM range(1, 300)")
    val mv = GateTmp.freshDir("graft_mvtd_view")
    // Spark's trunc(date, fmt) returns NULL for 'dd' -- the view stores an
    // all-NULL group column; treating it as a valid day-level source would
    // serve year(NULL) = NULL groups where the direct plan has real years
    MatView.create(spark, s"$wh/fact", mv, Seq("trunc(dt, 'dd')"), "v",
      Seq("count", "sum"))
    val q = "SELECT year(dt) AS y, count(*) AS n FROM graft_td.fact " +
      "GROUP BY year(dt)"
    def plan(s0: String): String =
      spark.sql(s0).queryExecution.executedPlan.toString
    def rows(s0: String): Set[Seq[Any]] =
      spark.sql(s0).collect().map(_.toSeq).toSet
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "false")
    val direct = rows(q)
    spark.conf.set(graft.sources.MvRewrite.EnabledKey, "true")
    assert(direct.size > 1, s"multiple real years expected: $direct")
    assert(!plan(q).contains("graft_mvtd_view"),
      s"a trunc(dt,'dd') spec must not serve coarsened queries:\n${plan(q)}")
    assert(rows(q) == direct)
    // a non-deterministic sigma WHERE refuses at create, loudly
    val mv2 = GateTmp.freshDir("graft_mvtd_nd")
    val e = intercept[IllegalArgumentException](
      MatView.create(spark, s"$wh/fact", mv2, Seq("dt"), "v",
        Seq("count", "sum"), where = Some("rand() < 0.5")))
    assert(e.getMessage.contains("deterministic"), e.getMessage)
    spark.sql("DROP TABLE graft_td.fact")
  }
}
