package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.GraftSqlShim

/** The per-layer probe harness ([[LayerProbes]]) at a tiny 1× scale: a
  * metadata-only probe (the `latest()` head pointer) and a writing one (the
  * fixed append) each give a row per phase at 1× and 10×, with the jobs and
  * files of exactly their own phase.
  */
class LayerProbesSpec extends SparkSpec {
  test("harness: one row per phase and scale, jobs and files credited per phase") {
    val noted = LayerProbes.Probe("read", "noted", 3, (_, n) =>
      Seq("count" -> (() => LayerProbes.Note(s"saw $n"))))
    val tiny = Seq(LayerProbes.probe("latest").copy(n = 5),
      LayerProbes.probe("append").copy(n = 500), noted)
    val rows = LayerProbes.run(spark, tiny)
    assert(rows.map(r => (r.probe, r.phase, r.scale)) == Seq(
      ("latest", "head", 1L), ("latest", "listing", 1L),
      ("latest", "head", 10L), ("latest", "listing", 10L),
      ("append", "append-10k", 1L), ("append", "append-10k", 10L),
      ("noted", "count", 1L), ("noted", "count", 10L)))
    // a phase's Note is its row's note; other phases leave it empty
    assert(rows.map(_.note) == Seq.fill(6)("") ++ Seq("saw 3", "saw 30"))
    val fields = Seq("layer", "probe", "phase", "scale", "wall_s", "jobs",
      "stages", "shuffle_bytes", "files")
    for (r <- rows; f <- fields)
      assert(new ObjectMapper().readTree(r.json).has(f), s"${r.json} lacks $f")
    // the warm-up's and the setup's jobs ran outside every phase
    for (r <- rows.filter(_.probe == "latest"))
      assert(r.jobs == 0 && r.shuffleBytes == 0, r.json)
    for (r <- rows.filter(_.probe == "append"))
      assert(r.jobs >= 1 && r.files >= 1, r.json)
  }

  test("a job outside any phase is credited to none") {
    val sc = spark.sparkContext
    val listener = new LayerProbes.PhaseListener
    sc.addSparkListener(listener)
    try {
      spark.range(100).selectExpr("sum(id)").collect()
      sc.setJobGroup("not-a-phase", "another group")
      try spark.range(100).count() finally sc.clearJobGroup()
      GraftSqlShim.drainListeners(spark)
      assert(listener.phases.isEmpty, listener.phases)
    } finally sc.removeSparkListener(listener)
  }
}
