package graft

import org.scalatest.funsuite.AnyFunSuite

/** The path Bench times for a staged query — each build once per key,
  * then the serve repeated (warm-up plus timed reps) — must give the
  * oracle-checked fused answer on every repetition.
  */
class StagedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val setupKeys = Set(
    "q98_index_build", "q106_warehouse_build", "q127_warehouse_build", "q130_index_build",
    "q140_sweep_build", "q145_dv_build", "q148_replica_bootstrap", "q161_index_build",
    "q163_index_build", "q165_rollup_build", "q171_rollup_build", "q182_fixture_land")

  test("every staged query: built once, served twice, each serve hash-equal to the fused registry query") {
    val builds = new Builds(spark, dir)
    val staged = SparkEntry.staged
    assert(staged.keySet.subsetOf(SparkEntry.queries.keySet))
    staged.toSeq.sortBy(_._1).foreach { case (name, st) =>
      val want = Bench.rowHash(SparkEntry.queries(name)(spark, dir))
      val serve = st.over(builds)
      for (rep <- 1 to 2)
        assert(Bench.rowHash(serve(spark, dir)) == want, s"$name: serve $rep differs from the fused query")
    }
    assert(builds.seconds.map(_._1).toSet == setupKeys, s"builds run: ${builds.seconds}")
  }

  test("q106's warehouse is one build shared by its six consumers, q148's replica included") {
    val sharing = Seq("q106_change_feed", "q119_incremental_mv", "q141_version_drift",
      "q166_stream_cdc_apply", "q172_join_mv")
    assert(sharing.map(SparkEntry.staged(_).build.key).toSet == Set("q106_warehouse_build"))
    val replica = SparkEntry.staged("q148_cdc_apply").build
    assert(replica.parent.map(_.key).contains("q106_warehouse_build"))

    val builds = new Builds(spark, dir)
    val wh = builds(SparkEntry.staged("q106_change_feed").build)
    val (fromReplica, _) = builds(replica).asInstanceOf[(Any, String)]
    assert(fromReplica == wh, "q148's replica must be bootstrapped from the shared q106 warehouse")
    assert(builds.seconds.map(_._1) == Seq("q106_warehouse_build", "q148_replica_bootstrap"))
  }

  test("a failed build fails every query that needs it, and is not retried") {
    var runs = 0
    val broken = Build[String]("broken_build") { (_, _) => runs += 1; sys.error("no warehouse") }
    val a = Staged(broken)((s, _, _) => s.range(1).toDF())
    val b = Staged(Build.on("derived_build", broken)((_, p: String) => p))((s, _, _) => s.range(1).toDF())
    val builds = new Builds(spark, dir)
    for (st <- Seq(a, b, a)) {
      val e = intercept[IllegalStateException](st.over(builds)(spark, dir))
      assert(e.getMessage.contains("broken_build failed: no warehouse"))
    }
    assert(runs == 1)
    assert(builds.seconds.isEmpty)
  }
}
