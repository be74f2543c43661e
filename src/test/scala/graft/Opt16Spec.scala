package graft

import org.apache.spark.sql.functions._

/** Round-16 OPTIMIZATION pins: every rewrite here must keep the
  * declared result identical, so each test forces the at-scale path
  * beside the dieted one (the Round15Spec qScc pattern) or replays
  * the invariant the diet relies on.
  */
class Opt16Spec extends SparkSuite {

  test("Components.keepers driver-fold finisher equals the BSP " +
      "fixpoint (conf-forced) on the verified dedup pair graph") {
    val pairs = graft.dedup.MinHashLSH.verifiedPairs(
      graft.sources.Tables.documents(spark, sf), "doc_id", "text",
      minJaccard = 0.5)
    def run(): Map[Long, Long] =
      graft.dedup.Components.keepers(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run() // default threshold: driver union-find
    spark.conf.set("graft.mining.localThreshold", "0")
    val bsp = try run() // forced: min-label pointer-jumping BSP
    finally spark.conf.unset("graft.mining.localThreshold")
    assert(local == bsp,
      s"local=${local.toSeq.sorted.take(20)} bsp=${bsp.toSeq.sorted.take(20)}")
    assert(local.nonEmpty, "degenerate fixture: no near-dup pairs")
    // keeper is the component minimum: closed under membership
    local.foreach { case (id, k) =>
      assert(k <= id && local(k) == k, s"non-min keeper $k for $id")
    }
  }

  test("Components.keepers driver-fold handles chains, stars and " +
      "singleton-free relabeling like the BSP path") {
    import spark.implicits._
    // chain 1-2-3-4-5, star 10-{11,12,13}, pair (20,21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (12L, 10L), (13L, 10L), (21L, 20L))
      .toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      graft.dedup.Components.keepers(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    spark.conf.set("graft.mining.localThreshold", "0")
    val bsp = try run()
    finally spark.conf.unset("graft.mining.localThreshold")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L)
    assert(local == expect, s"local=$local")
    assert(bsp == expect, s"bsp=$bsp")
  }
}
