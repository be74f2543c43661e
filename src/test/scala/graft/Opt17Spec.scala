package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 OPTIMIZATION pins (the Opt16Spec contract): every
  * driver-fold finisher added this round must keep the declared result
  * identical, so each test runs the key twice — once on the default
  * (local/driver-fold) path and once with the fold conf-forced OFF so
  * the BSP rounds execute — and asserts row-for-row equality. The BSP
  * path stays the at-scale path; the fold is a fixture-scale diet.
  */
class Opt17Spec extends SparkSuite {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def bothPaths(fn: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val local = rows(fn)
    spark.conf.set("graft.mining.localThreshold", "0")
    val bsp = try rows(fn)
    finally spark.conf.unset("graft.mining.localThreshold")
    (local, bsp)
  }

  private def pin(name: String, fn: (org.apache.spark.sql.SparkSession,
      String) => DataFrame): Unit =
    test(s"$name: driver-fold equals the conf-forced BSP path") {
      val (local, bsp) = bothPaths(fn(spark, sf))
      assert(local == bsp,
        s"$name diverged:\nlocal=${local.take(25)}\nbsp=${bsp.take(25)}")
      assert(local.nonEmpty, s"$name: degenerate fixture (no rows)")
    }

  // q_eigenvector_centrality / q_katz_centrality deliberately carry NO
  // fold: their graphs are 1.2M+/0.4M+ pairs at bench scale — far over
  // the bound — so a probe could never fire there (r17, measured).
  pin("q_label_prop", graft.ops.Mining.qLabelProp)
  pin("q_betweenness_approx", graft.ops.Mining.qBetweennessApprox)
  pin("q_closeness_approx", graft.ops.Mining.qClosenessApprox)
  pin("q_harmonic_centrality", graft.ops.Mining.qHarmonicCentrality)
  pin("q_dag_longest_path", graft.ops.Mining.qDagLongestPath)

  test("q_scc: pre-trim Tarjan finisher equals the conf-forced " +
      "BSP peel (and covers isolated remaining nodes)") {
    val (local, bsp) = bothPaths(graft.ops.Mining.qScc(spark, sf))
    assert(local == bsp, s"q_scc diverged:\nlocal=${local.take(25)}")
    assert(local.nonEmpty)
  }

  test("sceneCutStats kernel equals the composed per-frame codec " +
      "functions on every (w, h, cut) shape") {
    // 0..599 covers every (pngWidth, pngHeight, cut) residue combo
    // (periods 24, 24, 3) plus plenty of pixel-pattern variety
    (0L until 600L).foreach { id =>
      val w = graft.mm.Codecs.pngWidth(id)
      val h = graft.mm.Codecs.pngHeight(id)
      val cut = (2 + id % 3).toInt
      val frames = (0 until 6).map { f =>
        val seed = if (f < cut) id else id + 500000L
        graft.mm.Codecs.decodeGrayVec(
          graft.mm.Codecs.encodePngGray(w, h, seed))
      }
      val diffs = (1 until 6).map(t =>
        graft.mm.Codecs.absDiffSum(frames(t - 1), frames(t)))
      val expect = (diffs.indexOf(diffs.max) + 1L, diffs.max,
        diffs.count(_ == 0L).toLong)
      val got = graft.mm.Codecs.sceneCutStats(id)
      assert(got == expect, s"id=$id got=$got expect=$expect")
    }
  }

  test("q_itemset3: basket-kernel enumeration equals the r16 " +
      "self-join formulation") {
    val got = rows(graft.ops.Mining.qItemset3(spark, sf))
    // the pre-r17 pipeline, inlined verbatim as the reference
    val items = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), (col("l_partkey") % 25).as("p"))
      .distinct().localCheckpoint(true)
    val minPair = broadcast(items.select(col("o")).distinct()
      .agg(greatest(expr("count(1) div 500"), lit(2L)).as("min_pair")))
    val pairInst = items.as("x")
      .join(items.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.o").as("o"), col("x.p").as("a"), col("y.p").as("b"))
    val freqPairs = pairInst.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("sup"))
      .crossJoin(minPair).filter(col("sup") >= col("min_pair"))
      .select(col("a"), col("b")).localCheckpoint(true)
    val tripleInst = pairInst
      .join(freqPairs, Seq("a", "b"), "left_semi").as("w")
      .join(items.as("z"),
        col("w.o") === col("z.o") && col("z.p") > col("w.b"))
      .select(col("w.o").as("o"), col("w.a").as("a"),
        col("w.b").as("b"), col("z.p").as("c"))
      .join(freqPairs.select(col("a"), col("b").as("c")),
        Seq("a", "c"), "left_semi")
      .join(freqPairs.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "left_semi")
    val expect = rows(tripleInst.groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2L)
      .orderBy(col("support").desc, col("a"), col("b"), col("c"))
      .limit(50))
    assert(got == expect, s"got=${got.take(10)} expect=${expect.take(10)}")
    assert(got.nonEmpty)
  }

  test("dedup_setsim_join: cached prefix frame + PPJoin length filter " +
      "keep the exact pair relation (≡ LSH verified pairs)") {
    // the length filter may only drop candidates the exact-Jaccard
    // verify would reject; equality with the independently-computed
    // LSH pipeline proves no qualifying pair was lost
    val exact = rows(graft.ops.PipelineQueries.dedupSetsimJoin(spark, sf))
    val lsh = rows(graft.ops.PipelineQueries.dedupMinhashLsh(spark, sf))
    assert(exact == lsh, "setsim diverged from LSH verified pairs")
    assert(exact.nonEmpty)
  }
}
