package graft

import org.apache.spark.sql.Row

import graft.ops.Behavior.seasonalMannKendallFold

/** The driver folds: the seasonal Mann–Kendall fold on hand-built
  * frames (expected rows are what the committed DuckDB oracle SQL
  * returns on the same frames), no cache or persisted RDD left behind
  * by the folded keys, and a source scan that keeps the one fold bound
  * in `graft.util.DriverFold`. */
class DriverFoldSpec extends SparkSuite {

  // Dataset caches registered in the session's cache manager; the
  // count is private[sql] in Scala but public in bytecode
  private def cachedEntries: Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  test("seasonal Mann-Kendall fold on a mixed frame drops one-year " +
      "seasons and counts the tie as zero") {
    val frame = Seq(Row("01", 1995L, 950000L), Row("01", 1996L, 1900000L),
      Row("01", 1997L, 1900000L)) ++
      (2 to 12).map(m => Row(f"$m%02d", 1995L, 1000000L * m))
    assert(seasonalMannKendallFold(frame) ==
      Seq(Row("01", 3L, 2L, null, null), Row("total", 1L, null, 2L, 0.5222)))
    // the fold does not depend on input row order
    assert(seasonalMannKendallFold(frame.reverse) ==
      seasonalMannKendallFold(frame))
  }

  test("seasonal Mann-Kendall fold with no multi-year season yields " +
      "the lone total row") {
    val lone = Seq(Row("total", 0L, null, null, null))
    assert(seasonalMannKendallFold(
      (1 to 12).map(m => Row(f"$m%02d", 1995L, 1000L))) == lone)
    assert(seasonalMannKendallFold(Seq.empty) == lone)
  }

  test("seasonal Mann-Kendall fold fails loudly on a null year") {
    val err = intercept[IllegalStateException] {
      seasonalMannKendallFold(Seq(Row("01", 1995L, 1L), Row("01", null, 2L)))
    }
    assert(err.getMessage.contains("q_seasonal_mann_kendall"), err.getMessage)
  }

  test("q_seasonal_mann_kendall persists no RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(graft.ops.Behavior.qSeasonalMannKendall(spark, sf).collect()
      .nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("Components.keepers (BSP) and incrementalKeepers leave no " +
      "cache entry") {
    import spark.implicits._
    // the chain/star/pair fixture of Opt16Spec
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (12L, 10L), (13L, 10L), (21L, 20L))
      .toDF("id_a", "id_b")
    val before = cachedEntries
    spark.conf.set("graft.mining.localThreshold", "0")
    val bsp = try graft.dedup.Components.keepers(pairs).collect()
    finally spark.conf.unset("graft.mining.localThreshold")
    assert(bsp.length == 11)
    assert(cachedEntries == before, "keepers (BSP) leaked a cache")

    val old = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "keeper")
    val batch = Seq((2L, 11L), (30L, 31L)).toDF("id_a", "id_b")
    val merged = graft.dedup.Components.incrementalKeepers(old, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      30L -> 30L, 31L -> 30L), s"merged=$merged")
    assert(cachedEntries == before, "incrementalKeepers leaked a cache")
  }

  test("the fold bound is read only in graft.util.DriverFold") {
    val home = new java.io.File(SourceScan.root, "graft/util/DriverFold.scala")
    val hits = SourceScan.codeLines.filter(_._3.contains("localThreshold"))
    val (inside, outside) = hits.partition(_._1.getCanonicalPath ==
      home.getCanonicalPath)
    assert(outside.isEmpty, "fold bound read outside DriverFold: " +
      outside.map { case (f, i, c) => s"${f.getPath}:${i + 1}: $c" }
        .mkString("; "))
    assert(inside.map(_._3) == Seq(
      "s.conf.getOption(\"graft.mining.localThreshold\")"),
      s"DriverFold reads: ${inside.map(_._3)}")
  }
}
