package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The one driver-fold bound: "collect at most `bound` rows and finish
  * in the JVM" — the final-aggregation-on-one-node split (Dremel's
  * root-server fold). Tiny-frame BSP rounds are plan-depth-bound, not
  * data-bound: each round is 2-3 tiny shuffles whose stage setup
  * dominates a few hundred rows by 100×, so when a frame fits the bound
  * the iteration runs in-JVM instead. Above the bound the caller's
  * distributed path runs — that stays the at-scale path.
  *
  * The bound is read here and nowhere else, from
  * `graft.mining.localThreshold` (default 100k rows). A value of 0
  * disables every fold; specs set it to force the BSP twins and pin
  * them equal to the folds. A fold whose input is bounded by
  * construction (e.g. a calendar rollup) needs no bound and has no BSP
  * twin.
  */
object DriverFold {
  val DefaultBound = 100000

  def bound(s: SparkSession): Int =
    s.conf.getOption("graft.mining.localThreshold")
      .map(_.toInt).getOrElse(DefaultBound)

  /** Bounded long-pair probe: the (ca, cb) projection of `e` as a
    * driver array when it fits the bound. The limit pushdown means at
    * most bound+1 rows ever reach the driver. Deliberately UNCACHED: a
    * cache here would force full-partition materialization and defeat
    * the limit's early termination, costing ~0.2-0.3 s on every key
    * whose frame fits (measured r17) — the common case; callers cache
    * only on their fallback. Returns None when the fold is disabled,
    * above the bound, on non-long columns, or on a null endpoint (a
    * null coerces to 0L under Row.getLong and would silently diverge
    * from the BSP path's null handling). Only INTEGER-exact callers use
    * this: the double-iteration graph keys (pagerank/HITS) stay
    * distributed because a third accumulation order would sit outside
    * the two the oracle contract already covers. */
  def longPairs(e: DataFrame, ca: String, cb: String)
      : Option[Array[(Long, Long)]] = {
    val localMax = bound(e.sparkSession)
    if (localMax <= 0) return None
    if (!Seq(ca, cb).forall(c => e.schema(c).dataType == LongType))
      return None
    val es = e.select(col(ca), col(cb)).take(localMax + 1)
    if (es.length > localMax ||
        es.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(es.map(r => (r.getLong(0), r.getLong(1))))
  }
}
