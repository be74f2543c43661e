package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

import graft.sources.Tables

/** Behavioral / product-analytics operators over the events stream and
  * the trade graph (SURVEY §2.2): cohort retention, touch attribution,
  * statistical anomaly audit, EWMA trend smoothing, degree profiling.
  *
  * Same determinism conventions as [[Analytics]]: event timestamps as
  * floor-epoch seconds, doubles rounded, total ORDER BY. Doubles that
  * feed further arithmetic are rounded FIRST so both engines continue
  * from identical inputs.
  */
object Behavior {

  private def epochS(c: Column): Column = unix_timestamp(c)

  /** Events epoch origin (2024-01-01 00:00 UTC) for week bucketing. */
  private val WeekOrigin = 1704067200L

  /** Cohort retention: users are cohorted by first-activity week, then
    * each (cohort, week-offset) cell counts the cohort members still
    * active that week — the standard retention triangle. Two shuffles,
    * both on `user_id` (cohort min + the distinct user-week set), so at
    * scale they share one hash partitioning; the per-cohort sizes are a
    * tiny broadcast. */
  def qCohortRetention(s: SparkSession, d: String): DataFrame = {
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        floor((epochS(col("ts")) - lit(WeekOrigin)) / 604800L)
          .cast("long").as("wk"))
      .distinct()
    val cohorts = uw.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohorts.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohorts, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("cohort_size"), 4)
          .as("retention"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** Touch attribution: every purchase is attributed to the user's most
    * recent strictly-earlier click (last touch) and earliest click
    * (first touch), then rolled up by the attribution gap bucket. The
    * whole assignment is ONE window pass over the user timeline —
    * `max/min(CASE click)` over a preceding-rows frame — so the events
    * table shuffles once on `user_id` and nothing self-joins; at 100 TB
    * this is the same single-shuffle shape as sessionization. */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickTs = when(col("event_type") === "click", col("ts_s"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), epochS(col("ts")).as("ts_s"))
      .withColumn("last_click", max(clickTs).over(w))
      .withColumn("first_click", min(clickTs).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(
        coalesce(least(floor((col("ts_s") - col("last_click")) / 600L), lit(5L)),
          lit(-1L)).cast("long").as("gap_bucket"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 2).as("revenue"),
        count(when(col("first_click") < col("last_click"), 1))
          .as("n_multi_touch"))
      .orderBy(col("gap_bucket"))
  }

  /** EXACT Shapley-value attribution over the 3 touch channels
    * (view / click / signup; conversion = first purchase) — the
    * game-theoretic credit split last-touch ([[qAttribution]])
    * approximates. Coalition value v(S) = number of converting users
    * whose pre-conversion exposure set ⊆ S; per-channel credit is the
    * Shapley sum Σ_S |S|!·(n−1−|S|)!·(v(S∪c) − v(S)) over the 2^(n−1)
    * subsets avoiding c. With n = 3 everything is exact INTEGER
    * arithmetic — the emitted `phi_num` is the numerator over n! = 6,
    * so the oracle replays it bit-for-bit and the single final
    * division (phi = phi_num/6.0) is one identical IEEE op both
    * engines. Scale shape: ONE pass builds per-user exposure bitmasks
    * (partial-aggregable max-flags), everything after runs on the
    * ≤2^n-row subset lattice — the corpus never shuffles twice, and
    * the lattice algebra is constant-size at any scale. Efficiency
    * axiom checked in the output: Σ phi_num = (v(full) − v(∅))·n!. */
  def qShapleyAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"))
    val firstP = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("tu")).as("pt"))
    val touches = ev.filter(
      col("event_type").isin("view", "click", "signup"))
    // per converting user: exposure bitmask over strictly-prior touches
    val masks = firstP.as("p")
      .join(touches.as("t"),
        col("p.user_id") === col("t.user_id") &&
          col("t.tu") < col("p.pt"), "left")
      .groupBy(col("p.user_id"))
      .agg(
        coalesce(max(when(col("t.event_type") === "view", 1)), lit(0))
          .as("bv"),
        coalesce(max(when(col("t.event_type") === "click", 1)), lit(0))
          .as("bc"),
        coalesce(max(when(col("t.event_type") === "signup", 1)), lit(0))
          .as("bs"))
      .select((col("bv") + col("bc") * 2 + col("bs") * 4).as("m"))
    val setCounts = masks.groupBy(col("m"))
      .agg(count(lit(1)).as("cnt")) // ≤ 8 rows
    // subset lattice: v(S) = Σ counts of exposure sets contained in S
    val lattice = s.range(8).select(col("id").cast("int").as("ss"))
    val v = lattice.crossJoin(broadcast(setCounts))
      .groupBy(col("ss"))
      .agg(coalesce(sum(when(
        col("m").bitwiseAND(col("ss")) === col("m"), col("cnt"))), lit(0L))
        .as("v"))
    val ch = s.createDataFrame(Seq(("click", 2), ("signup", 4), ("view", 1)))
      .toDF("channel", "b")
    // subsets avoiding b, with the exact integer weight |S|!·(2−|S|)!
    val terms = ch.join(v.select(col("ss"), col("v").as("v0")),
        col("ss").bitwiseAND(col("b")) === 0)
      .join(v.select(col("ss").as("_sb"), col("v").as("v1")),
        col("_sb") === col("ss").bitwiseOR(col("b")))
      .withColumn("w",
        when(col("ss") === 0, 2).when(col("ss").isin(3, 5, 6), 2)
          .otherwise(1))
    terms.groupBy(col("channel"))
      .agg(sum(col("w") * (col("v1") - col("v0"))).as("phi_num"))
      .select(col("channel"), col("phi_num"),
        round(col("phi_num") / 6.0, 4).as("phi"))
      .orderBy(col("channel"))
  }

  /** Statistical anomaly audit: per-group price outliers beyond
    * mean ± 2σ. The group moments are a one-pass partial-aggregable
    * scan producing a |groups|-row frame that BROADCASTS back onto the
    * fact — the fact is scanned twice but never shuffled, which beats a
    * window over 3 giant partitions at any scale. The z-boundary is
    * rounded to 4 decimals before comparing so a last-ulp moment
    * difference between engines cannot flip a row's outlier status. */
  def qAnomalyZscore(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val stats = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice")).as("_mu"),
        stddev_samp(col("l_extendedprice")).as("_sd"))
      .select(col("l_returnflag"),
        round(col("_mu") + lit(2.0) * col("_sd"), 4).as("hi"),
        round(col("_mu") - lit(2.0) * col("_sd"), 4).as("lo"))
    li.join(broadcast(stats), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("l_extendedprice") > col("hi"), 1)).as("n_high"),
        count(when(col("l_extendedprice") < col("lo"), 1)).as("n_low"),
        round(max(when(col("l_extendedprice") > col("hi"),
          col("l_extendedprice"))), 2).as("max_outlier"))
      .orderBy(col("l_returnflag"))
  }

  /** EWMA trend smoothing (α=0.5, 6-month horizon) over per-flag
    * monthly revenue. The smoothing is an EXPLICIT lag-chain
    * (Σ αᵏ·lag(rev,k) / Σ αᵏ over present lags), not a recursive
    * running product: the monthly inputs are rounded to cents first, so
    * both engines run identical IEEE arithmetic and the result is
    * bit-stable — and a bounded frame keeps the window O(1)/row. One
    * shuffle for the monthly rollup; the window reuses its partitioning. */
  /** Absorbing-Markov funnel analysis: treating view/click/signup as
    * transient states and the FIRST purchase/error as absorption,
    * emit each transient state's expected steps to absorption and its
    * absorption-probability split — the closed-form chain analytics
    * above [[qMarkovChain]]'s raw transition matrix. Sequences
    * truncate at the first absorbing event (the chain must actually
    * absorb); the 15-cell transition census is exact longs; the 3×3
    * fundamental matrix N = (I−Q)⁻¹ comes from [[MarkovAlg]]'s
    * adjugate formulas, whose expression TEXT is shared verbatim with
    * the oracle — both engines evaluate the identical arithmetic
    * tree. */
  def qAbsorbingMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_s"))
      .withColumn("abs_before",
        coalesce(sum(when(col("event_type").isin("purchase", "error"),
          1L).otherwise(0L)).over(wPrev), lit(0L)))
      .filter(col("abs_before") === 0)
    val pairs = ev
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tag = Map("view" -> "v", "click" -> "c", "signup" -> "s",
      "purchase" -> "p", "error" -> "e")
    val cells = for ((sn, st) <- tag.toSeq if st != "p" && st != "e";
                     (dn, dt) <- tag.toSeq)
      yield sum(when(col("src") === sn && col("dst") === dn, col("n"))
        .otherwise(0L)).as(s"n_$st$dt")
    val one = pairs.agg(cells.head, cells.tail: _*)
    val states = Seq("view", "click", "signup")
    one.select(
      states.indices.flatMap { i =>
        Seq(
          (floor(expr(MarkovAlg.steps(i)) * 1e4 + 0.5) / 1e4)
            .as(s"steps_${states(i)}"),
          (floor(expr(MarkovAlg.absorb(i, "p")) * 1e6 + 0.5) / 1e6)
            .as(s"p_purchase_${states(i)}"),
          (floor(expr(MarkovAlg.absorb(i, "e")) * 1e6 + 0.5) / 1e6)
            .as(s"p_error_${states(i)}"))
      }: _*)
  }

  /** DAU/MAU stickiness per month — the engagement-ratio readout: how
    * much of the monthly audience shows up on an average day. Two
    * distinct-count rollups (per-day, per-month); the daily counts
    * then fold to one row per month; avg DAU kept as an exact integer
    * ratio until the final division. */
  def qDauMau(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        date_format(col("ts"), "yyyy-MM").as("month"),
        to_date(col("ts")).as("day"))
    val dau = ev.groupBy(col("month"), col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_sum"))
    val mau = ev.groupBy(col("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("n_days"),
        (floor(expr("CAST(dau_sum AS DOUBLE) / n_days") * 1e4 + 0.5)
          / 1e4).as("avg_dau"),
        col("mau"),
        (floor(expr("CAST(dau_sum AS DOUBLE) / n_days / mau") * 1e6
          + 0.5) / 1e6).as("stickiness"))
      .orderBy(col("month"))
  }

  /** RFM-style segment migration matrix: customers quintiled by spend
    * in each calendar half of the order span (split at the midpoint
    * DATE), then the before→after transition census — the
    * segment-drift report a CRM reads quarterly. Quintiles ride the
    * exact ranged [[graft.ops.Ranks.groupNtile]] partitioned by half,
    * so no per-half window sort exists at any scale; the matrix join
    * is customer-keyed. */
  def qRfmMigration(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .select(col("o_custkey").as("cust"),
        col("o_orderdate").cast("date").as("dt"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val mid = broadcast(ord.agg(
      expr("date_add(min(dt), CAST(datediff(max(dt), min(dt)) div 2" +
        " AS INT))").as("mid")))
    val spend = ord.crossJoin(mid)
      .withColumn("half", when(col("dt") < col("mid"), lit("before"))
        .otherwise(lit("after")))
      .groupBy(col("half"), col("cust"))
      .agg(sum(col("cents")).as("spend"))
    val seg = graft.ops.Ranks.groupNtile(spend, Seq(col("half")),
      Seq(col("spend"), col("cust")), 5, "seg")
    val before = seg.filter(col("half") === "before")
      .select(col("cust"), col("seg").as("seg_before"))
    val after = seg.filter(col("half") === "after")
      .select(col("cust"), col("seg").as("seg_after"))
    before.join(after, Seq("cust"), "full_outer")
      .groupBy(coalesce(col("seg_before"), lit(0L)).as("seg_before"),
        coalesce(col("seg_after"), lit(0L)).as("seg_after"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("seg_before"), col("seg_after"))
  }

  def qEwma(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"),
        date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
          .as("month"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("month"))
    val terms = (0 until 6).map { k =>
      val x = lag(col("revenue"), k).over(w)
      (when(x.isNotNull, x * lit(math.pow(0.5, k))),
        when(x.isNotNull, lit(math.pow(0.5, k))))
    }
    val num = terms.map(_._1).reduce((a, b) => coalesce(a, lit(0.0)) + coalesce(b, lit(0.0)))
    val den = terms.map(_._2).reduce((a, b) => coalesce(a, lit(0.0)) + coalesce(b, lit(0.0)))
    monthly
      .withColumn("ewma", round(num / den, 4))
      .orderBy(col("l_returnflag"), col("month"))
  }

  /** Degree-distribution profile of the bipartite customer↔supplier
    * trade graph: suppliers bucketed by distinct-customer degree. The
    * edge list is one distinct over (cust, supp) — partial-aggregable,
    * one shuffle — and the histogram is a |degrees|-row second pass.
    * This is the graph-skew probe you run BEFORE pagerank/triangles to
    * know whether degree-orientation or salting is needed. */
  def qDegreeDist(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct()
    edges.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_suppliers"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("degree"))
  }

  /** LOCF (last-observation-carried-forward) gap imputation: the
    * (day × priority) grid is mostly EMPTY at daily grain, and the
    * filled series carries each priority's last observed revenue
    * across its gaps — the standard time-series imputation before
    * feature windows. The spine is a cross join of two tiny distinct
    * frames (broadcast), the observation join is day-keyed, and the
    * fill itself is `last(ignoreNulls)` over a per-priority ordered
    * window — NO per-gap joins, one window pass regardless of gap
    * structure. Leading nulls (before a priority's first observation)
    * stay null and are reported, not invented. */
  def qLocfImpute(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority").as("prio"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val days = daily.select(col("day")).distinct()
    val prios = daily.select(col("prio")).distinct()
    val w = Window.partitionBy(col("prio")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.crossJoin(broadcast(prios))
      .join(daily, Seq("day", "prio"), "left")
      .withColumn("filled", last(col("rev"), ignoreNulls = true).over(w))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_days"),
        count(col("rev")).as("n_observed"),
        sum(when(col("rev").isNull && col("filled").isNotNull, 1)
          .otherwise(0)).as("n_filled"),
        sum(when(col("filled").isNull, 1).otherwise(0)).as("n_leading"),
        round(sum(coalesce(col("filled"), lit(0.0))), 2)
          .as("filled_total"))
      .orderBy(col("prio"))
  }

  /** CUSUM mean-shift detection over the daily revenue series: each
    * day's total is standardized against the corpus mean/stddev, the
    * standardized deviations accumulate in date order, and the days
    * where the cumulative sum strays furthest flag the change points.
    * Daily totals are rounded to cents and z-scores to 6 dp BEFORE the
    * cumulative window, then the cumsum itself runs over EXACT micro-z
    * integers (z·10⁶ as BIGINT) — engines that associate windowed float
    * additions differently (the q_abc_class r5 lesson) still produce
    * the identical cusum, bit-for-bit, with no tolerance. One fact shuffle to daily grain; the window and
    * ranking run on the |days|-row series. At 100 TB the series is
    * still only O(days) rows — change detection costs one scan. */
  def qCusumChange(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
    val stats = daily.agg(round(avg(col("revenue")), 6).as("mu"),
      round(stddev_pop(col("revenue")), 6).as("sigma"))
    val z = daily.crossJoin(broadcast(stats))
      .withColumn("zscore",
        round((col("revenue") - col("mu")) / col("sigma"), 6))
      .withColumn("micro_z", round(col("zscore") * 1e6, 0).cast("long"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    z.withColumn("cusum", round(sum(col("micro_z")).over(wCum) / 1e6, 4))
      .orderBy(abs(col("cusum")).desc, col("day"))
      .limit(10)
      .select(col("day"), col("revenue"), col("zscore"), col("cusum"))
  }

  /** Rolling 28-day correlation between daily average discount and
    * daily revenue — the moving co-movement monitor that flags when a
    * promotion regime change decouples two KPIs. Inputs are rounded at
    * the daily grain first (the shared-value contract), then `corr`
    * runs as a window aggregate over a bounded 28-row frame: O(1)
    * state per row, one fact shuffle to daily grain, and the window
    * work is O(days), independent of fact size. Only full windows
    * rank; the strongest-|corr| windows surface first. */
  def qRollingCorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(round(avg(col("l_discount")), 6).as("avg_disc"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    val w = Window.orderBy(col("day")).rowsBetween(-27, Window.currentRow)
    val wn = Window.orderBy(col("day"))
    daily
      .withColumn("rn", row_number().over(wn))
      .withColumn("corr28",
        round(corr(col("avg_disc"), col("revenue")).over(w), 4))
      .filter(col("rn") >= 28 && col("corr28").isNotNull)
      .orderBy(abs(col("corr28")).desc, col("day"))
      .limit(15)
      .select(col("day"), col("avg_disc"), col("revenue"), col("corr28"))
  }

  /** Path mining: each user's first-3-event journey collapsed to a
    * `a>b>c` path string, ranked by audience size — the entry-funnel
    * report. The per-user sequence assembly is ONE shuffle keyed on
    * user (window rank + grouped collect), and order inside the
    * collected array is imposed by `array_sort` on the (rank, type)
    * struct, not by partition luck — collect_list order is undefined in
    * a distributed run, sorting the struct makes it deterministic on
    * any topology. Path cardinality is tiny (|event_types|³), so the
    * final rollup broadcasts anywhere. Ties inside a second break on
    * event_id (the floor-epoch contract). */
  def qFunnelPaths(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(
        array_sort(collect_list(struct(col("rn"), col("event_type"))))
          .getField("event_type"), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"),
        min(col("user_id")).as("example_user"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(15)
  }

  /** Rolling 28-day MEDIAN of daily revenue — the robust trend line
    * that a rolling mean can't give (one promo spike drags a mean for
    * a month; the median shrugs). `percentile` runs as a bounded-frame
    * window aggregate over cent-rounded inputs: exact interpolation on
    * identical values in both engines, O(frame) state per row, window
    * work O(days) regardless of fact size. Reported beside the mean so
    * the output exposes exactly where robustness matters (spike days
    * pull mean >> median). */
  def qRollingMedian(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
    val w = Window.orderBy(col("day")).rowsBetween(-27, Window.currentRow)
    val wn = Window.orderBy(col("day"))
    daily
      .withColumn("rn", row_number().over(wn))
      .withColumn("med28", round(expr("percentile(revenue, 0.5)")
        .over(w).cast("double"), 2))
      .withColumn("mean28", round(avg(col("revenue")).over(w), 2))
      .filter(col("rn") >= 28)
      .withColumn("skew_gap", round(col("mean28") - col("med28"), 2))
      .orderBy(abs(col("skew_gap")).desc, col("day"))
      .limit(15)
      .select(col("day"), col("revenue"), col("med28"), col("mean28"),
        col("skew_gap"))
  }

  /** Lag-k autocorrelation of the daily revenue series (k = 1, 7, 28):
    * the one-row-per-lag diagnostic that detects day-over-day
    * persistence and weekly cycles before anyone fits a seasonal
    * model. Each lag is `corr(x_t, x_{t-k})` — one lag window plus a
    * two-column aggregate on the O(days) series; the fact table is
    * touched once for the daily rollup. */
  def qAutocorr(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
      .cache()
    val w = Window.orderBy(col("day"))
    val lagged = daily
      .withColumn("lag1", lag(col("revenue"), 1).over(w))
      .withColumn("lag7", lag(col("revenue"), 7).over(w))
      .withColumn("lag28", lag(col("revenue"), 28).over(w))
    Seq(("lag1", 1), ("lag7", 7), ("lag28", 28)).map { case (c, k) =>
      lagged.filter(col(c).isNotNull)
        .agg(lit(k).as("lag_days"),
          count(lit(1)).as("n_pairs"),
          round(corr(col("revenue"), col(c)), 4).as("autocorr"))
    }.reduce(_ unionByName _).orderBy(col("lag_days"))
  }

  /** Exponential time-decay scoring (half-life 180 days, anchored at
    * the corpus max date so the score is reproducible): each order
    * contributes totalprice × 0.5^(age/180) — the recency-weighted
    * customer value that RFM's hard recency cut approximates. Decay
    * weights are per-row scalar math fused into the aggregation
    * (codegen'd, no window), so the whole score is ONE
    * partial-aggregable shuffle; the anchor is a one-row broadcast. */
  def qDecayScore(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("day"))
    val anchor = ord.agg(max(col("day")).as("max_day"))
    ord.crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        (col("o_totalprice") *
          pow(lit(0.5), datediff(col("max_day"), col("day")) / 180.0))
          .as("w"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("w")), 2).as("decayed_value"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("decayed_value").desc, col("o_custkey"))
      .limit(15)
  }

  /** Inter-arrival gap profile per event type (the point-process view
    * of the stream): consecutive-event gaps via one lag window, then
    * median/p90/max per type. One type-keyed shuffle; the window and
    * percentiles run inside each type partition. Reading this before
    * sessionizing tells you whether the session gap threshold is in
    * the distribution's tail or its body. */
  def qInterArrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_s"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_s"))
      .withColumn("gap_s", col("ts_s") - lag(col("ts_s"), 1).over(w))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_s, 0.5)"), 2).as("p50_gap_s"),
        round(expr("percentile(gap_s, 0.9)"), 2).as("p90_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("event_type"))
  }

  /** Rolling 7-day active users (DAU/WAU + stickiness): the product
    * health metric that needs DISTINCT over a sliding window — which
    * no window aggregate gives directly. Exact formulation: the daily
    * distinct-actives frame range-joins the day spine within the
    * 7-day lookback, then one distinct count per day. The joined frame
    * is |days|×|avg actives|×7 — fine at day grain at any corpus
    * size, because it scales with DAYS, not events. (The sketch path
    * for finer grains is q_hll_merge.) */
  def qRollingWau(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .cache()
    val days = daily.select(col("day")).distinct()
    val dau = daily.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = days.as("s")
      .join(daily.as("u"),
        datediff(col("s.day"), col("u.day")).between(0, 6))
      .groupBy(col("s.day").as("day"))
      .agg(countDistinct(col("u.user_id")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  /** Conversion lag: per user, the delay from first view to first
    * subsequent purchase, summarized as a latency distribution
    * (median/p90 + mean). One user-keyed shuffle with conditional
    * min-aggregates carries both stage timestamps — no self-join; the
    * percentile runs on the |converted-users| frame. The
    * time-to-convert report that decides attribution windows. */
  def qConversionLag(s: SparkSession, d: String): DataFrame = {
    val per = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view",
        unix_timestamp(col("ts")))).as("first_view"))
    val purch = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("p_ts"))
    per.filter(col("first_view").isNotNull)
      .join(purch, "user_id")
      .filter(col("p_ts") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("p_ts")).as("first_purchase"))
      .select((col("first_purchase") - col("first_view")).as("lag_s"))
      .agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(lag_s, 0.5)"), 2).as("p50_lag_s"),
        round(expr("percentile(lag_s, 0.9)"), 2).as("p90_lag_s"),
        round(avg(col("lag_s")), 2).as("mean_lag_s"))
  }

  /** New-vs-returning daily split: each active user classified by
    * whether this is their first-seen day — the product-analytics
    * acquisition/retention headline. Two user-keyed shuffles (daily
    * distinct actives, first-seen min) then a |days|-row rollup; the
    * first-seen frame is |users|-bounded and joins back broadcast-side
    * at scale. */
  def qNewVsReturning(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    daily.join(broadcast(first), "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1).otherwise(0))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        round(col("n_new") / col("n_active"), 4).as("pct_new"))
      .orderBy(col("day"))
  }

  /** Day-of-week seasonality decomposition of the revenue series: each
    * weekday's mean daily revenue as an index against the overall mean
    * (index > 1 = that weekday runs hot). Classic multiplicative
    * seasonal profile; one fact shuffle to daily grain, then all work
    * happens on the O(days) series — the 7-row profile and the scalar
    * overall mean broadcast back. Weekday numbering pinned to
    * Monday=0 (Spark `weekday` ⟷ DuckDB `isodow - 1`). */
  /** Mann–Kendall TREND test per month over the daily revenue series —
    * the nonparametric "is this metric drifting" monitor ops teams run
    * before alerting on a trend: S = Σ_{i<j} sgn(y_j − y_i) over the
    * time order, tau-a = S/n₀. Reuses [[Mining.kendallDiscordant]] —
    * the two-level value-bucket dominance count — with x = day (no
    * ties), so S = n₀ − 2·n_d − t_y from pure integer rollups; daily
    * revenue is the exact 1e-4 lattice Long (the qStlDecompose rule:
    * float groupBy sums are not cross-engine portable), and tau-a is
    * one micro-fixed division of identical integers. The oracle
    * replays the naive quadratic sign census per month (≤31² pairs) —
    * an independent method the dominance count must match exactly. */
  def qMannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(date_format(to_date(col("l_shipdate")), "yyyy-MM")
          .as("month"),
        to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("e4"))
      .select(col("month").as("nation"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("k"),
        datediff(col("day"), lit("1970-01-01")).cast("long").as("x_cents"),
        col("e4").as("y_cents"))
      .localCheckpoint(true)
    val nd = graft.ops.Mining.kendallDiscordant(daily, bucketCount = 8)
    val ty = daily.groupBy(col("nation"), col("y_cents"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("nation"))
      .agg(sum(expr("c * (c - 1) div 2")).as("ty"))
    daily.groupBy(col("nation")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2L)
      .withColumn("n0", expr("n * (n - 1) div 2"))
      .join(ty, Seq("nation"))
      .join(nd, Seq("nation"), "left").na.fill(0L, Seq("nd"))
      .select(col("nation").as("month"), col("n").as("n_days"),
        (col("n0") - lit(2L) * col("nd") - col("ty")).as("s_stat"),
        (floor((col("n0") - lit(2L) * col("nd") - col("ty"))
          .cast("double") / col("n0") * 1e6 + 0.5) / 1e6).as("tau_a"))
      .orderBy(col("month"))
  }

  /** SEASONAL Mann–Kendall trend test: within each calendar month
    * (season), is the YEARLY revenue for that month trending across
    * years? The de-seasonalized companion to [[qMannKendall]]'s
    * within-month daily test — seasons never compare against each
    * other, so an annual cycle cannot masquerade as trend. One
    * distributed (season, year) rollup on the exact e4 lattice; S, the
    * tie-corrected variance and Z fold in the driver
    * ([[seasonalMannKendallFold]]). */
  def qSeasonalMannKendall(s: SparkSession, d: String): DataFrame = {
    val sy = Tables.lineitem(s, d)
      .groupBy(date_format(to_date(col("l_shipdate")), "MM").as("season"),
        year(to_date(col("l_shipdate"))).cast("long").as("yr"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("e4"))
    // no fold bound needed: the frame is CALENDAR-bounded — at most
    // 12×|years| rows at any corpus size — so the collect is tiny
    // while the corpus-scaled rollup above stays distributed
    s.createDataFrame(seasonalMannKendallFold(sy.collect().toSeq).asJava,
      StructType(Seq(StructField("season", StringType),
        StructField("n_years", LongType), StructField("s_stat", LongType),
        StructField("s_total", LongType), StructField("z_stat", DoubleType))))
  }

  /** The seasonal Mann–Kendall fold over (season, year, e4) rows, one
    * per (season, year): per-season S over the year-ordered e4 values,
    * then the cross-season total and Z. Seasons with a single year
    * carry no pair and are dropped, as the oracle's `n >= 2` filter
    * drops them; with none left the result is the lone row
    * ("total", 0, null, null, null). All arithmetic is exact integers
    * — the MK variance n(n-1)(2n+5)/18 stays on the ×18 lattice so the
    * cross-season sum is exact — with the one final z division on
    * identical operands. Rows come out in season order, "total" last.
    * A null season, year or e4 fails loudly instead of folding as 0. */
  private[graft] def seasonalMannKendallFold(sy: Seq[Row]): Seq[Row] = {
    sy.find(_.anyNull).foreach(r => throw new IllegalStateException(
      s"q_seasonal_mann_kendall: null season, year or e4 in $r"))
    val per = sy.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.collect {
        case (season, rows) if rows.length >= 2 =>
          val ys = rows.sortBy(_._2).map(_._3)
          val n = ys.length.toLong
          val sM = (for (i <- ys.indices; j <- (i + 1) until ys.length)
            yield java.lang.Long.compare(ys(j), ys(i)).toLong).sum
          (season, n, sM, n * (n - 1) * (2 * n + 5))
      }.sortBy(_._1)
    val total =
      if (per.isEmpty) Row("total", 0L, null, null, null)
      else {
        val sTotal = per.map(_._3).sum
        val v18 = per.map(_._4).sum
        Row("total", per.length.toLong, null, sTotal,
          math.floor((sTotal.toDouble - math.signum(sTotal.toDouble)) /
            math.sqrt(v18.toDouble / 18) * 1e4 + 0.5) / 1e4)
      }
    per.map { case (season, n, sM, _) => Row(season, n, sM, null, null) } :+
      total
  }

  def qSeasonality(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        2).as("revenue"))
    val overall = daily.agg(round(avg(col("revenue")), 6).as("mu"))
    daily
      .groupBy(weekday(col("day")).as("dow"))
      .agg(count(lit(1)).as("n_days"),
        round(avg(col("revenue")), 6).as("dow_avg"))
      .crossJoin(broadcast(overall))
      .select(col("dow"), col("n_days"), col("dow_avg"),
        round(col("dow_avg") / col("mu"), 4).as("seasonal_index"))
      .orderBy(col("dow"))
  }

  /** Holt-Winters additive triple exponential smoothing (level +
    * trend + weekly seasonality, α=0.5 β=0.25 γ=0.25) over the daily
    * event census per type — the classic operational forecaster one
    * notch above [[qEwma]]'s single smoother and [[qSeasonality]]'s
    * static indexes. The recurrence is inherently sequential, so the
    * scale split is explicit: the DATA-scaled work is one
    * partial-aggregable shuffle to the |types|×|days| daily frame;
    * the fold then runs per type over that tiny series via a SQL
    * `aggregate` lambda (|days| steps, never corpus-scaled — the same
    * shape a 1000-executor forecaster uses: pre-aggregate, then fold
    * per series). Every smoothing coefficient is a power of two, so
    * each fold step is the identical exactly-rounded IEEE op sequence
    * in any engine — the DuckDB oracle replays the recurrence via
    * recursive CTE bit-for-bit (shared expression generator ensures
    * the op shapes match), checked through floor-scaled integers.
    * Output per type: final level/trend, next-day forecast
    * (l + b + s[(t+1) mod 7]), and the one-step-ahead MSE. */
  def qHoltWinters(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("y"))
    val grouped = daily
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("sd"),
        min(col("day")).as("d0"), max(col("day")).as("dmax"),
        count(lit(1)).as("n_days"))
      .withColumn("ser", expr(
        "transform(sd, x -> named_struct('t', datediff(x.day, d0), 'y', x.y))"))
    // shared recurrence shapes (HoltWinters.scala generates the same
    // strings for the oracle — parity by construction)
    import graft.ops.HoltWinters._
    val init = "named_struct('l', element_at(ser, 1).y, 'b', 0.0D, " +
      (0 to 6).map(i => s"'s$i', 0.0D").mkString(", ") + ", 'sse', 0.0D)"
    val lambda = s"(acc, e) -> named_struct(" +
      s"'l', ${lNew("acc", "e")}, " +
      s"'b', ${bNew("acc", "e")}, " +
      (0 to 6).map(i => s"'s$i', ${sNew("acc", "e", i)}").mkString(", ") +
      s", 'sse', ${sseNew("acc", "e")})"
    grouped
      .withColumn("hw", expr(
        s"aggregate(slice(ser, 2, size(ser) - 1), $init, $lambda)"))
      .withColumn("t_next", expr("datediff(dmax, d0) + 1"))
      .select(col("event_type"), col("n_days"),
        expr("CAST(floor(hw.l * 1e4 + 0.5) AS BIGINT)").as("level_1e4"),
        expr("CAST(floor(hw.b * 1e4 + 0.5) AS BIGINT)").as("trend_1e4"),
        expr("CAST(floor((hw.l + hw.b + (" + sAt("hw", "t_next") +
          ")) * 1e4 + 0.5) AS BIGINT)").as("fc_next_1e4"),
        expr("CASE WHEN n_days > 1 THEN CAST(floor(hw.sse / " +
          "(n_days - 1) * 1e4 + 0.5) AS BIGINT) ELSE 0 END").as("mse_1e4"))
      .orderBy(col("event_type"))
  }

  /** Sequence-pattern matching over the event stream — the
    * MATCH_RECOGNIZE shape `PATTERN (view any* click any* purchase)`
    * with a ≤24 h bound on each stage gap and latest-anchor semantics:
    * a purchase matches iff the most recent qualifying click (one that
    * itself fell within 24 h after some view) occurred within 24 h
    * before it, arbitrary other events in between. Computed in ONE
    * user-keyed window pass: a running last-view timestamp, then a
    * running best qualifying click carrying its anchor view in the low
    * bits of a gap-encoded BIGINT (`click_ts·2¹⁷ + (click_ts −
    * view_ts)`; the gap is ≤ 86400 < 2¹⁷, so max() picks the latest
    * click AND preserves the anchor — no struct/arg-max needed, and
    * every decision is exact integer arithmetic). All three stages
    * share one partitioning + sort, so the plan is a single exchange on
    * user_id followed by O(timeline) window work per user — no
    * self-joins, no explosion; at 100 TB it scales as the events table
    * itself. Output: per-user match census with first-match time and
    * the view→purchase duration range. */
  def qEventPattern(s: SparkSession, d: String): DataFrame = {
    val bound = 86400L  // per-stage gap bound, seconds
    val enc = 131072L   // gap field width: bound < 2^17
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochS(col("ts")).as("ts_s"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val staged = e
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("ts_s"))).over(w))
      .withColumn("click_enc",
        when(col("event_type") === "click" && col("last_view").isNotNull &&
          col("ts_s") >= col("last_view") &&
          col("ts_s") <= col("last_view") + bound,
          col("ts_s") * enc + (col("ts_s") - col("last_view"))))
      .withColumn("best_click", max(col("click_enc")).over(w))
    staged.filter(col("event_type") === "purchase" &&
        col("best_click").isNotNull)
      // decode: click ts in the high bits, view anchor = click − gap
      .withColumn("click_ts", expr("best_click div 131072"))
      .withColumn("view_ts", col("click_ts") - col("best_click") % enc)
      .filter(col("ts_s") >= col("click_ts") &&
        col("ts_s") <= col("click_ts") + bound)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("ts_s")).as("first_match_ts"),
        min(col("ts_s") - col("view_ts")).as("min_dur_s"),
        max(col("ts_s") - col("view_ts")).as("max_dur_s"))
      .orderBy(col("user_id"))
  }

  /** Absence pattern over the event stream — the NEGATION
    * MATCH_RECOGNIZE shape [[qEventPattern]] can't express with
    * existence windows alone: an "organic" purchase is one with a view
    * in the preceding 24 h but NO click in that same lookback (the
    * untouched-by-campaign conversion). Same single user-keyed window
    * pass: running last-view and last-click timestamps; the class
    * decision per purchase is pure integer comparison, so the per-user
    * census is engine-exact. */
  def qEventPatternAbsence(s: SparkSession, d: String): DataFrame = {
    val bound = 86400L
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        epochS(col("ts")).as("ts_s"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_view",
        max(when(col("event_type") === "view", col("ts_s"))).over(w))
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts_s"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("organic",
        col("last_view").isNotNull &&
          col("ts_s") - col("last_view") <= bound &&
          (col("last_click").isNull ||
            col("ts_s") - col("last_click") > bound))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("organic"), 1L).otherwise(0L)).as("n_organic"),
        min(when(col("organic"), col("ts_s"))).as("first_organic_ts"))
      .orderBy(col("user_id"))
  }

  /** Classical STL-style decomposition of the daily revenue series —
    * [[qSeasonality]]'s structural twin: trend = centered 7-day moving
    * average (full windows only), seasonal = mean detrended value per
    * weekday, remainder = what neither explains. All window work runs
    * on the |days|-bounded daily frame (the raw table collapses in ONE
    * partial-aggregable rollup first), so nothing here scales with row
    * count — the same bounded-frame exemption the EWMA/Holt-Winters
    * family documents. */
  def qStlDecompose(s: SparkSession, d: String): DataFrame = {
    // The whole decomposition runs on an exact integer lattice: the
    // per-item revenue price·(1−disc) is EXACT in 1e-4 currency units
    // (2-dp price × 2-dp discount), so daily revenue is an
    // order-independent Long sum — a float groupBy sum would differ
    // from the oracle in accumulation order and flip cents on
    // rounding-boundary days, and DuckDB's sliding windows accumulate
    // via a segment tree (different order again). Scaled ×700 so the
    // /7 trend and every difference stay integral; the only doubles
    // are final divisions of identical exact rationals.
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("_e4"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("_n7", count(lit(1)).over(w))
      .withColumn("_s7", sum(col("_e4")).over(w))
      .filter(col("_n7") === 7) // full windows only: edges have no trend
      .withColumn("_du", col("_e4") * 700 - col("_s7") * 100)
    val seasonal = trended
      .groupBy(weekday(col("day")).as("_dow"))
      .agg(count(lit(1)).as("_nd"), sum(col("_du")).as("_sdu"))
    trended
      .join(broadcast(seasonal), weekday(col("day")) === col("_dow"))
      .withColumn("seasonal",
        col("_sdu").cast("double") / (col("_nd") * 7000000.0))
      .select(col("day").cast("string").as("day"),
        (col("_e4").cast("double") / 10000.0).as("revenue"),
        ((col("_s7") * 100).cast("double") / 7000000.0).as("trend"),
        col("seasonal"),
        (col("_du").cast("double") / 7000000.0 - col("seasonal"))
          .as("remainder"))
      .orderBy(col("day"))
  }

  /** Theil–Sen robust trend estimate over the daily revenue series:
    * the median of all pairwise slopes — the published
    * outlier-resistant alternative to OLS (one wild day moves OLS, not
    * the pairwise-slope median). The pair set is |days|² over the
    * BOUNDED daily frame (~3 M pairs at 7 years — constant in corpus
    * size, only the one rollup touches raw rows). The median is an
    * exact two-pass HISTOGRAM SELECTION: pass 1 buckets the slopes
    * (2²⁰-micro cells) into a driver-sized histogram that locates the
    * k-th value's bucket, pass 2 orders ONLY that bucket's members —
    * no global sort, no rank shuffle, no materialized pair frame; the
    * selection cost is two narrow scans of the (regenerated) pair
    * stream. The k-th VALUE is deterministic regardless of tie order,
    * which is all the rank needs. */
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    // daily revenue on the exact 1e-4-unit integer lattice (see
    // qStlDecompose: a float groupBy sum is accumulation-order-
    // dependent and not portable); slope numerators are then exact
    // longs, and floor(x + 0.5) of one identical IEEE division fixes
    // each slope to integer micro-units in both engines
    val daily = Tables.lineitem(s, d)
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1995-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("y_e4"))
      .localCheckpoint(true)
    def pairs = daily.as("a").join(daily.as("b"), col("a.x") < col("b.x"))
      .select(floor(((col("b.y_e4") - col("a.y_e4")) * 100).cast("double")
        / (col("b.x") - col("a.x")) + 0.5).cast("long").as("slope_micro"))
    val nDays = daily.count()
    val nPairs = nDays * (nDays - 1) / 2
    val k = (nPairs + 1) / 2
    val hist = pairs.groupBy(expr("slope_micro div 1048576").as("_b"))
      .agg(count(lit(1)).as("_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cum = hist.scanLeft(0L)(_ + _._2)
    val i = cum.indexWhere(_ >= k) - 1 // bucket holding the k-th value
    val (bucket, kLocal) = (hist(i)._1, k - cum(i))
    val med = pairs.filter(expr("slope_micro div 1048576") === bucket)
      .orderBy(col("slope_micro"))
      .offset((kLocal - 1).toInt).limit(1)
    daily.agg(count(lit(1)).as("n_days"))
      .crossJoin(broadcast(med))
      .select(col("n_days"), lit(nPairs).as("n_pairs"), col("slope_micro"),
        (col("slope_micro").cast("double") / 1e6).as("ts_slope"))
  }

  /** Rolling 30-day regression slope of the daily revenue series — the
    * trailing-trend monitor a metrics pipeline refreshes daily. All
    * five window sums (n, Σx, Σy, Σxy, Σx²) are exact Longs on the
    * 1e-4-unit lattice (order-independent — the qStlDecompose
    * portability rule), so the OLS slope numerator/denominator are
    * exact integers and the one division is identical IEEE in both
    * engines; each slope then fixes to integer micro-units. Windows
    * run on the |days|-bounded daily frame only. */
  def qRollingSlope(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1995-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("y"))
    val w = Window.orderBy(col("x")).rowsBetween(-29, 0)
    daily
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_sx", sum(col("x")).over(w))
      .withColumn("_sy", sum(col("y")).over(w))
      .withColumn("_sxy", sum(col("x") * col("y")).over(w))
      .withColumn("_sxx", sum(col("x") * col("x")).over(w))
      .filter(col("_n") === 30) // full trailing windows only
      .withColumn("_num", col("_n") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("_den", col("_n") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("slope_micro",
        floor(col("_num").cast("double") / col("_den") * 100 + 0.5)
          .cast("long"))
      .select(col("x").as("day_idx"),
        (col("_sy").cast("double") / (30 * 10000.0)).as("avg_revenue_30d"),
        col("slope_micro"),
        (col("slope_micro").cast("double") / 1e6).as("slope"))
      .orderBy(col("day_idx"))
  }

  /** OHLC time bars — the financial candlestick rollup applied to the
    * event stream: per hourly bar and event type, the first (open) and
    * last (close) value by event time, the high/low extremes, count,
    * and value volume. Open/close are partial-aggregable
    * `min_by`/`max_by` argmins over the TOTAL order (ts, event_id) —
    * no per-bar window sort, no row_number: a bar with a billion
    * events folds map-side like any other aggregate. The oracle
    * replays first/last via µs-ranked row_number (the latest-per-key
    * tie convention). */
  def qOhlcBars(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bar", expr("(unix_timestamp(ts) div 3600) * 3600"))
      .groupBy(col("bar"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(min_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max_by(col("value"), struct(col("ts"), col("event_id"))), 2)
          .as("close"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("bar"), col("event_type"))

  /** Rolling-origin forecast BACKTEST — the evaluation harness every
    * forecasting deployment needs before it trusts a model: walk the
    * daily revenue series, at each step predict tomorrow with (a) the
    * naive lag-1 and (b) the trailing 7-day mean, and score both by
    * MAE over the same evaluation rows. Runs entirely on the exact
    * 1e-4 revenue lattice (§5 rule): the MA7 error is kept ×7 so it
    * stays an exact long (|7·y_t − Σ7| — no division inside the sum),
    * and the two MAEs are final divisions of identical integers, so
    * the winner flag is portable. One O(days) series frame after the
    * daily rollup — the window is data-bounded, never corpus-scaled. */
  def qForecastBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(datediff(to_date(col("l_shipdate")),
        lit("1995-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("y"))
    val w1 = Window.orderBy(col("x")).rowsBetween(-1, -1)
    val w7 = Window.orderBy(col("x")).rowsBetween(-7, -1)
    daily
      .withColumn("_prev", sum(col("y")).over(w1))
      .withColumn("_n7", count(lit(1)).over(w7))
      .withColumn("_s7", sum(col("y")).over(w7))
      .filter(col("_n7") === 7)
      .select(
        abs(col("y") - col("_prev")).as("_e1"),
        abs(col("y") * 7 - col("_s7")).as("_e7"))
      .agg(count(lit(1)).as("n_evals"),
        sum(col("_e1")).as("_se1"), sum(col("_e7")).as("_se7"))
      .select(col("n_evals"),
        (floor(col("_se1").cast("double") / col("n_evals") / 1e4 * 100
          + 0.5) / 100).as("mae_naive"),
        (floor(col("_se7").cast("double") / col("n_evals") / 7e4 * 100
          + 0.5) / 100).as("mae_ma7"),
        (col("_se7").cast("double") / 7 < col("_se1").cast("double"))
          .as("ma7_wins"))
  }

  /** Sequential-pattern support (the PrefixSpan level-1 table): for
    * every ORDERED pair of distinct event types (A→B), how many users
    * exhibit A strictly before B at least once — the pattern census
    * behavioral miners rank before growing longer sequences. The whole
    * corpus reduces to ONE (user, type) rollup of first/last µs
    * timestamps; "∃ a∈A, b∈B with ts_a < ts_b" is exactly
    * min(A) < max(B), so the pattern test is a |users|×5-frame
    * self-join bounded at 25 rows per user — no per-event pairing
    * anywhere, which is what makes level-1 mining a single cheap pass
    * at 100 TB. */
  def qSeqPatternMining(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .cache()
    val users = spans.select(col("user_id")).distinct().count()
    spans.as("a").join(spans.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") =!= col("b.event_type") &&
          col("a.mn") < col("b.mx"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
      .select(col("type_a"), col("type_b"), col("support"),
        (floor(col("support").cast("double") / users * 1e6 + 0.5) / 1e6)
          .as("share"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Round-half-up to `dp` decimals via the explicit floor lattice. */
  private def rnd(c: Column, dp: Int): Column = {
    val s = math.pow(10, dp)
    floor(c * s + 0.5) / s
  }

  /** The shared daily-revenue series on the exact e4 lattice (price
    * cents × discount-complement cents — the [[qMannKendall]] /
    * [[qStlDecompose]] convention): the corpus collapses in ONE
    * partial-aggregable rollup to the calendar-bounded frame, so
    * everything downstream is |days|-sized no matter the corpus. */
  private def dailyE4(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("e4"))

  /** Bollinger bands over the daily revenue series: 20-day moving
    * mean ± 2σ, plus the breakout flag — the volatility-envelope
    * monitor. Sliding s1=Σx and s2=Σx² ride the exact integer lattice
    * (s2 on DECIMAL(38,0)⇄HUGEINT since daily e4 squares overflow a
    * long), so DuckDB's segment-tree window accumulation and Spark's
    * sequential slide agree bit-for-bit (the §5 float-window hazard
    * never engages); σ = sqrt(20·s2 − s1²)/20 and the bands are a
    * pinned-order double tail over those identical integers. Full
    * windows only (row 20+). */
  def qBollinger(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day")).rowsBetween(-19, 0)
    dailyE4(s, d)
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
      .withColumn("s1", sum(col("e4")).over(w))
      .withColumn("s2", sum(expr("CAST(e4 AS DECIMAL(38,0)) * e4")).over(w))
      .filter(col("rn") >= 20)
      .withColumn("ma", expr("CAST(s1 AS DOUBLE) / 20 / 10000"))
      .withColumn("sd", expr(
        "sqrt(CAST(20 * s2 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE))" +
          " / 20 / 10000"))
      .select(col("day"),
        rnd(expr("CAST(e4 AS DOUBLE) / 10000"), 2).as("rev"),
        rnd(col("ma"), 4).as("ma20"),
        rnd(col("sd"), 4).as("sd20"),
        rnd(expr("ma + 2 * sd"), 4).as("upper_band"),
        rnd(expr("ma - 2 * sd"), 4).as("lower_band"),
        when(expr("CAST(e4 AS DOUBLE) / 10000 > ma + 2 * sd"), 1)
          .when(expr("CAST(e4 AS DOUBLE) / 10000 < ma - 2 * sd"), -1)
          .otherwise(0).as("breakout"))
      .orderBy(col("day"))
  }

  /** 14-day RSI (Cutler's SMA variant — the ORDER-FREE form: Wilder's
    * original is an exponential recursion, Cutler's is a sliding mean,
    * which is why it's the one that stays exact on the integer
    * lattice) over the daily revenue series. Day-over-day gains and
    * losses are exact longs off one lag; the 14-day sums slide as
    * longs; RSI = 100·G/(G+L) is one double division of identical
    * integers. Full windows only. */
  def qRsi(s: SparkSession, d: String): DataFrame = {
    val dOrd = Window.orderBy(col("day"))
    val diffed = dailyE4(s, d)
      .withColumn("diff", col("e4") - lag(col("e4"), 1).over(dOrd))
      .filter(col("diff").isNotNull)
    val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
    diffed
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
      .withColumn("gsum", sum(greatest(col("diff"), lit(0L))).over(w))
      .withColumn("lsum", sum(greatest(-col("diff"), lit(0L))).over(w))
      .filter(col("rn") >= 14)
      .select(col("day"), col("gsum").as("gain_sum"),
        col("lsum").as("loss_sum"),
        when(col("gsum") + col("lsum") > 0L,
          rnd(expr("100 * CAST(gsum AS DOUBLE) / (gsum + lsum)"), 4))
          .as("rsi"))
      .orderBy(col("day"))
  }

  /** Drawdown / underwater curve of the daily revenue series: each
    * day's gap below the historical peak, the risk metric every
    * operational dashboard carries. Running peak is an exact long
    * running max over the day order (max is associative+idempotent —
    * [[Ranks.globalRunningMaxPrev]]'s contract — but the frame here is
    * calendar-bounded so the plain window is the right size); depth
    * and percentage are final arithmetic on identical integers. */
  def qDrawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dailyE4(s, d)
      .withColumn("peak", max(col("e4")).over(w))
      .select(col("day"),
        rnd(expr("CAST(e4 AS DOUBLE) / 10000"), 2).as("rev"),
        rnd(expr("CAST(peak AS DOUBLE) / 10000"), 2).as("peak_rev"),
        rnd(expr("CAST(peak - e4 AS DOUBLE) / 10000"), 2).as("drawdown"),
        rnd(expr("CAST(peak - e4 AS DOUBLE) / CAST(peak AS DOUBLE)"), 6)
          .as("dd_pct"),
        (col("e4") === col("peak")).cast("int").as("is_peak"))
      .orderBy(col("day"))
  }

  /** On-balance volume over the daily revenue series: OBV runs a
    * cumulative sum of each day's QUANTITY signed by the day's
    * revenue direction — the classic volume-confirms-price monitor
    * beside [[qRsi]]/[[qDrawdown]]. Everything is exact longs: the
    * sign off one lag on the e4 lattice, daily volume a unit-lattice
    * sum, OBV an order-free running long sum over the calendar
    * order; the first day contributes 0 by the standard convention. */
  def qObv(s: SparkSession, d: String): DataFrame = {
    val dOrd = Window.orderBy(col("day"))
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")).as("e4"),
        sum(round(col("l_quantity")).cast("long")).as("vol"))
    daily
      .withColumn("sgn", signum(
        (col("e4") - lag(col("e4"), 1).over(dOrd)).cast("double"))
        .cast("long"))
      .withColumn("sv", coalesce(col("sgn"), lit(0L)) * col("vol"))
      .withColumn("obv", sum(col("sv")).over(run))
      .select(col("day"), col("vol").as("volume"),
        coalesce(col("sgn"), lit(0L)).as("direction"), col("obv"))
      .orderBy(col("day"))
  }

  /** Ulcer index of the daily revenue series — the RMS drawdown
    * depth, the risk readout that punishes DURATION underwater where
    * [[qDrawdown]] reports the curve and max-depth only. Each day's
    * squared drawdown fraction is FIXED to the 1e-8 lattice by
    * integer division on DECIMAL(38,0)⇄HUGEINT ((peak−e4)² overflows
    * a long at sf100 — LatticeLedger-registered), so the cross-day
    * fold is an order-free long sum over a calendar-bounded frame;
    * UI and max-drawdown are a pinned double tail. */
  def qUlcerIndex(s: SparkSession, d: String): DataFrame = {
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dailyE4(s, d)
      .withColumn("peak", max(col("e4")).over(run))
      .withColumn("r8", expr(
        "(CAST(peak - e4 AS DECIMAL(38,0)) * (peak - e4) * 100000000)" +
          " div (CAST(peak AS DECIMAL(38,0)) * peak)"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("r8")).as("_s8"), max(col("r8")).as("_m8"))
      .select(col("n_days"),
        rnd(sqrt(expr("CAST(_m8 AS DOUBLE) / 1e8")) * 100, 4)
          .as("max_dd_pct"),
        rnd(sqrt(expr("CAST(_s8 AS DOUBLE) / n_days / 1e8")) * 100, 4)
          .as("ulcer_index"))
  }

  /** Parkinson range volatility per ship MONTH: σ²ₚ =
    * Σ ln(H/L)² / (4 ln2 · n) over the month's daily high/low traded
    * price — the high-low estimator that beats close-to-close
    * variance at the same sample count. Daily H/L are exact cent
    * longs; each day's ln²(H/L) is FIXED to the pico lattice
    * (floor(ln(H/L)²·10¹²) — ln and the square run on IDENTICAL
    * doubles both engines, the micro-nat convention), so the monthly
    * fold is an order-free long sum; σ is one double tail. */
  def qParkinsonVol(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitem(s, d)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(max(round(col("l_extendedprice") * 100).cast("long")).as("h"),
        min(round(col("l_extendedprice") * 100).cast("long")).as("l"))
      .withColumn("p12", floor(
        pow(log(col("h").cast("double") / col("l").cast("double")), 2)
          * lit(1e12)).cast("long"))
    daily
      .groupBy(date_format(col("day"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("p12")).as("_s12"))
      .select(col("month"), col("n_days"),
        rnd(sqrt(expr(
          "CAST(_s12 AS DOUBLE) / 1e12 / (4 * ln(2) * n_days)")), 6)
          .as("parkinson_vol"))
      .orderBy(col("month"))
  }

  /** Croston-style intermittent-demand profile per part, with the
    * Syntetos–Boylan (SBC) demand classification: average demand
    * interval (ADI), squared coefficient of variation of demand sizes
    * (CV²), and the Croston rate forecast size/interval. The corpus
    * reduces in ONE rollup to (part, demand-day) and then to a
    * |parts|-bounded moment frame; ADI/CV²/forecast are exact integer
    * rationals (span·100 > 132·(n−1) replaces the double ADI>1.32
    * compare, so the CLASS BOUNDARY is integer-exact — the 4-dp
    * emitted doubles are display-only). Parts with a single demand
    * day have no interval and are excluded, per the classical
    * estimator. */
  def qCroston(s: SparkSession, d: String): DataFrame = {
    val dd = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q"))
    dd.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_demand_days"),
        sum(col("q")).as("qty_total"),
        sum(col("q") * col("q")).as("q2"),
        datediff(max(col("day")), min(col("day"))).cast("long").as("span_days"))
      .filter(col("n_demand_days") >= 2L)
      .withColumn("adi", rnd(expr(
        "CAST(span_days AS DOUBLE) / (n_demand_days - 1)"), 4))
      .withColumn("cv2", rnd(expr(
        "CAST(n_demand_days * q2 - qty_total * qty_total AS DOUBLE)" +
          " / (CAST(qty_total AS DOUBLE) * qty_total)"), 4))
      .select(col("l_partkey"), col("n_demand_days"), col("qty_total"),
        col("span_days"), col("adi"), col("cv2"),
        rnd(expr("CAST(qty_total AS DOUBLE) * (n_demand_days - 1)" +
          " / (CAST(n_demand_days AS DOUBLE) * span_days)"), 4)
          .as("forecast_daily"),
        when(expr("span_days * 100 > 132 * (n_demand_days - 1)"),
          when(expr("(n_demand_days * q2 - qty_total * qty_total) * 100" +
            " > 49 * qty_total * qty_total"), "lumpy")
            .otherwise("intermittent"))
          .otherwise(
            when(expr("(n_demand_days * q2 - qty_total * qty_total) * 100" +
              " > 49 * qty_total * qty_total"), "erratic")
              .otherwise("smooth")).as("demand_class"))
      .orderBy(col("l_partkey"))
  }

  /** Growth accounting (the "quick ratio" decomposition): every active
    * day split into NEW (first-ever day), RETAINED (also active the
    * previous day) and RESURRECTED (returning after a gap), plus the
    * day's CHURNED count (active yesterday, absent today) and the
    * quick ratio (new + resurrected) / churned — the product-growth
    * readout above q_dau_mau/q_new_vs_returning. All classification by
    * user-day-keyed joins on the distinct (user, day) frame (the only
    * corpus-scaled shuffles); first-day via one grouped min; churn is
    * one anti-join of the shifted frame; ratio micro-fixed with the
    * churn=0 case NULL identically on both engines. */
  def qGrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct().localCheckpoint(true)
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("fd"))
    val prevActive = ud.select(col("user_id"),
      date_add(col("day"), 1).as("day"), lit(1).as("_p"))
    val classified = ud.join(first, "user_id")
      .join(prevActive, Seq("user_id", "day"), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("fd") === col("day"), 1L).otherwise(0L)).as("new_u"),
        sum(when(col("_p").isNotNull, 1L).otherwise(0L)).as("retained"),
        sum(when(col("_p").isNull && col("fd") < col("day"), 1L)
          .otherwise(0L)).as("resurrected"))
    val churn = prevActive
      .join(ud, Seq("user_id", "day"), "left_anti")
      .groupBy(col("day")).agg(count(lit(1)).as("churned"))
    classified.join(churn, Seq("day"), "left")
      .na.fill(0L, Seq("churned"))
      .select(col("day"), col("active"), col("new_u"), col("retained"),
        col("resurrected"), col("churned"),
        when(col("churned") === 0, lit(null).cast("double"))
          .otherwise(floor((col("new_u") + col("resurrected"))
            .cast("double") / col("churned") * 1e6 + 0.5) / 1e6)
          .as("quick_ratio"))
      .orderBy(col("day"))
  }
}
