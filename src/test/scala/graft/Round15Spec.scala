package graft

import org.apache.spark.sql.functions._

/** Round-15 regressions: the ATOMIC multi-table save (r14 verdict
  * orders #1/#6) certified by crash interleavings at every stage of
  * the commit protocol — a reader must see old-everything or
  * new-everything, never a torn mix or a vanished table — plus the
  * concurrent-save loser contract and the versioned manifest.
  */
class Round15Spec extends SparkSuite {
  import spark.implicits._

  /** Two-table fixture: parent `t` (rev tag) + child array table
    * `kids` (values shift with rev) — a torn save would split the
    * joined readout's rev/value sums. */
  private def docs(rev: Int) =
    Seq((1L, Seq((10L, 100L), (11L, 200L))), (2L, Seq((20L, 300L))))
      .toDF("rowNum", "kids")
      .withColumn("rev", lit(rev.toLong))
      .withColumn("kids", expr(
        s"transform(kids, k -> named_struct('rowNum', k._1, " +
          s"'v', k._2 + $rev))"))
      .select(col("rowNum"), col("rev"), col("kids"))

  /** (n kids, Σ child v, Σ parent rev over the join). */
  private def readout(eng: Engine): (Long, Long, Long) = {
    val r = eng.sql("""SELECT count(*) AS n, sum(k.v) AS sv,
        sum(t.rev) AS sr FROM kids k JOIN t ON k.t = t.rowNum""")
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
  private val v1 = (3L, 600L, 0L)
  private val v2 = (3L, 603L, 3L)

  test("a crash BEFORE the commit marker leaves the old save fully " +
      "visible; the retry lands the new one") {
    val wh = graft.util.Scratch.dir("graft_r15_premark").toString
    val eng = new Engine(spark, wh)
    val reader = new Engine(spark, wh)
    eng.save(docs(0), "t")
    assert(readout(reader) == v1)
    eng.beforeMark = () => throw new RuntimeException("crash pre-mark")
    intercept[RuntimeException] { eng.save(docs(1), "t") }
    // staged leftovers exist, but nothing committed: still v1
    assert(readout(reader) == v1)
    eng.beforeMark = () => ()
    eng.save(docs(1), "t")
    assert(readout(reader) == v2)
  }

  test("a crash MID-COMMIT (marker live, one table swapped) already " +
      "reads new-everything; recovery rolls forward idempotently") {
    val wh = graft.util.Scratch.dir("graft_r15_midcommit").toString
    val eng = new Engine(spark, wh)
    val reader = new Engine(spark, wh)
    eng.save(docs(0), "t")
    eng.afterPublish = _ => throw new RuntimeException("crash mid-commit")
    intercept[RuntimeException] { eng.save(docs(1), "t") }
    // the marker rename was the commit point: kids is live-new, t still
    // serves from its staged dir — the reader must already see v2 whole
    assert(readout(reader) == v2)
    // any next engine operation rolls the pending publishes forward
    val eng2 = new Engine(spark, wh)
    eng2.save(Seq((1L, 1L)).toDF("rowNum", "x"), "aux")
    assert(readout(reader) == v2)
    // and the previous save's contents were archived, not destroyed
    assert(eng2.versions("t") == Seq(0) && eng2.versions("kids") == Seq(0))
    assert(eng2.tableAt("t", 0).agg(sum(col("rev"))).collect()(0)
      .getLong(0) == 0L)
  }

  test("mid-commit readout through the seam equals the new truth " +
      "while the uncrashed save completes normally") {
    val wh = graft.util.Scratch.dir("graft_r15_seam").toString
    val eng = new Engine(spark, wh)
    val reader = new Engine(spark, wh)
    eng.save(docs(0), "t")
    var pre: (Long, Long, Long) = null
    var mid: (Long, Long, Long) = null
    eng.beforeMark = () => if (pre == null) pre = readout(reader)
    eng.afterPublish = _ => if (mid == null) mid = readout(reader)
    eng.save(docs(1), "t")
    assert(pre == v1, s"pre-mark readout $pre != v1 $v1")
    assert(mid == v2, s"mid-commit readout $mid != v2 $v2")
    assert(readout(reader) == v2)
  }

  test("a save entering mid-commit serializes by HELPING: it first " +
      "completes the in-flight commit, then lands on top — both " +
      "saves visible in order, never torn") {
    val wh = graft.util.Scratch.dir("graft_r15_ccsave").toString
    val engA = new Engine(spark, wh)
    val engB = new Engine(spark, wh)
    engA.save(docs(0), "t")
    var fired = false
    var seenAfterB: (Long, Long, Long) = null
    engA.afterPublish = _ => if (!fired) { fired = true
      engB.save(docs(2), "t") // enters inside A's commit window
      seenAfterB = readout(engB)
    }
    engA.save(docs(1), "t") // resumed A must not disturb B's commit
    engA.afterPublish = _ => ()
    assert(fired)
    // B helped A's commit forward, then committed its own state
    assert(seenAfterB == (3L, 606L, 6L),
      s"after B's save: $seenAfterB")
    assert(readout(new Engine(spark, wh)) == (3L, 606L, 6L))
  }

  test("the manifest is versioned write-once and pruned; the legacy " +
      "in-place file is superseded") {
    val wh = graft.util.Scratch.dir("graft_r15_manifest").toString
    val eng = new Engine(spark, wh)
    for (rev <- 0 to 4) eng.save(docs(rev), "t")
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = f.listStatus(new org.apache.hadoop.fs.Path(wh))
      .map(_.getPath.getName).toSeq
    val versioned = names.filter(_.startsWith("_graft_manifest.v"))
    assert(versioned.nonEmpty, s"no versioned manifest in $names")
    assert(versioned.size <= 3, s"manifest versions unpruned: $versioned")
    assert(!names.contains("_graft_manifest.txt"),
      "legacy manifest not superseded")
    assert(!names.contains("_graft_commit.txt"), "marker leaked")
    // five successive saves: history bounded by retention, live = v4
    assert(readout(eng) == (3L, 612L, 12L))
  }

  test("qScc's distributed label fixpoint (forced past the " +
      "local-Tarjan finisher) equals the default hybrid labeling") {
    def run() = graft.ops.Mining.qScc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hybrid = run()
    spark.conf.set("graft.mining.localThreshold", "0")
    val bsp = try run()
      finally spark.conf.unset("graft.mining.localThreshold")
    assert(bsp == hybrid,
      s"bsp-only=${(bsp -- hybrid).take(5)} hybrid-only=${(hybrid -- bsp).take(5)}")
  }

  test("stream_dedup equals the batch distinct census and its " +
      "day-scoped dedup state is watermark-bounded with mid-run " +
      "eviction") {
    val got = graft.streaming.Events.streamDedup(spark, sf).collect()
    val exp = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type")).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq,
      s"stream=${got.mkString(";")} batch=${exp.mkString(";")}")
    val keys = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), to_date(col("ts")))
      .distinct().count()
    val ops = graft.streaming.StreamMeter.stateEvictions
      .get("graft_stream_dedup")
    assert(ops != null && ops.size == 1, "one dedup state operator")
    val (_, fin, removed) = ops.head
    // every first-seen (user, type, day) key entered state exactly once
    // and left it at most once: resident + evicted partitions the keys
    assert(fin + removed == keys,
      s"state rows $fin + removed $removed != keys $keys")
    assert(removed > 0, "dedup evicted no state mid-run")
    assert(fin < keys, "dedup held every key — unbounded shape")
  }

  // ---- r15 finance/series pack: naive in-JVM replays ----------------

  private def rnd(x: Double, dp: Int): Double = {
    val s = math.pow(10, dp); math.floor(x * s + 0.5) / s
  }

  private lazy val liRows = graft.sources.Tables.lineitem(spark, sf)
    .select(col("l_shipdate").cast("date").cast("string"),
      round(col("l_extendedprice") * 100).cast("long"),
      round((lit(1) - col("l_discount")) * 100).cast("long"),
      round(col("l_quantity")).cast("long"))
    .collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  private lazy val dailyE4Vol: Seq[(String, Long, Long)] =
    liRows.groupBy(_._1).toSeq.map { case (d, rs) =>
      (d, rs.map(r => r._2 * r._3).sum, rs.map(_._4).sum)
    }.sortBy(_._1)

  test("q_vwap matches a naive per-day replay") {
    val got = graft.ops.Series.qVwap(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val exp = liRows.groupBy(_._1).toSeq.map { case (d, rs) =>
      val cents = rs.map(_._2).sum; val qty = rs.map(_._4).sum
      (d, rs.size.toLong, qty, cents,
        rnd(cents.toDouble / qty / 100, 4))
    }.sortBy(_._1)
    assert(got.toSeq == exp)
  }

  test("q_amihud_illiq and q_sharpe_sortino match naive replays on " +
      "the shared daily frame") {
    val e4s = dailyE4Vol
    val terms = e4s.sliding(2).collect { case Seq((_, p, _), (_, c, v)) =>
      (BigInt(c - p).abs * BigInt("1000000000000") /
        (BigInt(p) * v)).toLong
    }.toSeq
    val gotA = graft.ops.Series.qAmihudIlliq(spark, sf).collect()(0)
    assert(gotA.getLong(0) == terms.size)
    assert(gotA.getDouble(1) ==
      rnd(terms.map(BigInt(_)).sum.toDouble / terms.size, 4))
    assert(gotA.getLong(2) == terms.max)

    val rs = e4s.sliding(2).collect { case Seq((_, p, _), (_, c, _)) =>
      (BigInt(c) * 1000000000L / p - 1000000000L).toLong
    }.toSeq
    val n = rs.size.toLong
    val sr = rs.sum
    val srr = rs.map(r => BigInt(r) * r).sum
    val sdn = rs.filter(_ < 0).map(r => BigInt(r) * r).sum
    val mean = sr.toDouble / n
    val sharpe = mean / math.sqrt(
      (BigDecimal(srr) * n - BigDecimal(sr) * sr).toDouble /
        (n.toDouble * (n - 1)))
    val sortino = mean / math.sqrt(sdn.toDouble / n)
    val gotS = graft.ops.Series.qSharpeSortino(spark, sf).collect()(0)
    assert(gotS.getLong(0) == n &&
      gotS.getLong(1) == rs.count(_ < 0).toLong)
    assert(gotS.getDouble(2) == rnd(mean / 1e9, 6))
    assert(gotS.getDouble(3) == rnd(sharpe, 4), s"sharpe $sharpe")
    assert(gotS.getDouble(4) == rnd(sortino, 4))
  }

  test("q_atr and q_stochastic_osc match naive replays of the daily " +
      "OHLC frame") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(to_date(col("ts")).cast("string"),
        round(col("value") * 100).cast("long"),
        unix_micros(col("ts")), col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val daily = ev.groupBy(_._1).toSeq.map { case (d, rs) =>
      val cl = rs.maxBy(r => (r._3, r._4))._2
      (d, rs.map(_._2).max, rs.map(_._2).min, cl)
    }.sortBy(_._1)
    // ATR
    val tr = daily.sliding(2).collect { case Seq((_, _, _, cp), (d, h, l, _)) =>
      (d, Seq(h - l, (h - cp).abs, (l - cp).abs).max)
    }.toSeq
    val expAtr = tr.zipWithIndex.drop(13).map { case ((d, _), i) =>
      val s14 = tr.slice(i - 13, i + 1).map(_._2).sum
      (d, tr(i)._2, rnd(s14.toDouble / 14 / 100, 4))
    }
    val gotAtr = graft.ops.Series.qAtr(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
    assert(gotAtr.toSeq == expAtr)
    // stochastic
    val ks = daily.zipWithIndex.drop(13).map { case ((d, _, _, cl), i) =>
      val win = daily.slice(i - 13, i + 1)
      val l14 = win.map(_._3).min; val h14 = win.map(_._2).max
      (d, if (h14 == l14) None
      else Some((cl - l14) * 100000000L / (h14 - l14)))
    }
    val expSt = ks.zipWithIndex.drop(2).map { case ((d, k), i) =>
      val w3 = ks.slice(i - 2, i + 1).flatMap(_._2)
      (d, rnd(k.get.toDouble / 1e6, 4),
        rnd(w3.sum.toDouble / w3.size / 1e6, 4))
    }
    val gotSt = graft.ops.Series.qStochasticOsc(spark, sf).collect()
      .map(r => (r.getDate(0).toString, r.getDouble(1), r.getDouble(2)))
    assert(gotSt.toSeq == expSt)
  }

  // ---- r15 stats pack: naive in-JVM replays --------------------------

  test("q_cohens_d, q_cochran_armitage and q_kpss match naive replays") {
    // cohens_d over orders dollars
    val ord = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderstatus"), round(col("o_totalprice"))
        .cast("long"), substring(col("o_orderpriority"), 1, 1)
        .cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def mom(g: String) = {
      val xs = ord.filter(_._1 == g).map(_._2)
      (xs.length.toLong, xs.sum, xs.map(x => BigInt(x) * x).sum)
    }
    val (n1, sa, qa) = mom("F"); val (n2, sb, qb) = mom("O")
    val va = (qa * n1 - BigInt(sa) * sa).toDouble / (n1.toDouble * (n1 - 1))
    val vb = (qb * n2 - BigInt(sb) * sb).toDouble / (n2.toDouble * (n2 - 1))
    val sp = math.sqrt(((n1 - 1) * va + (n2 - 1) * vb) / (n1 + n2 - 2))
    val dd = (sa.toDouble / n1 - sb.toDouble / n2) / sp
    val gotD = graft.ops.Stats.qCohensD(spark, sf).collect()(0)
    assert(gotD.getLong(0) == n1 && gotD.getLong(1) == n2)
    assert(gotD.getDouble(4) == rnd(dd, 6))
    assert(gotD.getDouble(5) ==
      rnd(dd * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6))

    // cochran-armitage over the same rows
    val n = ord.length.toLong
    val rr = ord.count(_._1 == "F").toLong
    val swn = ord.map(_._3).sum
    val sw2n = ord.map(t => t._3 * t._3).sum
    val swr = ord.filter(_._1 == "F").map(_._3).sum
    val num = (BigInt(n) * swr - BigInt(rr) * swn).toDouble
    val z2 = num * num * (n - 1) / (rr.toDouble * (n - rr)) /
      (BigInt(n) * sw2n - BigInt(swn) * swn).toDouble
    val gotC = graft.ops.Stats.qCochranArmitage(spark, sf).collect()(0)
    assert(gotC.getLong(0) == n && gotC.getLong(1) == rr)
    assert(gotC.getDouble(2) == rnd(z2, 4), s"z2 $z2")

    // kpss over the daily tens-of-dollars frame
    val xs = dailyE4Vol.map { case (_, e4, _) => e4 / 100000L }
    val nn = xs.length.toLong
    val ss = xs.sum
    val es = xs.map(x => BigInt(nn) * x - ss)
    val sts = es.scanLeft(BigInt(0))(_ + _).tail
    val eta = sts.map(s => s * s).sum.toDouble /
      (es.map(e => e * e).sum.toDouble * nn)
    val gotK = graft.ops.Stats.qKpss(spark, sf).collect()(0)
    assert(gotK.getLong(0) == nn)
    assert(gotK.getDouble(1) == rnd(eta, 6), s"eta $eta")
  }

  test("q_odds_ratio, q_mcnemar and q_mantel_haenszel match naive " +
      "replays (arms read back from the shared hash kernel)") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")), to_date(col("ts")).cast("string"),
        pmod(graft.functions.exprs.md5Lower64(
          col("user_id").cast("string"))
          .bitwiseAND(lit(Long.MaxValue)), lit(2L)),
        round(col("value") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5)))
    // odds ratio: outcome = above-global-mean spender (cross-multiply)
    val gc = ev.map(r => BigInt(r._6)).sum
    val gn = ev.length
    val perUser = ev.groupBy(_._1).toSeq.map { case (_, rs) =>
      val sc = rs.map(r => BigInt(r._6)).sum
      (rs.head._5, if (sc * gn > gc * rs.length) 1 else 0)
    }
    val a = perUser.count(t => t._1 == 0 && t._2 == 1).toLong
    val b = perUser.count(t => t._1 == 0 && t._2 == 0).toLong
    val c = perUser.count(t => t._1 == 1 && t._2 == 1).toLong
    val dd = perUser.count(t => t._1 == 1 && t._2 == 0).toLong
    val gotO = graft.ops.Stats.qOddsRatio(spark, sf).collect()(0)
    assert((gotO.getLong(0), gotO.getLong(1), gotO.getLong(2),
      gotO.getLong(3)) == ((a, b, c, dd)))
    assert(gotO.getDouble(4) ==
      rnd(a.toDouble * dd / (b.toDouble * c), 6))
    // mcnemar
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2
    val pairs = ev.groupBy(_._1).values.map { rs =>
      (rs.count(r => r._2 == "click" && r._3 < mid),
        rs.count(r => r._2 == "click" && r._3 >= mid))
    }.toSeq
    val mb = pairs.count(p => p._1 > p._2).toLong
    val mc = pairs.count(p => p._2 > p._1).toLong
    val gotM = graft.ops.Stats.qMcnemar(spark, sf).collect()(0)
    assert((gotM.getLong(1), gotM.getLong(2)) == ((mb, mc)))
    val chi = ((mb - mc).abs - 1).toDouble * ((mb - mc).abs - 1) /
      (mb + mc)
    assert(gotM.getDouble(3) == rnd(chi, 4))
    // mantel-haenszel
    val strata = ev.groupBy(_._4).values.map { rs =>
      val sa = rs.count(r => r._5 == 0 && r._2 == "purchase").toLong
      val sb = rs.count(r => r._5 == 0 && r._2 != "purchase").toLong
      val sc = rs.count(r => r._5 == 1 && r._2 == "purchase").toLong
      val sd = rs.count(r => r._5 == 1 && r._2 != "purchase").toLong
      (sa, sb, sc, sd)
    }.toSeq
    val ad = strata.map { case (sa, sb, sc, sd) =>
      sa * sd * 1000000L / (sa + sb + sc + sd) }.sum
    val bc = strata.map { case (sa, sb, sc, sd) =>
      sb * sc * 1000000L / (sa + sb + sc + sd) }.sum
    val gotH = graft.ops.Stats.qMantelHaenszel(spark, sf).collect()(0)
    assert(gotH.getLong(0) == strata.size.toLong)
    assert(gotH.getDouble(1) == rnd(ad.toDouble / bc, 6))
  }

  test("PNM codec: byte-exact roundtrip vs the generator, and the " +
      "parser tolerates NetPBM comment/whitespace headers") {
    for (id <- Seq(0L, 1L, 7L, 123L)) {
      val (w, h, sum) = graft.mm.Codecs.decodePnmStats(
        graft.mm.Codecs.encodePnm(id))
      assert(w == graft.mm.Codecs.pnmWidth(id) &&
        h == graft.mm.Codecs.pnmHeight(id))
      val exp = (for (y <- 0 until h; x <- 0 until w)
        yield graft.mm.Codecs.grayAt(x, y, id).toLong).sum
      assert(sum == exp, s"doc $id: $sum != $exp")
    }
    // hand-built header: extra whitespace + multiple comments
    val raster = Array[Byte](10, 10, 10, 20, 20, 20)
    val hdr = "P6 # c1\n# another comment\n  2\n1 # trailing\n 255\n"
      .getBytes("US-ASCII")
    val (w2, h2, s2) = graft.mm.Codecs.decodePnmStats(hdr ++ raster)
    assert((w2, h2, s2) == ((2, 1, 30L)))
  }

  test("q_adamic_adar matches a naive replay on the succession graph") {
    val got = graft.ops.Mining.qAdamicAdar(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // naive: rebuild undirected succession graph (the Round14Spec
    // Tarjan fixture logic)
    val sp = graft.sources.Tables.part(spark, sf)
      .filter(col("p_size") === 1).select(col("p_partkey").cast("long"))
      .collect().map(_.getLong(0)).toSet
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
      .filter(t => sp.contains(t._3)).distinct
    val dirEdges = li.groupBy(_._1).values.flatMap { lines =>
      val seq = lines.sortBy(t => (t._2, t._3)).map(_._3)
      seq.zip(seq.tail).filter(p => p._1 != p._2)
    }.toSet
    val und = dirEdges.flatMap(p => Seq(p, p.swap))
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cand = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    for ((v, ns) <- adj; u <- ns; w <- ns if u < w
        if !und.contains((u, w))) {
      val wm = math.floor(1e6 / math.log(adj(v).size.toDouble) + 0.5)
        .toLong
      val (c0, s0) = cand.getOrElse((u, w), (0L, 0L))
      cand((u, w)) = (c0 + 1, s0 + wm)
    }
    val exp = cand.toSeq
      .map { case ((u, w), (c, aa)) => (u, w, c, aa) }
      .sortBy(t => (-t._4, t._1, t._2)).take(20).zipWithIndex
      .map { case ((u, w, c, aa), i) => (i + 1, u, w, c, aa) }
    assert(got.toSeq == exp)
  }

  test("text_simpson_diversity matches a naive replay") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySrc = docs.groupBy(_._2).toSeq.sortBy(_._1)
    val exp = bySrc.map { case (src, ds) =>
      val dms = ds.map { case (_, _, t) =>
        val toks = t.trim.split("\\s+").filter(_.nonEmpty)
        val cs = toks.groupBy(identity).values.map(_.length.toLong)
        val n = cs.sum
        cs.map(c => c * (c - 1)).sum * 1000000L / (n * (n - 1))
      }
      val pooledCs = ds.flatMap(d =>
        d._3.trim.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).values.map(_.length.toLong)
      val pn = pooledCs.sum
      val pm = (pooledCs.map(c => BigInt(c) * (c - 1)).sum * 1000000 /
        (BigInt(pn) * (pn - 1))).toLong
      (src, ds.length.toLong,
        rnd(dms.sum.toDouble / ds.length / 1e6, 6),
        rnd(pm.toDouble / 1e6, 6))
    }
    val got = graft.ops.PipelineQueries
      .textSimpsonDiversity(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == exp)
  }

  test("stream_vwap equals the batch qVwap census") {
    val got = graft.streaming.Events.streamVwap(spark, sf).collect()
    val exp = graft.ops.Series.qVwap(spark, sf).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
  }

  test("q_atkinson_index, q_palma_ratio and q_page_hinkley match " +
      "naive replays") {
    val cents = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // atkinson
    val pos = cents.map(_._2).filter(_ > 0)
    val n = pos.length.toLong
    val sc = pos.sum
    val sl = pos.map(c =>
      math.floor(math.log(c.toDouble) * 1e9 + 0.5).toLong).sum
    val si = pos.map(1000000000000L / _).sum
    val a1 = 1.0 - math.exp(sl.toDouble / n / 1e9) / (sc.toDouble / n)
    val a2 = 1.0 - n.toDouble / (si.toDouble / 1e12) / (sc.toDouble / n)
    val gotA = graft.ops.Mining.qAtkinsonIndex(spark, sf).collect()(0)
    assert(gotA.getLong(0) == n)
    assert(gotA.getDouble(2) == rnd(a1, 6) &&
      gotA.getDouble(3) == rnd(a2, 6), s"a1 $a1 a2 $a2")
    // palma
    val ranked = cents.sortBy(t => (t._2, t._1))
    val tot = ranked.length
    val top = ranked.drop(tot - tot / 10).map(_._2).sum
    val bot = ranked.take(4 * tot / 10).map(_._2).sum
    val gotP = graft.ops.Mining.qPalmaRatio(spark, sf).collect()(0)
    assert(gotP.getLong(0) == tot.toLong)
    assert(gotP.getDouble(3) == rnd(top.toDouble / bot, 4))
    // page-hinkley over the daily e4 frame
    val xs = dailyE4Vol.map(_._2)
    val nn = xs.length.toLong
    val ss = xs.sum
    val us = xs.map(x => BigInt(nn) * x - ss)
      .scanLeft(BigInt(0))(_ + _).tail
    var runmin = us.head; var best = BigInt(-1); var bestIdx = -1
    for ((u, i) <- us.zipWithIndex) {
      runmin = runmin.min(u)
      val gap = u - runmin
      if (gap > best) { best = gap; bestIdx = i }
    }
    val gotH = graft.ops.Series.qPageHinkley(spark, sf).collect()(0)
    assert(gotH.getLong(0) == nn)
    assert(gotH.getDate(1).toString == dailyE4Vol(bestIdx)._1)
    assert(gotH.getDouble(2) ==
      rnd(best.toDouble / nn / 10000, 2), s"ph $best")
  }

  test("stream_new_vs_returning equals the batch census with mid-run " +
      "state eviction") {
    val got = graft.streaming.Events
      .streamNewVsReturning(spark, sf).collect()
    val exp = graft.ops.Behavior.qNewVsReturning(spark, sf).collect()
    assert(got.map(_.toString).toSeq == exp.map(_.toString).toSeq)
    val keys = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts"))).distinct().count()
    val ops = graft.streaming.StreamMeter.stateEvictions
      .get("graft_stream_nvr")
    assert(ops != null && ops.size == 1)
    val (_, fin, removed) = ops.head
    assert(fin + removed == keys && removed > 0 && fin < keys,
      s"rows $fin removed $removed keys $keys")
  }

  test("embed_isotropy matches a naive replay and approximates the " +
      "true mean pairwise cosine") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val q = vecs.map { v =>
      val x6 = v.map(x => math.floor(x * 1e6 + 0.5).toLong)
      val n2 = x6.map(x => BigInt(x) * x).sum
      x6.map(x =>
        math.floor(x / math.sqrt(n2.toDouble) * 1e6 + 0.5).toLong)
    }
    val dim = q.head.length
    val sd = (0 until dim).map(j => q.map(_(j)).sum)
    val ss2 = sd.map(s => BigInt(s) * s).sum
    val snorm = q.flatten.map(c => BigInt(c) * c).sum
    val n = q.length
    val meanCos = (ss2 - snorm).toDouble /
      (n.toDouble * (n - 1)) / 1e12
    val got = graft.ops.PipelineQueries.embedIsotropy(spark, sf)
      .collect()(0)
    assert(got.getLong(0) == n.toLong && got.getLong(1) == dim.toLong)
    assert(got.getDouble(2) == rnd(meanCos, 6))
    // the quantized-dot statistic must track the true float cosine
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(t => t._1 * t._2).sum
      d / math.sqrt(a.map(x => x * x).sum) /
        math.sqrt(b.map(x => x * x).sum)
    }
    val pairs = for (i <- vecs.indices; j <- vecs.indices if i != j)
      yield cos(vecs(i), vecs(j))
    val trueMean = pairs.sum / pairs.size
    assert(math.abs(meanCos - trueMean) < 1e-3,
      s"quantized $meanCos vs true $trueMean")
  }

  test("embed_quantile_clip matches a naive per-dim replay") {
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = vecs.head.length
    def pct(xs: Array[Long], p: Double): Double = {
      val s = xs.sorted
      val idx = p * (s.length - 1)
      val lo = idx.toInt
      if (lo + 1 < s.length)
        s(lo) + (idx - lo) * (s(lo + 1) - s(lo)) else s(lo).toDouble
    }
    val exp = (0 until dim).map { j =>
      val xs = vecs.map(v => math.floor(v(j) * 1e6 + 0.5).toLong)
      val p01 = pct(xs, 0.01); val p99 = pct(xs, 0.99)
      (j.toLong, xs.length.toLong, rnd(p01 / 1e6, 6), rnd(p99 / 1e6, 6),
        xs.count(_ < p01).toLong, xs.count(_ > p99).toLong)
    }
    val got = graft.ops.PipelineQueries.embedQuantileClip(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == exp)
  }

  test("q_kendall_w matches a naive replay and q_benjamini_yekutieli " +
      "is the BH step-up under deflated criticals") {
    // naive W over the monthly per-flag revenue ranks
    val byFlagMon = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        round((lit(1) - col("l_discount")) * 100).cast("long")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val common = byFlagMon.groupBy(_._2).filter(_._2.length == 3).keySet
    val ranks = byFlagMon.filter(t => common.contains(t._2))
      .groupBy(_._1).values.flatMap { rs =>
        rs.sortBy(t => (t._3, t._2)).zipWithIndex
          .map { case (t, i) => (t._2, i + 1L) }
      }
    val n = common.size.toLong
    val s4 = ranks.groupBy(_._1).values
      .map(rs => { val t = 2 * rs.map(_._2).sum - 3 * (n + 1)
        BigInt(t) * t }).sum
    val w = s4.toDouble / (3.0 * (n.toDouble * n * n - n))
    val gotW = graft.ops.Mining.qKendallW(spark, sf).collect()(0)
    assert(gotW.getLong(0) == n)
    assert(gotW.getDouble(1) == rnd(w, 6), s"w $w")

    // BY = BH's census under deflated criticals: z and rank columns
    // identical, BY's criticals strictly larger, BY's rejections a
    // subset of BH's
    val bh = graft.ops.Mining.qBhFdr(spark, sf).collect()
      .map(r => (r.getLong(3), r.getLong(0), r.getDouble(2),
        r.getDouble(4), r.getBoolean(5)))
    val by = graft.ops.Mining.qByFdr(spark, sf).collect()
      .map(r => (r.getLong(3), r.getLong(0), r.getDouble(2),
        r.getDouble(4), r.getBoolean(5)))
    assert(bh.map(t => (t._1, t._2, t._3)).toSeq ==
      by.map(t => (t._1, t._2, t._3)).toSeq)
    assert(by.zip(bh).forall { case (b, h) => b._4 > h._4 },
      "BY criticals must exceed BH's")
    assert(by.filter(_._5).map(_._1).toSet
      .subsetOf(bh.filter(_._5).map(_._1).toSet))
  }

  test("renameTable: a crash between the marker and the dir move " +
      "leaves the NEW name readable; recovery completes the move; " +
      "related tables rename via FK indirection (r16)") {
    val wh = graft.util.Scratch.dir("graft_r15_ren").toString
    val eng = new Engine(spark, wh)
    val reader = new Engine(spark, wh)
    eng.save(Seq((1L, 10L), (2L, 20L)).toDF("rowNum", "v"), "t1")
    def sumV(): Long = reader.sql("SELECT sum(v) AS s FROM t2")
      .collect()(0).getLong(0)
    // crash at the committed instant (marker live, dir not moved)
    eng.afterPublish = _ => throw new RuntimeException("crash post-mark")
    intercept[RuntimeException] { eng.renameTable("t1", "t2") }
    eng.afterPublish = _ => ()
    assert(sumV() == 30L, "new name must read the old dir mid-commit")
    // recovery (any next mutator) completes the move
    val eng2 = new Engine(spark, wh)
    eng2.save(Seq((9L, 9L)).toDF("rowNum", "x"), "aux")
    assert(sumV() == 30L)
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$wh/t2")) &&
      !f.exists(new org.apache.hadoop.fs.Path(s"$wh/t1")))
    // r15 refused relation-woven renames; r16 closed the gap with
    // manifest-level FK indirection — the verb now succeeds and the
    // shred-time FK column name keeps resolving (Round16Spec carries
    // the full woven-rename coverage)
    eng2.save(docs(0), "t")
    eng2.renameTable("kids", "kids2")
    assert(reader.sql(
      """SELECT sum(k.v) FROM kids2 k JOIN t ON k.t = t.rowNum""")
      .collect()(0).getLong(0) == 600L)
  }

  test("q_youden_j matches a naive replay and its J is consistent " +
      "with the ROC frame") {
    val rows = graft.sources.Tables.lineitem(spark, sf)
      .select((round(col("l_quantity")).cast("long") * 101 +
          round(col("l_discount") * 100).cast("long")),
        when(col("l_returnflag") === "R", 1L).otherwise(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val p = rows.count(_._2 == 1).toLong
    val nn = rows.length - p
    val cands = rows.map(_._1).distinct.sorted.map { t =>
      val tp = rows.count(r => r._1 >= t && r._2 == 1).toLong
      val fp = rows.count(r => r._1 >= t && r._2 == 0).toLong
      (t, tp, fp, BigInt(tp) * nn - BigInt(fp) * p)
    }
    val best = cands.minBy(c => (-c._4, c._1))
    val got = graft.ops.MlEval.qYoudenJ(spark, sf).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((best._1, best._2, best._3)))
    assert(got.getDouble(5) ==
      rnd(best._4.toDouble / (p.toDouble * nn), 6))
  }

  test("q_bartlett_test, q_tail_dependence and q_information_ratio " +
      "match naive replays; stream_atkinson equals the batch index") {
    // bartlett over nation dollar groups
    val cust = graft.sources.Tables.customer(spark, sf)
      .select(col("c_nationkey").cast("long"), col("c_custkey"),
        round(col("c_acctbal")).cast("long"),
        round(col("c_acctbal") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val gs = cust.groupBy(_._1).values.map { rs =>
      val n = rs.length.toLong
      val s1 = rs.map(_._3).sum
      val s2 = rs.map(r => BigInt(r._3) * r._3).sum
      val v = (s2 * n - BigInt(s1) * s1).toDouble / (n.toDouble * n * (n - 1))
      (n, math.floor(math.log(v) * 1e9 + 0.5).toLong,
        1000000000000L / (n - 1), ((s2 * n - BigInt(s1) * s1) / n).toLong)
    }.toSeq
    val k = gs.length.toLong
    val nn = gs.map(_._1).sum
    val swl = gs.map(g => (g._1 - 1) * g._2).sum
    val sinv = gs.map(_._3).sum
    val sv = gs.map(_._4).sum
    val sp2 = sv.toDouble / (nn - k)
    val chi = ((nn - k) * math.log(sp2) - swl.toDouble / 1e9) /
      (1.0 + (sinv.toDouble / 1e12 - 1.0 / (nn - k)) / (3.0 * (k - 1)))
    val gotB = graft.ops.Stats.qBartlettTest(spark, sf).collect()(0)
    assert(gotB.getLong(0) == k && gotB.getLong(1) == nn)
    assert(gotB.getDouble(3) == rnd(chi, 4), s"chi $chi")

    // tail dependence over (bal, spend) ranks
    val spend = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val per = cust.filter(c => spend.contains(c._2))
      .map(c => (c._2, c._4, spend(c._2)))
    val n = per.length
    val rxm = per.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val rym = per.sortBy(t => (t._3, t._1)).zipWithIndex
      .map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val gotT = graft.ops.Stats.qTailDependence(spark, sf).collect()
    for ((row, q) <- gotT.zip(Seq(0.90, 0.95, 0.99))) {
      val thr = n.toDouble * q
      val nx = per.count(p => rxm(p._1) > thr).toLong
      val nb = per.count(p => rxm(p._1) > thr && rym(p._1) > thr).toLong
      assert((row.getLong(1), row.getLong(2), row.getLong(3)) ==
        ((n.toLong, nx, nb)), s"q=$q")
      assert(row.getDouble(4) == rnd(nb.toDouble / nx, 6))
    }

    // information ratio over the A-vs-market daily returns
    val daily = liRowsWithFlag.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (day, rs) =>
        (day, rs.filter(_._2 == "A").map(r => r._3 * r._4).sum,
          rs.map(r => r._3 * r._4).sum)
      }.filter(_._2 > 0)
    val ds = daily.sliding(2).collect {
      case Seq((_, pa, pm), (_, a, m)) =>
        (BigInt(a) * 1000000000L / pa - BigInt(m) * 1000000000L / pm)
          .toLong
    }.toSeq
    val nd = ds.length.toLong
    val sd = ds.sum
    val sdd = ds.map(x => BigInt(x) * x).sum
    val te = math.sqrt((sdd * nd - BigInt(sd) * sd).toDouble /
      (nd.toDouble * (nd - 1)))
    val gotI = graft.ops.Series.qInformationRatio(spark, sf).collect()(0)
    assert(gotI.getLong(0) == nd)
    assert(gotI.getDouble(2) == rnd(te / 1e9, 6))
    assert(gotI.getDouble(3) == rnd((sd.toDouble / nd) / te, 4))

    // streaming twin
    val gotS = graft.streaming.Events.streamAtkinson(spark, sf)
      .collect()
    val expS = graft.ops.Mining.qAtkinsonIndex(spark, sf).collect()
    assert(gotS.map(_.toString).toSeq == expS.map(_.toString).toSeq)
  }

  private lazy val liRowsWithFlag = graft.sources.Tables
    .lineitem(spark, sf)
    .select(col("l_shipdate").cast("date").cast("string"),
      col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long"),
      round((lit(1) - col("l_discount")) * 100).cast("long"))
    .collect()
    .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))

  test("q_capture_recapture and text_chao1_richness match naive " +
      "replays") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2
    val per = ev.groupBy(_._1).values.map { rs =>
      (rs.exists(_._2 < mid), rs.exists(_._2 >= mid)) }.toSeq
    val n1 = per.count(_._1).toLong
    val n2 = per.count(_._2).toLong
    val m = per.count(p => p._1 && p._2).toLong
    val gotC = graft.ops.Stats.qCaptureRecapture(spark, sf).collect()(0)
    assert((gotC.getLong(1), gotC.getLong(2), gotC.getLong(3)) ==
      ((n1, n2, m)))
    assert(gotC.getDouble(4) ==
      rnd((n1.toDouble + 1) * (n2 + 1) / (m + 1) - 1, 2))

    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exp = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, ds) =>
      val cs = ds.flatMap(_._2.trim.split("\\s+").filter(_.nonEmpty))
        .groupBy(identity).values.map(_.length.toLong).toSeq
      val v = cs.length.toLong
      val f1 = cs.count(_ == 1L).toLong
      val f2 = cs.count(_ == 2L).toLong
      (src, v, f1, f2,
        rnd(v + f1.toDouble * (f1 - 1) / (2.0 * (f2 + 1)), 2))
    }
    val gotR = graft.ops.PipelineQueries.textChao1Richness(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(gotR.toSeq == exp)
  }

  test("a writer whose tag-capture lands inside another writer's swap " +
      "window gets the retryable CME, not a raw FileNotFoundException") {
    val wh = graft.util.Scratch.dir("graft_r15_fnf").toString
    val eng = new Engine(spark, wh)
    val f = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the window: live vanished (renamed aside by the other writer)
    // between the existence checks and the listing
    intercept[java.util.ConcurrentModificationException] {
      eng.readTagOrConflict(f,
        new org.apache.hadoop.fs.Path(s"$wh/ghost"), "upsert", "ghost")
    }
  }
}
