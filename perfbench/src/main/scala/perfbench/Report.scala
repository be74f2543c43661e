package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Turns the tracer's samples and listener events into metrics. */
object Report {
  val sparkOps = Seq("getjson", "upsert", "delete", "analytic", "stream")
  val sparkFields = Seq("actions", "plan_ms", "jobs", "tasks", "task_run_ms",
    "input_rows", "shuffle_bytes", "spill_bytes", "gc_ms", "no_job_ms")
  val streamingFields = Seq("batches", "add_batch_ms", "query_planning_ms",
    "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
    "state_commit_ms", "state_update_ms", "state_rows", "outside_query_ms")
  val selfLayers = Seq("bench", "engine", "fs", "spark", "ops", "streaming")

  private def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.contains("bytes")) "bytes"
    else "count"

  /** Every per-layer metric, in a fixed order. A traced run reports all of
    * them; one whose layer the workload does not touch reads 0. */
  val perLayer: Seq[(String, String)] = (Seq(
      "engine.table_ms", "engine.nested_plan_ms", "engine.getjson_driver_ms",
      "engine.upsert_driver_ms", "engine.save_s", "engine.build_index_s",
      "engine.conflicts", "json.shred_plan_ms",
      "fs.getjson.meta_ops", "fs.getjson.bytes_read", "fs.upsert.meta_ops",
      "fs.upsert.renames", "fs.upsert.bytes_written", "fs.delete.bytes_written",
      "fs.warehouse_bytes", "fs.retained_bytes") ++
    sparkOps.flatMap(op => sparkFields.map(f => s"spark.$op.$f")) ++
    Seq("spark.analytic.checkpoint_jobs") ++
    KeyPass.analytic.keys.map(k => s"analytic.${k}_s") ++
    streamingFields.map(f => s"streaming.$f") ++
    Seq("streaming.leftover_sink_tables") ++
    KeyPass.stream.keys.map(k => s"stream.${k}_s") ++
    selfLayers.map(l => s"self.${l}_ms") ++
    Seq("trace.overhead_ms")).map(n => n -> unitOf(n))

  private def within(o: OpSample, tNs: Long) = o.contains(tNs)

  /** Spark figures of one operation, from the listener events inside it. */
  private def sparkOf(t: Tracer, o: OpSample): Map[String, Double] = t.synchronized {
    val js = t.jobs.values.filter(j => j.endNs >= 0 && within(o, j.startNs)).toSeq
    val ts = t.tasks.filter(x => within(o, x.finishNs))
    val qs = t.qes.filter(x => within(o, x.tNs))
    val dur = o.endNs - o.startNs
    Map(
      "actions" -> qs.size.toDouble,
      "plan_ms" -> qs.map(_.planMs).sum,
      "jobs" -> js.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "input_rows" -> ts.map(_.inRows).sum.toDouble,
      "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "no_job_ms" -> (dur - t.covered(js.map(j => (j.startNs, j.endNs)),
        o.startNs, o.endNs)) / 1e6,
      "checkpoint_jobs" -> js.count(_.callSite.toLowerCase.contains("checkpoint")).toDouble,
      "driver_ms" -> (dur - t.covered(t.sqls.values.filter(_._2 >= 0),
        o.startNs, o.endNs)) / 1e6)
  }

  private def streamingOf(t: Tracer, o: OpSample): Map[String, Double] = t.synchronized {
    val ps = t.progress.filter(p => within(o, p.tNs)).toSeq
    def d(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    Map(
      "batches" -> ps.size.toDouble,
      "add_batch_ms" -> d("addBatch"),
      "query_planning_ms" -> d("queryPlanning"),
      "wal_commit_ms" -> d("walCommit"),
      "commit_offsets_ms" -> d("commitOffsets"),
      "latest_offset_ms" -> d("latestOffset"),
      "state_commit_ms" -> ps.map(_.stateCommitMs).sum.toDouble,
      "state_update_ms" -> ps.map(_.stateUpdateMs).sum.toDouble,
      "state_rows" -> ps.groupBy(_.queryId).values.map(_.maxBy(_.tNs).stateRows).sum.toDouble,
      "outside_query_ms" -> (o.ms - d("triggerExecution")))
  }

  private def timed(t: Tracer) = t.ops.filterNot(_.warm).toSeq

  private def samples(t: Tracer, op: String, traced: Boolean) =
    timed(t).filter(o => o.name == op && o.ok && o.traced == traced)

  /** Medians of the untraced samples of each op, and throughput over the
    * untraced part of the run; `ops.head` is the workload's primary op. */
  private def latencies(t: Tracer, out: Outcome, ops: Seq[String]): Unit = {
    ops.foreach { op =>
      val ms = samples(t, op, traced = false).map(_.ms)
      out.detail(s"${op}_p50_ms", Stats.median(ms), "ms")
      // a p90 is only reported with at least ten samples beyond it
      if (ms.size >= 100) out.detail(s"${op}_p90_ms", Stats.quantile(ms, 0.9), "ms")
      out.info(s"${op}_samples") = ms.size
    }
    out.info("op_ms") = t.ops.toSeq.map(o =>
      Seq(o.name, math.round(o.ms * 1000) / 1000.0, o.warm, o.traced, o.ok))
    val un = timed(t).filter(!_.traced)
    val okOps = un.count(_.ok)
    val window = if (un.isEmpty) 0.0 else (un.map(_.endNs).max - un.map(_.startNs).min) / 1e9
    val primary = samples(t, ops.head, traced = false).map(_.ms)
    out.e2e("op_p50_ms", Stats.median(primary), "ms")
    out.e2e("ops_per_s", if (window > 0) okOps / window else 0.0, "1/s")
    if (t.enabled) {
      val traced = samples(t, ops.head, traced = true).map(_.ms)
      out.layer("trace.overhead_ms", Stats.median(traced) - Stats.median(primary), "ms")
      out.info("traced_samples") = traced.size
    }
  }

  private def layerFromEvents(t: Tracer, out: Outcome, ops: Seq[String]): Unit = {
    ops.foreach { op =>
      val ss = samples(t, op, traced = true)
      if (ss.nonEmpty) {
        val sp = ss.map(sparkOf(t, _))
        def med(f: String) = Stats.median(sp.map(_(f)))
        sparkFields.foreach(f => out.layer(s"spark.$op.$f", med(f), unitOf(f)))
        if (op == "analytic") out.layer("spark.analytic.checkpoint_jobs", med("checkpoint_jobs"), "count")
        if (op == "getjson" || op == "upsert")
          out.layer(s"engine.${op}_driver_ms", med("driver_ms"), "ms")
        if (op == "stream") {
          val st = ss.map(streamingOf(t, _))
          streamingFields.foreach(f =>
            out.layer(s"streaming.$f", Stats.median(st.map(_(f))), unitOf(f)))
        }
        def fs(k: String) = Stats.median(ss.map(_.fs.getOrElse(k, 0L).toDouble))
        def meta = Stats.median(ss.map(_.fs.values.sum.toDouble))
        op match {
          case "getjson" =>
            out.layer("fs.getjson.meta_ops", meta, "count")
            out.layer("fs.getjson.bytes_read", Stats.median(ss.map(_.bytesRead.toDouble)), "bytes")
          case "upsert" =>
            out.layer("fs.upsert.meta_ops", meta, "count")
            out.layer("fs.upsert.renames", fs("rename"), "count")
            out.layer("fs.upsert.bytes_written", Stats.median(ss.map(_.bytesWritten.toDouble)), "bytes")
          case "delete" =>
            out.layer("fs.delete.bytes_written", Stats.median(ss.map(_.bytesWritten.toDouble)), "bytes")
          case _ =>
        }
      }
    }
    val nTraced = math.max(1, timed(t).count(_.traced))
    val self = t.selfTimeMs().toMap
    selfLayers.foreach(l => out.layer(s"self.${l}_ms", self.getOrElse(l, 0.0) / nTraced, "ms"))
  }

  /** Document-serving metrics; `ops.head` is the workload's primary op. */
  def serving(t: Tracer, out: Outcome, ops: Seq[String]): Unit = {
    latencies(t, out, ops)
    out.layer("engine.conflicts", out.failures.count(_.cls.endsWith("ConcurrentModificationException")).toDouble, "count")
    if (t.enabled) layerFromEvents(t, out, ops)
  }

  def engineProbes(out: Outcome, tableMs: Seq[Double], planMs: Seq[Double]): Unit = {
    out.layer("engine.table_ms", Stats.median(tableMs), "ms")
    out.layer("engine.nested_plan_ms", Stats.median(planMs), "ms")
  }

  /** Key-pass metrics: a pass is the timed `analytic` and `stream`
    * operations together. */
  def keyPass(specs: Seq[KeySpec], t: Tracer, out: Outcome,
      passes: Seq[Pass], keyMs: Map[String, Seq[Double]],
      leftovers: Seq[(String, Leftovers)]): Unit = {
    val untraced = passes.filterNot(_.traced).map(_.ms)
    val nKeys = specs.map(_.keys.size).sum
    out.e2e("op_p50_ms", Stats.median(untraced), "ms")
    out.e2e("ops_per_s", nKeys * untraced.size / math.max(1e-9, untraced.sum / 1000), "1/s")
    out.info("pass_samples") = untraced.size
    specs.foreach { spec =>
      out.detail(s"${spec.op}_s",
        Stats.median(samples(t, spec.op, traced = false).map(_.ms)) / 1000, "s")
      spec.keys.foreach { k =>
        out.layer(s"${spec.op}.${k}_s", Stats.median(keyMs.getOrElse(k, Nil)) / 1000, "s")
      }
    }
    out.info("key_ms") = keyMs
    out.layer("streaming.leftover_sink_tables",
      Stats.median(leftovers.filter(_._1 == "stream").map(_._2.tempViews.toDouble)), "count")
    out.info("leftovers") = leftovers.map { case (op, l) =>
      Map("op" -> op, "temp_views" -> l.tempViews, "cached_rdds" -> l.cachedRdds,
        "running_queries" -> l.runningQueries) }
    if (t.enabled) {
      val traced = passes.filter(_.traced).map(_.ms)
      out.layer("trace.overhead_ms", Stats.median(traced) - Stats.median(untraced), "ms")
      out.info("traced_samples") = traced.size
      layerFromEvents(t, out, specs.map(_.op))
    }
  }
}

/** JSON writing for the result and span files, through Jackson. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Bytes of one row as a JSON object, the unit of write amplification. */
  def rowBytes(schema: StructType, r: Row): Long =
    mapper.writeValueAsBytes(schema.fieldNames.zip(r.toSeq).toMap).length.toLong

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }

  def writeResult(c: Config, out: Outcome): Unit = {
    val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
    if (c.trace) Report.perLayer.foreach { case (n, u) =>
      perLayer(n) = out.perLayer.getOrElse(n, (0.0, u)) }
    val failed = out.failures.size
    val doc = ListMap(
      "workload" -> c.workload, "seed" -> c.seed, "seconds" -> c.seconds,
      "trace" -> c.trace, "correct" -> (failed == 0),
      "attempted" -> math.max(1L, out.attempted), "failed" -> failed,
      "end_to_end" -> metrics(out.endToEnd),
      "per_layer" -> metrics(perLayer),
      "detail" -> metrics(out.details),
      "failures" -> out.failures.map(f => ListMap(
        "workload" -> f.workload, "op" -> f.op, "index" -> f.index,
        "class" -> f.cls, "message" -> f.message)).toSeq,
      "info" -> out.info)
    Files.write(c.out, (mapper.writeValueAsString(doc) + "\n")
      .getBytes(StandardCharsets.UTF_8))
  }
}
