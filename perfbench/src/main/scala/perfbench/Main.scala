package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line settings of one benchmark run. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: String,
    runDir: Path,
    out: Path,
    expectedDir: String,
    cores: Int)

/** One failed or wrong operation, kept with its cause. */
final case class Failure(workload: String, op: String, index: Int,
    cls: String, message: String)

/** Everything a workload reports back to [[Main]]. */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  val details = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[Failure]()
  var attempted = 0L

  def e2e(name: String, value: Double, unit: String): Unit =
    endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    perLayer(name) = (value, unit)
  /** The workload's own figures, printed by name but not compared. */
  def detail(name: String, value: Double, unit: String): Unit =
    details(name) = (value, unit)

  /** Run `body` and keep its wall time in `info` as `phase.<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val s0 = System.nanoTime()
    try body finally info(s"phase.${name}_s") = (System.nanoTime() - s0) / 1e9
  }

  /** Run `body` as operation `index` of `op`; an exception or a wrong
    * result is counted and recorded, never rethrown. */
  def attempt[T](workload: String, op: String, index: Int)(
      body: => Either[String, T]): Option[T] = {
    attempted += 1
    try body match {
      case Right(v) => Some(v)
      case Left(wrong) =>
        failures += Failure(workload, op, index, "WrongResult", wrong)
        None
    } catch {
      case e: Throwable =>
        failures += Failure(workload, op, index, e.getClass.getName,
          String.valueOf(e.getMessage).take(2000))
        None
    }
  }
}

/** Benchmark entry point, launched by `perfbench/run.py`:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *  --run-dir DIR --out FILE --expected DIR`.
  * Spark runs `local[k]` with k = min(4, cores). Writes one JSON result
  * file; `run.py` prints its summary line. */
object Main {
  val workloads: Map[String, Config => Workload] = Map(
    "doc_write" -> (c => new DocWrite(c)),
    "analytic_stream" -> (c => new KeyPass(c, Seq(KeyPass.analytic, KeyPass.stream))))

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(workloads.contains(w), s"unknown workload $w")
    Config(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"), Paths.get(need("--run-dir")),
      Paths.get(need("--out")), need("--expected"),
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  def session(c: Config): SparkSession = {
    val b = GraftSession.builder("perfbench")
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.local.dir", c.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        c.runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        c.runDir.resolve("checkpoints").toString)
    // traced runs route every file: path through the counting FS
    if (c.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Driver heap in use after a full collection, in MB. Spark frees
    * broadcast and cached blocks from its cleaner thread once their
    * handles are collected, so this collects until the figure settles. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var now = used()
    var i = 0
    while (math.abs(now - last) > 0.5 && i < 8) { last = now; now = used(); i += 1 }
    now
  }

  def main(args: Array[String]): Unit = {
    val steal0 = Steal.ticks()
    val c = parse(args)
    Files.createDirectories(c.runDir)
    val t0 = System.nanoTime()
    val spark = session(c)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(c.trace)
    val out = new Outcome
    val w = workloads(c.workload)(c)
    try {
      w.run(spark, tracer, out)
    } catch {
      case e: Throwable =>
        // a broken set-up still reports its cause in the result file
        out.failures += Failure(c.workload, "run", 0, e.getClass.getName,
          String.valueOf(e.getMessage).take(2000))
        out.attempted = math.max(out.attempted, 1L)
        out.info("aborted") = true
    } finally {
      tracer.deactivate()
    }
    val heap = out.phase("heap")(retainedHeapMb())
    out.e2e("retained_heap_mb", heap, "MB")
    out.detail("fail_frac",
      out.failures.size.toDouble / math.max(1L, out.attempted), "ratio")
    out.info("session_start_s") = sessionS
    Steal.shareSince(steal0).foreach(out.info("cpu_steal_share") = _)
    out.info("local_k") = c.cores
    out.info("client_threads") = 1
    out.info("data_dir") = c.dataDir
    if (c.trace) {
      val spansFile = c.out.resolveSibling(
        c.out.getFileName.toString.replace(".json", ".spans.jsonl"))
      tracer.write(spansFile)
      out.info("spans_file") = spansFile.toString
    }
    out.phase("stop")(spark.stop())
    Json.writeResult(c, out)
  }

  /** Recursive delete, used for the per-run scratch warehouse. */
  def deleteRec(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }
}
