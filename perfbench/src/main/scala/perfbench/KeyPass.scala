package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry

/** A fixed list of `SparkEntry` keys measured as one pass. */
final case class KeySpec(op: String, layer: String, keys: Seq[String])

/** Row count and order-independent content hash of one key's output. */
final case class Digest(rows: Long, sum: Long, xor: Long)

object KeyPass {
  val analytic = KeySpec("analytic", "ops", Seq(
    "text_bpe_train", "q_seasonal_mann_kendall", "q3_shipping"))

  val stream = KeySpec("stream", "streaming", Seq(
    "stream_window", "stream_sessionize"))

  /** Doubles are rounded to 6 places before hashing so that summation
    * order cannot change the digest. */
  def hashed(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _ => col(f.name)
      }
    }: _*)

  /** `<dir>/<op>.tsv`: key, rows, sum and xor, tab-separated. */
  def readExpected(dir: String, op: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(dir, s"$op.tsv")).asScala
      .filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(k, n, s, x) = l.split("\t")
        k -> Digest(n.toLong, s.toLong, x.toLong)
      }.toMap
}

/** Analytic then streaming keys: one untimed warm-up pass, then timed
  * passes until the run's time is up. Each key's frame is written in
  * full to the `noop` sink; its row count and content hash are observed
  * in the same execution and checked against the committed expectations.
  * Each list is one timed operation (`analytic`, `stream`) and is
  * followed by counting, then dropping, the session's leftovers. */
final class KeyPass(c: Config, specs: Seq[KeySpec]) extends Workload {
  import KeyPass._

  private val rng = new Random(c.seed)
  private val keyMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val warmMs = mutable.LinkedHashMap[String, Double]()

  def runKey(spark: SparkSession, t: Tracer, layer: String, key: String): Digest = {
    val fn = SparkEntry.queries(key)
    t.span(key, layer) {
      val df = fn(spark, c.dataDir)
      val obs = Observation(key)
      val h = hashed(df)
      df.observe(obs, count(lit(1)).as("n"),
          sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x"))
        .write.format("noop").mode("overwrite").save()
      val m = obs.get
      Digest(m("n").asInstanceOf[Long],
        Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
  }

  /** Count, then drop, what a pass left in the session: memory-sink
    * tables and temp views, cached frames, and running queries. */
  def isolate(spark: SparkSession): Leftovers = {
    val views = spark.catalog.listTables().collect().filter(_.isTemporary)
    val cached = spark.sparkContext.getPersistentRDDs.size
    val running = spark.streams.active.length
    spark.streams.active.foreach(_.stop())
    views.foreach(v => spark.catalog.dropTempView(v.name))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    Leftovers(views.length, cached, running)
  }

  def run(spark: SparkSession, t: Tracer, out: Outcome): Unit = {
    val want = specs.flatMap(s => readExpected(c.expectedDir, s.op)).toMap
    val leftovers = mutable.ArrayBuffer[(String, Leftovers)]()
    val passes = mutable.ArrayBuffer[Pass]()
    var pass = 0
    /** Run and check every key once; pass 0 is the untimed warm-up. */
    def onePass(timed: Boolean): Unit = specs.foreach { spec =>
      val order = rng.shuffle(spec.keys)
      def body(): Unit = order.foreach { k =>
        val s0 = System.nanoTime()
        out.attempt(c.workload, k, pass) {
          val d = runKey(spark, t, spec.layer, k)
          val ms = (System.nanoTime() - s0) / 1e6
          if (timed) keyMs.getOrElseUpdate(k, mutable.ArrayBuffer()) += ms
          else warmMs(k) = ms
          want.get(k) match {
            case Some(w) if w == d => Right(())
            case w => Left(s"$k: got $d, want $w")
          }
        }
      }
      if (timed) t.op(spec.op)(body()) else body()
      leftovers += spec.op -> isolate(spark)
    }
    val s0 = System.nanoTime()
    out.phase("warmup")(onePass(timed = false))
    out.e2e("setup_s", (System.nanoTime() - s0) / 1e9, "s")
    out.info("warmup_key_ms") = warmMs
    val end = System.nanoTime() + c.seconds * 1000000000L
    val half = System.nanoTime() + c.seconds * 500000000L
    do {
      if (t.enabled && !t.isActive && System.nanoTime() >= half) t.activate(spark)
      val p0 = System.nanoTime()
      pass += 1
      onePass(timed = true)
      passes += Pass((System.nanoTime() - p0) / 1e6, t.isActive)
    } while (System.nanoTime() < end || (t.enabled && !t.isActive))
    t.deactivate()
    Report.keyPass(specs, t, out, passes.toSeq,
      keyMs.map { case (k, v) => k -> v.toSeq }.toMap, leftovers.toSeq)
  }
}

/** One timed pass and whether it was traced. */
final case class Pass(ms: Double, traced: Boolean)

/** What one pass left behind in the session. */
final case class Leftovers(tempViews: Int, cachedRdds: Int, runningQueries: Int)
