package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Engine
import graft.json.Shred

/** A measured workload. `run` does set-up, the timed closed loop and the
  * output checks, and fills `out`. */
trait Workload {
  def run(spark: SparkSession, t: Tracer, out: Outcome): Unit
}

/** What a saved order document must read back as. */
final case class Doc(status: String, price: Double, items: Int)

/** Read-write document serving. Set-up saves the sf orders as nested
  * documents (root row, flattened `customer$…` object, `items` child
  * array) through `Engine.save` and builds a status index. Each round of
  * the loop upserts 8 updates and 2 inserts and reads one changed key
  * back; every 5th round also deletes 2 keys and checks that they are
  * gone. */
final class DocWrite(c: Config) extends Workload {
  val table = "orders"
  val warmRounds = 6
  val rng = new Random(c.seed)

  /** Each order as one nested document, keyed by `rowNum`. */
  def docs(spark: SparkSession): DataFrame = {
    val ord = spark.read.parquet(s"${c.dataDir}/orders.parquet")
    val cust = spark.read.parquet(s"${c.dataDir}/customer.parquet")
      .select("c_custkey", "c_name", "c_mktsegment")
    val items = spark.read.parquet(s"${c.dataDir}/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rowNum"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))))
        .as("items"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(items, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey").as("rowNum"), col("o_orderstatus"),
        col("o_totalprice"),
        struct(col("c_name"), col("c_mktsegment")).as("customer"),
        coalesce(col("items"), array()).as("items"))
  }

  /** Expected documents, computed from the source tables: status and
    * price of each order and the number of its line items. */
  def expected(spark: SparkSession): mutable.LongMap[Doc] = {
    val items = spark.read.parquet(s"${c.dataDir}/lineitem.parquet")
      .groupBy(col("l_orderkey")).count()
    val m = mutable.LongMap[Doc]()
    spark.read.parquet(s"${c.dataDir}/orders.parquet")
      .join(items, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        coalesce(col("count"), lit(0L)))
      .collect()
      .foreach(r => m(r.getLong(0)) = Doc(r.getString(1), r.getDouble(2), r.getLong(3).toInt))
    m
  }

  /** Save the documents into a fresh warehouse and build the status
    * index; this is the workload's set-up. Returns the engine and the
    * warehouse directory. */
  def setup(spark: SparkSession, out: Outcome): (Engine, String) = {
    val dir = c.runDir.resolve("warehouse")
    CountingFs.root = dir.toString
    val eng = new Engine(spark, dir.toUri.toString)
    val s0 = System.nanoTime()
    eng.save(docs(spark), table)
    val s1 = System.nanoTime()
    eng.buildIndex(table, "o_orderstatus")
    val s2 = System.nanoTime()
    Shred.normalizeWithRelations(docs(spark), table, "rowNum")
    val s3 = System.nanoTime()
    out.layer("engine.save_s", (s1 - s0) / 1e9, "s")
    out.layer("engine.build_index_s", (s2 - s1) / 1e9, "s")
    out.layer("json.shred_plan_ms", (s3 - s2) / 1e6, "ms")
    out.e2e("setup_s", (s2 - s0) / 1e9, "s")
    (eng, dir.toString)
  }

  /** getJson, checked against the expected document (None = absent). */
  def checkedGet(eng: Engine, t: Tracer, key: Long, want: Option[Doc],
      op: String = "getjson"): Either[String, Unit] = {
    val got = t.op(op)(t.span("Engine.getJson", "engine")(
      eng.getJson(table, key)))
    (got, want) match {
      case (None, None) => Right(())
      case (Some(j), Some(d)) =>
        val n = Json.mapper.readTree(j)
        val items = Option(n.get("items")).map(_.size).getOrElse(0)
        val ok = n.get("rowNum").asLong == key &&
          n.get("o_orderstatus").asText == d.status &&
          n.get("o_totalprice").asDouble == d.price && items == d.items
        if (ok) Right(()) else Left(s"key $key: got $j, want $d")
      case (g, w) => Left(s"key $key: got $g, want $w")
    }
  }

  /** Engine calls timed on their own between operations: table resolve
    * and the nested plan (no action). Traced runs only. */
  def engineProbe(eng: Engine, t: Tracer, tableMs: mutable.Buffer[Double],
      planMs: mutable.Buffer[Double]): Unit = if (t.isActive) {
    val s0 = System.nanoTime()
    t.span("Engine.table", "engine")(eng.table(table))
    val s1 = System.nanoTime()
    t.span("Engine.nested", "engine")(eng.nested(table))
    val s2 = System.nanoTime()
    tableMs += (s1 - s0) / 1e6
    planMs += (s2 - s1) / 1e6
  }

  /** Bytes under `dir`, recursively. */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val all = Files.walk(dir)
      try all.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally all.close()
    }

  /** Final sizes: the whole warehouse, its live tables (root and items)
    * and the retained snapshots, staged and set-aside dirs. */
  def sizes(wh: String, out: Outcome): (Long, Long) = {
    val dir = java.nio.file.Paths.get(wh)
    val total = bytesUnder(dir)
    val live = Seq(table, "items").map(n => bytesUnder(dir.resolve(n))).sum
    val entries = Files.list(dir)
    val retained = try entries.iterator.asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        n.contains("@v") || n.contains("__staged") || n.endsWith("__old")
      }.map(bytesUnder).sum
    finally entries.close()
    out.layer("fs.warehouse_bytes", total.toDouble, "bytes")
    out.layer("fs.retained_bytes", retained.toDouble, "bytes")
    (total, live)
  }

  def deadlineAfter(seconds: Double): Long =
    System.nanoTime() + (seconds * 1e9).toLong

  /** Run `warmRounds` rounds of the loop body untimed (the first calls of
    * each op run slower while the JIT and codegen settle, over about six
    * rounds), then rounds until the run's time is up. A traced run spends
    * the first half of its timed loop untraced and the second half traced,
    * so the per-op tracing overhead is measured inside the run. */
  def loop(spark: SparkSession, t: Tracer)(body: Int => Unit): Unit = {
    var i = 0
    t.warming = true
    while (i < warmRounds) {
      body(i)
      i += 1
    }
    t.warming = false
    val end = deadlineAfter(c.seconds)
    val half = deadlineAfter(c.seconds / 2.0)
    while (System.nanoTime() < end) {
      if (t.enabled && !t.isActive && System.nanoTime() >= half) t.activate(spark)
      body(i)
      i += 1
    }
    t.deactivate()
  }

  def dropWarehouse(wh: String): Unit =
    Main.deleteRec(new java.io.File(wh))

  def run(spark: SparkSession, t: Tracer, out: Outcome): Unit = {
    val (eng, wh) = out.phase("setup")(setup(spark, out))
    val want = out.phase("expected")(expected(spark))
    try {
      val schema = eng.table(table).schema
      val (kI, stI, prI) = (schema.fieldIndex("rowNum"),
        schema.fieldIndex("o_orderstatus"), schema.fieldIndex("o_totalprice"))
      val rows = mutable.LongMap[Row]()
      eng.table(table).collect().foreach(r => rows(r.getLong(kI)) = r)
      val initial = rows.size.toLong
      val live = mutable.ArrayBuffer.from(rows.keys.toSeq.sorted)
      var nextKey = live.max + 1
      var inserts, deletes = 0L
      var mutationBytes = 0L
      val statuses = Array("F", "O", "P")
      val tableMs, planMs = mutable.ArrayBuffer[Double]()
      def pick(): Long = live(rng.nextInt(live.size))
      out.phase("loop")(loop(spark, t) { r =>
        val updKeys = Iterator.continually(pick()).distinct.take(8).toSeq
        val batch = updKeys.map { k =>
          val old = rows(k)
          val st = statuses((statuses.indexOf(old.getString(stI)) + 1) % 3)
          val price = math.round((old.getDouble(prI) + 1.25) * 100) / 100.0
          Row.fromSeq(schema.fieldNames.toSeq.map {
            case "o_orderstatus" => st
            case "o_totalprice" => price
            case f => old.get(schema.fieldIndex(f))
          })
        } ++ (0 until 2).map { j =>
          val k = nextKey + j
          Row.fromSeq(schema.fieldNames.toSeq.map {
            case "rowNum" => k
            case "o_orderstatus" => "P"
            case "o_totalprice" => (r * 2 + j) + 0.5
            case f => s"bench-$f-$k"
          })
        }
        mutationBytes += batch.map(Json.rowBytes(schema, _)).sum
        val df = spark.createDataFrame(batch.asJava, schema)
        val ok = out.attempt(c.workload, "upsert", r) {
          t.op("upsert")(t.span("Engine.upsert", "engine")(eng.upsert(table, df)))
          Right(())
        }
        if (ok.isDefined) {
          batch.foreach { row =>
            val k = row.getLong(kI)
            if (!rows.contains(k)) { live += k; inserts += 1 }
            rows(k) = row
            want(k) = Doc(row.getString(stI), row.getDouble(prI),
              want.get(k).map(_.items).getOrElse(0))
          }
          nextKey += 2
        }
        val back = if (r % 2 == 0) updKeys.head else nextKey - 1
        out.attempt(c.workload, "getjson", r)(checkedGet(eng, t, back, want.get(back)))
        engineProbe(eng, t, tableMs, planMs)
        if (r % 5 == 4) {
          val gone = Iterator.continually(pick()).distinct
            .filterNot(updKeys.contains).take(2).toSeq
          mutationBytes += gone.map(k => s"""{"rowNum":$k}""".length).sum
          val kdf = spark.createDataFrame(gone.map(k => Row(k)).asJava,
            StructType(Seq(schema("rowNum"))))
          val ok = out.attempt(c.workload, "delete", r) {
            t.op("delete")(t.span("Engine.delete", "engine")(eng.delete(table, kdf)))
            Right(())
          }
          if (ok.isDefined) {
            gone.foreach { k => rows.remove(k); want.remove(k); live -= k }
            deletes += 2
          }
          gone.foreach { k =>
            out.attempt(c.workload, "getjson_deleted", r)(
              checkedGet(eng, t, k, None, "getjson_deleted"))
          }
        }
      })
      out.attempt(c.workload, "final_count", 0) {
        val n = eng.table(table).count()
        val w = initial + inserts - deletes
        if (n == w) Right(()) else Left(s"$n rows, want $w")
      }
      Report.serving(t, out, Seq("upsert", "getjson", "delete"))
      Report.engineProbes(out, tableMs.toSeq, planMs.toSeq)
      val (total, liveBytes) = sizes(wh, out)
      val written = t.ops.filter(o => o.name == "upsert" || o.name == "delete")
        .map(_.bytesWritten).sum
      out.detail("write_amp", written.toDouble / math.max(1L, mutationBytes), "ratio")
      out.detail("space_amp", total.toDouble / math.max(1L, liveBytes), "ratio")
      out.info("inserts") = inserts
      out.info("deletes") = deletes
    } finally dropWarehouse(wh)
  }
}
