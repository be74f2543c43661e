package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{Events, StreamMeter}

/** The bounded-stream runner (`Events.runBounded` / `Events.drain`):
  * every streaming key is metered under its query name, leaves no
  * memory-sink view and no live query behind, on success and on
  * failure, and its returned frame still reads the sink's rows after
  * the view is gone. A source scan keeps the runner the only place a
  * streaming query starts. */
class BoundedStreamSpec extends SparkSuite {

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  private def sameRows(got: DataFrame, exp: DataFrame): Unit = {
    val g = got.collect().map(_.toString).toSeq
    val e = exp.collect().map(_.toString).toSeq
    assert(g == e, s"stream=${g.mkString(";")} batch=${e.mkString(";")}")
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  private def assertClean(before: Set[String]): Unit = {
    assert(tempViews == before, s"leftover views: ${tempViews -- before}")
    assert(spark.streams.active.isEmpty,
      s"live queries: ${spark.streams.active.map(_.name).mkString(",")}")
  }

  test("foreachBatch and file-sink keys are metered under their names") {
    val keys = Seq("graft_stream_dq", "graft_stream_upsert")
    keys.foreach(StreamMeter.stats.remove)
    assert(Events.streamDqQuarantine(spark, sf).count() > 0)
    assert(Events.streamUpsert(spark, sf).count() > 0)
    keys.foreach { k =>
      val st = StreamMeter.stats.get(k)
      assert(st != null, s"no StreamMeter record for $k")
      assert(st._1 > 0 && st._3 >= 1, s"$k recorded $st")
    }
  }

  test("memory-sink keys leave no view or query and their frames " +
      "still equal the batch oracle") {
    val before = tempViews
    // complete mode
    val windowed = Events.streamWindow(spark, sf)
    assertClean(before)
    sameRows(windowed, graft.sources.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("win_start_s"), col("event_type")))
    // append mode
    val srm = Events.streamSrm(spark, sf)
    assertClean(before)
    sameRows(srm, graft.ops.Mining.qAbSrm(spark, sf))
    // localCheckpoints its sink readout
    val dauMau = Events.streamDauMau(spark, sf)
    assertClean(before)
    sameRows(dauMau, graft.ops.Behavior.qDauMau(spark, sf))
    // collecting the frames started no query and registered no view
    assertClean(before)
  }

  test("a failing query propagates its cause and leaves no view or " +
      "query") {
    val before = tempViews
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    def events = spark.readStream.schema(schema).parquet(s"$sf/events.*")

    val viaBatch = intercept[Exception] {
      Events.runBounded(events.writeStream.foreachBatch(
        (_: DataFrame, _: Long) => throw new IllegalStateException("boom")),
        "graft_test_fail")(_ => ())
    }
    assert(causes(viaBatch).exists(c =>
      c.isInstanceOf[IllegalStateException] && c.getMessage == "boom"),
      s"cause lost: ${causes(viaBatch).mkString(" <- ")}")
    assertClean(before)

    val failing = udf((v: Double) =>
      if (v >= 0) throw new IllegalStateException("sink boom") else v)
    val viaSink = intercept[Exception] {
      Events.drain(events.select(failing(col("value")).as("v")),
        "append", "graft_test_fail_sink")
    }
    assert(causes(viaSink).exists(c =>
      Option(c.getMessage).exists(_.contains("sink boom"))),
      s"cause lost: ${causes(viaSink).mkString(" <- ")}")
    assertClean(before)
  }

  test("streaming queries start only inside Events.runBounded") {
    val starter = """\.start\(\)|awaitTermination""".r
    val hits = SourceScan.codeLines.filter(h =>
      starter.findFirstIn(h._3).isDefined)

    val events = new java.io.File(SourceScan.root,
      "graft/streaming/Events.scala")
    val lines = SourceScan.read(events)
    val from = lines.indexWhere(_.contains("def runBounded"))
    val to = lines.indexWhere(_.trim.startsWith("/**"), from)
    assert(from >= 0 && to > from, "runBounded not found")
    val outside = hits.filterNot { case (f, i, _) =>
      f.getCanonicalPath == events.getCanonicalPath && i > from && i < to
    }
    assert(outside.isEmpty, "streaming query started outside the runner: " +
      outside.map { case (f, i, c) => s"${f.getPath}:${i + 1}: $c" }
        .mkString("; "))
    assert(hits.count(_._3.contains(".start()")) == 1 &&
      hits.count(_._3.contains("awaitTermination")) == 1,
      s"runner body changed: ${hits.map(_._3).mkString("; ")}")
  }
}
