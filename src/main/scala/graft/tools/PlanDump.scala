package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Dumps full `explain("formatted")` output for named driver-contract
  * queries into per-query text files — the before/after plan evidence
  * for optimization rounds (plans/r16/<key>_<tag>.txt).
  *
  * Run: `sbt "runMain graft.tools.PlanDump <tag> <key1,key2,...>"`
  * Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) — plans are
  *       captured at the BENCH scale factor so join-strategy and AQE
  *       thresholds match what the bench measures;
  *       SPARK_GRAFT_PLANDIR (default plans/r16). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <tag> <key1,key2,...>")
    val tag = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANDIR", "plans/r16"))
    Files.createDirectories(outDir)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLANCONF="k=v,k2=v2": session-conf overrides, so the
    // at-scale BSP twins of the driver folds (forced via
    // graft.mining.localThreshold=0, see graft.util.DriverFold) can be
    // plan-dumped beside the default
    sys.env.get("SPARK_GRAFT_PLANCONF").foreach(_.split(",")
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case None => println(s"SKIP unknown key: $k")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val txt = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.writeString(outDir.resolve(s"${k}_$tag.txt"), txt)
          println(s"wrote ${outDir.resolve(s"${k}_$tag.txt")}")
      }
    }
    spark.stop()
  }
}
