package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.streaming.{Dashboard, Metrics}

/** Benchmark harness: runs one workload in this JVM and writes the raw
  * samples (latencies, lateness, progress events, spans, listener ledger,
  * correctness checks) as one JSON artifact. `perfbench/run.py` turns the
  * artifact into metrics.
  *
  * Arguments: --workload --seed --seconds --trace 0|1 --run-dir --out, and
  * for the catalog workload --data (table directory) --queries (file of
  * query names, one a line, in run order). */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = args("workload")
    val trace = args("trace") == "1"
    val runDir = args("run-dir")
    val nproc = Runtime.getRuntime.availableProcessors
    Trace.on = trace
    Metrics.reset()
    Dashboard.series.clear()

    // the session confs this benchmark sets; the shuffle width is also the
    // number of keyed state stores per streaming query
    val confs = Seq(
      "spark.master" -> s"local[$nproc]",
      "spark.sql.shuffle.partitions" -> nproc.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.numRecentProgressUpdates" -> "10000",
      "spark.local.dir" -> s"$runDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$runDir/warehouse")
    val spark = confs.foldLeft(SparkSession.builder().appName(s"perfbench-$workload")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowUs - Jvm.startUs) / 1e6
    val ledger = new Ledger
    if (trace) spark.sparkContext.addSparkListener(ledger)

    val ctx = Ctx(spark, args("seed").toLong, args("seconds").toDouble, trace, runDir, nproc,
      ledger, args)
    val body = workload match {
      case "media_steady" => MediaSteady.run(ctx)
      case "catalog_sf0.1" => Catalog.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val meta = Json.obj(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "seconds" -> Json.num(ctx.seconds), "trace" -> trace.toString, "nproc" -> nproc.toString,
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "jvm_flags" -> Json.strs(Jvm.flags),
      "confs" -> Json.obj(confs.map { case (k, v) => k -> Json.str(v) } ++
        Seq("spark.sql.streaming.stateStore.providerClass",
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "spark.sql.streaming.stateStore.minDeltasForSnapshot")
          .flatMap(k => spark.conf.getOption(k).map(k -> Json.str(_))): _*),
      "session_s" -> Json.num(sessionS))
    val spans = Trace.json
    val out = Json.obj((Seq("meta" -> meta) ++ body ++ Seq(
      "spans" -> spans, "ledger" -> ledger.json)): _*)
    Files.writeString(Paths.get(args("out")), out)
    spark.stop()
  }
}
