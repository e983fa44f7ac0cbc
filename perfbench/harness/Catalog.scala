package perfbench

import graft.SparkEntry
import graft.queries.{Analytics, Events, Relational, Reshape, Sketch, Text, Vectors}

/** Catalog queries at a fixed scale: one untimed pass writes every result
  * for the oracle check and a second warms the JVM up, then timed passes repeat
  * until the run's seconds are spent, at least MinPasses of them. Each
  * query is timed in two parts: building the DataFrame (which includes any
  * eager materialization the query does) and forcing full evaluation
  * through the `noop` sink. */
object Catalog {
  val modules: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "Events" -> Events.defs, "Text" -> Text.defs,
    "Vectors" -> Vectors.defs, "Sketch" -> Sketch.defs, "Reshape" -> Reshape.defs,
    "Analytics" -> Analytics.defs).flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  // each query is timed at its median pass; a fixed floor on the pass count
  // keeps that a median of three when the host is slow and a pass takes
  // more than a third of the window
  val MinPasses = 3

  def run(ctx: Ctx): Seq[(String, String)] = {
    val spark = ctx.spark
    val dir = ctx.args("data")
    val names = scala.io.Source.fromFile(ctx.args("queries")).getLines()
      .map(_.trim).filter(_.nonEmpty).toVector
    val fns = SparkEntry.queries
    val checkDir = s"${ctx.runDir}/check"
    val sc = spark.sparkContext

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val warm0 = Clock.nowUs
    names.foreach { n =>
      try fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
      catch { case e: Throwable => errors(n) = String.valueOf(e.getMessage).take(300) }
    }
    // queries keep getting faster over the first passes while the JIT works;
    // one more untimed pass through the timed path lets the window start
    // nearer steady state
    names.foreach { n =>
      try fns(n)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val warmPassS = (Clock.nowUs - warm0) / 1e6

    ctx.ledger.active = ctx.trace
    val cpu0 = Jvm.cpuMs; val gc0 = Jvm.gcMs
    val winStart = Clock.nowUs
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    var failures = 0L
    var attempted = 0L
    do {
      val p0 = Clock.nowUs
      val rows = names.map { n =>
        sc.setLocalProperty("perfbench.id", n)
        attempted += 1
        val q0 = Clock.nowUs
        var q1 = q0
        val ok = try {
          Trace("query", 0, n) {
            val df = Trace("query.plan_build", 1, n)(fns(n)(spark, dir))
            q1 = Clock.nowUs
            Trace("query.execute", 1, n)(df.write.format("noop").mode("overwrite").save())
          }
          true
        } catch { case _: Throwable => failures += 1; false }
        val q2 = Clock.nowUs
        Json.obj("name" -> Json.str(n), "plan_s" -> Json.num((q1 - q0) / 1e6),
          "exec_s" -> Json.num((q2 - q1) / 1e6), "ok" -> ok.toString)
      }
      sc.setLocalProperty("perfbench.id", null)
      passes += Json.obj("pass_s" -> Json.num((Clock.nowUs - p0) / 1e6), "queries" -> Json.arr(rows))
    } while (passes.size < MinPasses || Clock.nowUs - winStart < (ctx.seconds * 1e6).toLong)
    val winEnd = Clock.nowUs
    val jvm = Jvm.window(cpu0, gc0)
    ctx.ledger.active = false

    Seq(
      "setup" -> Json.obj("reps_s" -> "[]", "warm_pass_s" -> Json.num(warmPassS)),
      "window" -> Json.obj("start_us" -> winStart.toString, "end_us" -> winEnd.toString),
      "catalog" -> Json.obj(
        "data" -> Json.str(dir), "check_dir" -> Json.str(checkDir),
        "queries" -> Json.strs(names),
        "modules" -> Json.obj(names.map(n => n -> Json.str(modules.getOrElse(n, "other"))): _*),
        "oracle" -> Json.obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_))): _*),
        "check_errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
        "passes" -> Json.arr(passes),
        "attempted" -> attempted.toString, "failures" -> failures.toString),
      "jvm" -> jvm)
  }
}
