package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: one closed-loop client over the engine's
  * public entry points. `perfbench/run.py` generates the inputs from the
  * seed, starts this program, then checks every operation against its own
  * reference and prints the metrics.
  *
  *   perfbench.Main <spec.properties> <result.json>
  *
  * The spec names the workload, the input files and the timing budget.
  * Set-up (session, fixtures, warm-up) runs first; then the timed phase
  * runs operations back to back for `seconds`. With `trace=1` a second,
  * traced phase of the same length follows, with the listeners installed
  * and a span around each layer call. The result file holds one record per
  * operation and the per-layer sums of the traced phase.
  */
object Main {
  final case class OpRecord(phase: String, name: String, latencyS: Double,
      detail: Map[String, String], error: Option[String])

  /** One workload: set-up, then operations by index. */
  trait Workload {
    def setup(): Unit
    /** Name of operation `i` (`ops.<query>` for registry queries). */
    def name(i: Int): String
    /** Runs operation `i` and returns its check values. */
    def op(i: Int): Map[String, String]
    /** The relations a timed action collects, for the plan self-test. */
    def planChecks: Seq[(String, DataFrame)] = Nil
  }

  /** Wall time of each named set-up stage, for the run record. */
  val setupStages = mutable.LinkedHashMap.empty[String, Double]
  def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally setupStages(name) = setupStages.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spec = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try spec.load(in) finally in.close()
    val out = args(1)
    def get(k: String): String = Option(spec.getProperty(k))
      .getOrElse(sys.error(s"spec lacks $k"))
    val t0 = System.nanoTime()
    val cores = get("cores").toInt
    val work = get("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.queryExecutionListeners", classOf[Trace.Sql].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[Trace.Streaming].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = get("workload") match {
      case "ta_refresh" => new TaRefresh(spark, spec)
      case "ops_heavy" => new OpsHeavy(spark, spec)
      case other => sys.error(s"unknown workload $other")
    }
    val json = new mutable.LinkedHashMap[String, Any]
    json("session_s") = sessionS
    if (get("mode") == "selftest") {
      w.setup()
      json("plan_checks") = w.planChecks.map { case (label, df) =>
        Map("label" -> label,
          "columns" -> df.columns.toSeq,
          "output_columns" -> df.queryExecution.executedPlan.output.map(_.name),
          "scan_columns" -> PlanCheck.leafColumns(df),
          "count_columns" -> PlanCheck.leafColumns(df.groupBy().count()))
      }
      Json.write(out, json)
      spark.stop()
      return
    }

    val s0 = System.nanoTime()
    w.setup()
    json("setup_s") = sessionS + (System.nanoTime() - s0) / 1e9
    json("setup_stages") = setupStages
    val seconds = get("seconds").toDouble
    // a phase ends only on a whole pass, so every phase runs the same mix
    val passOps = get("pass_ops").toInt
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val traced = mutable.ArrayBuffer.empty[(String, Double, Trace.Op)]
    var next = 0

    /** Closed loop: the next operation starts when the previous returns.
      * Runs until `budget` seconds have passed and the pass is complete. */
    def phase(name: String, budget: Double): Double = {
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      var n = 0
      while (elapsed < budget || n % passOps != 0) {
        val i = next
        next += 1
        n += 1
        val opName = w.name(i)
        val o0 = System.nanoTime()
        val (rec, sums) = Trace.operation(opName) {
          try OpRecord(name, opName, 0, w.op(i), None)
          catch {
            case t: Throwable =>
              OpRecord(name, opName, 0, Map.empty,
                Some(s"${t.getClass.getName}: ${t.getMessage}"))
          }
        }
        val lat = (System.nanoTime() - o0) / 1e9
        records += rec.copy(latencyS = lat)
        sums.foreach(s => traced += ((rec.name, lat, s)))
      }
      elapsed
    }

    json("timed_s") = phase("timed", seconds)
    json("heap_retained_mb") = retainedHeapMb()
    if (get("trace") == "1") {
      Trace.install(spark)
      json("traced_s") = phase("traced", seconds)
      json("layers") = layerMeans(traced.toSeq)
    }
    json("ops") = records.map(r => Map(
      "phase" -> r.phase, "name" -> r.name, "latency_s" -> r.latencyS,
      "detail" -> r.detail, "error" -> r.error.orNull))
    Json.write(out, json)
    spark.stop()
  }

  /** Heap in use after a forced GC: the least of three GC-then-read rounds,
    * so garbage that background threads make between rounds does not
    * count. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  /** Per-operation means of the traced sums; `ops.<query>.*` are means
    * over that query's operations only. */
  private def layerMeans(traced: Seq[(String, Double, Trace.Op)]): Map[String, Double] = {
    val n = traced.size.max(1)
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val perQuery = mutable.Map.empty[String, Int].withDefaultValue(0)
    val cores = SparkSession.active.sparkContext.defaultParallelism
    for ((name, lat, o) <- traced) {
      o.sums.foreach { case (k, v) if !k.startsWith("ops.") => sums(k) += v
        case _ => }
      val busy = o.sums("scheduler.task_s") / (cores * o.sums("wall_s"))
      sums("scheduler.busy_frac") += busy
      if (name.startsWith("ops.")) {
        perQuery(name) += 1
        sums(name + ".s") += lat
        sums(name + ".jobs") += o.sums(name + ".jobs")
        sums(name + ".busy_frac") += busy
      }
    }
    sums.map { case (k, v) =>
      val q = k.substring(0, k.lastIndexOf('.').max(0))
      k -> (if (perQuery.contains(q)) v / perQuery(q) else v / n)
    }.toMap - "wall_s"
  }
}

/** The columns each file scan of the physical plan reads, as
  * `<table dir>.<column>`. */
object PlanCheck {
  def leafColumns(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        val table = s.relation.location.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        s.requiredSchema.fieldNames.toSeq.map(c => s"$table.${c.toLowerCase}")
    }.flatten.distinct.sorted
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}
