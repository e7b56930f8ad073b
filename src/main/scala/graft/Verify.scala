package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run OVERLAPPED on a bounded pool (SPARK_GRAFT_VERIFY_PAR,
  * default 4): most of a small-SF query's wall time is driver-side
  * planning and job-launch latency, not task execution, so N in-flight
  * queries nearly divide the wall clock by N. Safety relies on what the
  * query registry already guarantees — every shared fixture is built
  * under ConcurrentHashMap.computeIfAbsent (second arrival blocks until
  * built), catalog-mutating queries isolate in their own newSession(),
  * and every sampled/salted operator is hash-based, never rand(). Each
  * query builds and writes inside its own cache scope
  * (graft.ops.TextKit.CacheScope), which frees exactly the relations
  * that query cached once its result is written.
  * FAIR scheduler mode + a per-query pool keeps one long query from
  * starving the rest of the task slots.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // restrict to named queries: CLI args (local iteration) or the
    // driver-passable env var SPARK_GRAFT_VERIFY_ONLY=q01,q02,…
    val only: Set[String] = args.drop(2).toSet ++
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
      .max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val todo = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .toSeq.sortBy(_._1)
    val pool = Executors.newFixedThreadPool(par)
    todo.foreach { case (name, fn) =>
      pool.execute { () =>
        // pools are created on demand; FAIR across pools means each
        // in-flight query gets an even share of the task slots
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        System.err.println(s"[verify] running $name")
        try graft.ops.TextKit.withCacheScope {
          fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    }
    pool.shutdown()
    pool.awaitTermination(4, TimeUnit.HOURS)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
