package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced phase.
  *
  * The closed-loop client is one thread. It opens a span around each call
  * into a layer; listener callbacks run on the listener-bus thread and add
  * into the operation and span that are open. A span closes only after the
  * bus has drained, so every event its work posted lands in it, whatever
  * thread or call site the work ran on. Inside `jobs.ingest` an SQL
  * execution counts as a lake write when its plan root is a write command,
  * and as parse work otherwise (the stats collect that fills the cache).
  */
object Trace {
  @volatile private var sc: SparkContext = _
  @volatile private var op: Op = _
  @volatile private var span: String = ""

  /** Sums for one operation. Guarded by its own monitor: the client thread
    * and the bus thread both write it. */
  final class Op(val name: String) {
    val startMs: Long = System.currentTimeMillis()
    var endMs: Long = 0L
    val sums: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val writeIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val parseIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def add(k: String, v: Double): Unit = synchronized { sums(k) += v }
  }

  def enabled: Boolean = sc != null

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(Scheduler)
  }

  /** Runs one operation and returns its sums, or None when tracing is off. */
  def operation[T](name: String)(body: => T): (T, Option[Op]) =
    if (!enabled) (body, None)
    else {
      val o = new Op(name)
      op = o
      val gc0 = gcSeconds()
      try {
        val r = body
        org.apache.spark.perfbench.Bus.drain(sc)
        o.endMs = System.currentTimeMillis()
        o.add("jvm.gc_s", gcSeconds() - gc0)
        finish(o)
        (r, Some(o))
      } finally op = null
    }

  /** Times `body` as the named layer span of the open operation. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val prev = span
    span = name
    try body
    finally {
      if (enabled) org.apache.spark.perfbench.Bus.drain(sc)
      span = prev
      val o = op
      if (o != null) o.add(name + "_s", (System.nanoTime() - t0) / 1e9)
    }
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Length of the union of [start, end) intervals, clipped to [lo, hi). */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    for ((s, e) <- iv.map { case (s, e) => (s.max(lo), e.min(hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) { covered += e - s.max(reach); reach = e }
    }
    covered
  }

  private def finish(o: Op): Unit = o.synchronized {
    val wall = (o.endMs - o.startMs).max(1L)
    val busy = unionMs(o.taskIntervals.toSeq, o.startMs, o.endMs)
    o.sums("scheduler.driver_gap_s") += (wall - busy) / 1e3
    o.sums("lake.write_s") +=
      unionMs(o.writeIntervals.toSeq, 0L, Long.MaxValue) / 1e3
    o.sums("ingest.parse_s") +=
      unionMs(o.parseIntervals.toSeq, 0L, Long.MaxValue) / 1e3
    o.sums("wall_s") += wall / 1e3
  }

  private final case class Exec(start: Long, write: Boolean, inIngest: Boolean)

  /** Jobs, stages and tasks, attributed to the open operation; SQL
    * executions classified by their plan root. */
  private object Scheduler extends SparkListener {
    private val execs = mutable.Map.empty[Long, Exec]
    private val jobExec = mutable.Map.empty[Int, Long]
    private val stageJob = mutable.Map.empty[Int, Int]

    /** A write command at the root, or under the adaptive-plan wrapper
      * that Spark puts around it. */
    private def isWrite(p: org.apache.spark.sql.execution.SparkPlanInfo): Boolean =
      p.nodeName.startsWith("Execute InsertInto") ||
        (p.nodeName == "AdaptiveSparkPlan" && p.children.exists(isWrite))

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        val root = e.rootExecutionId.filter(_ != e.executionId)
          .flatMap(execs.get)
        val write = root.map(_.write).getOrElse(isWrite(e.sparkPlanInfo))
        execs(e.executionId) = Exec(e.time, write,
          root.map(_.inIngest).getOrElse(span == "jobs.ingest"))
      case e: SparkListenerSQLExecutionEnd =>
        for (x <- execs.remove(e.executionId); o <- Option(op)
            if x.inIngest) o.synchronized {
          (if (x.write) o.writeIntervals else o.parseIntervals) +=
            (x.start -> e.time)
        }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => jobExec(e.jobId) = id.toLong)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      val o = op
      if (o != null) {
        o.add("scheduler.jobs", 1)
        if (o.name.startsWith("ops.")) o.add(o.name + ".jobs", 1)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val o = op
      if (o != null) o.add("scheduler.stages", 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val o = op
      if (o == null) return
      val info = e.taskInfo
      val m = e.taskMetrics
      val isWrite = stageJob.get(e.stageId).flatMap(jobExec.get)
        .flatMap(execs.get).exists(x => x.write && x.inIngest)
      o.synchronized {
        o.sums("scheduler.tasks") += 1
        o.sums("scheduler.task_s") += info.duration / 1e3
        o.taskIntervals += (info.launchTime -> info.finishTime)
        if (isWrite) o.sums("lake.write_tasks") += 1
        if (m != null) {
          o.sums("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
          o.sums("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
          o.sums("shuffle.spill_bytes") +=
            m.memoryBytesSpilled + m.diskBytesSpilled
          o.sums("driver.result_bytes") += m.resultSize
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobExec.remove(e.jobId)
      stageJob.filterInPlace((_, j) => j != e.jobId)
    }
  }

  /** Catalyst phases and the write and scan metrics of each finished
    * query execution. Registered through `spark.sql.queryExecutionListeners`,
    * so the sessions the streaming operators clone get one too. */
  final class Sql extends QueryExecutionListener {
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
      case other => other +: other.children.flatMap(nodes)
    }

    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = {
      val o = op
      if (o == null) return
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      o.synchronized {
        o.sums("sql.analysis_s") += phase("analysis")
        o.sums("sql.optimization_s") += phase("optimization")
        o.sums("sql.planning_s") += phase("planning")
        o.sums("sql.execution_s") += durationNs / 1e9
        def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
            k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        nodes(qe.executedPlan).foreach {
          case w: DataWritingCommandExec =>
            o.sums("lake.files_written") += metric(w.cmd.metrics, "numFiles")
            o.sums("lake.bytes_written") += metric(w.cmd.metrics, "numOutputBytes")
          case s: FileSourceScanExec =>
            o.sums("lake.files_scanned") += metric(s.metrics, "numFiles")
            o.sums("lake.partitions_scanned") += metric(s.metrics, "numPartitions")
          case _ =>
        }
      }
    }

    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Micro-batch progress of every streaming query. Registered through
    * `spark.sql.streaming.streamingQueryListeners`, so the sessions the
    * streaming operators clone get one too. */
  final class Streaming extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val o = op
      if (o == null) return
      val d = e.progress.durationMs
      def s(k: String): Double =
        if (d.containsKey(k)) d.get(k).longValue / 1e3 else 0.0
      o.synchronized {
        o.sums("streaming.batches") += 1
        o.sums("streaming.add_batch_s") += s("addBatch")
        o.sums("streaming.wal_commit_s") += s("walCommit")
        o.sums("streaming.planning_s") += s("queryPlanning")
      }
    }
  }
}
