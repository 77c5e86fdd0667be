package graft.awbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One SQL execution as the listeners saw it: its wall interval, what
  * called it (Spark's long call site) and, once the query-execution
  * listener reports, the metrics harvested from its final plan.
  */
final class Exec(val id: Long, val start: Long, val callSite: String) {
  @volatile var end: Long = -1L
  @volatile var funcName: String = ""
  @volatile var planMs: Double = 0.0
  @volatile var durationMs: Double = 0.0
  @volatile var exchanges: Int = 0
  val metrics: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)

  /** The output directory of a file write command, or "" for reads. */
  @volatile var outputPath: String = ""
  def isWrite: Boolean = outputPath.nonEmpty
  /** `sql:<action>` or, for a write, `sql:write:<output directory name>`. */
  def spanName: String =
    if (isWrite) "sql:write:" + outputPath.split('/').last
    else "sql:" + (if (funcName.nonEmpty) funcName else "execution")
}

/** Per-job record: interval, SQL execution and the summed metrics of its
  * finished tasks.
  */
final class Job(val id: Int, val start: Long, val execId: Long) {
  @volatile var end: Long = -1L
  var tasks = 0L
  var taskMs = 0L     // launch→finish, summed
  var inBytes = 0L
  var inRecords = 0L
  var shuffleWrite = 0L
}

/** The benchmark's own instrumentation: a `SparkListener` and a
  * `QueryExecutionListener` registered on the session. Nothing in the
  * engine is modified; everything is observed from outside.
  *
  * Untraced (`detail = false`) it only keeps the executor CPU and run time
  * of tasks launched inside the measured window. Traced, it also keeps every
  * job, SQL execution, stage count, block-store update and final-plan
  * metric, which [[Runner.unit]] attributes to the operations that ran
  * between two drains. Events arrive on Spark's single listener thread;
  * the harness reads the records only after [[drain]], whose volatile
  * marker publishes them.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var detail = false
  @volatile var windowStart: Long = Long.MaxValue

  // always on: (launch ms, executor CPU ns, executor run ms) of every
  // task launched since the window opened
  private val taskTimes = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  val jobs = new ConcurrentHashMap[Int, Job]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  @volatile var stagesDone = 0L
  // block store: rdd block id → bytes (memory + disk); peak since reset
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var storeBytes = 0L
  @volatile var storePeak = 0L
  @volatile private var markerSeen = -1L

  /** Registers the query-execution listener first: its bus then sits
    * ahead of this listener on Spark's shared queue, so each execution's
    * `onSuccess` is delivered just before its `SQLExecutionEnd` here.
    */
  def register(): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }
  // the query execution reported by onSuccess, awaiting its end event
  @volatile private var reported: Option[(String, QueryExecution, Long)] = None

  /** Executor CPU and run seconds of the tasks launched inside the given
    * wall-clock intervals.
    */
  def taskTime(intervals: Seq[(Long, Long)]): (Double, Double) = {
    val in = taskTimes
      .filter { case (t, _, _) => intervals.exists { case (a, b) => t >= a && t <= b } }
    (in.map(_._2).sum / 1e9, in.map(_._3).sum / 1e3)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    if (prop("spark.job.description").startsWith("awbench-marker-")) {
      markerSeen = prop("spark.job.description").stripPrefix("awbench-marker-").toLong
      return
    }
    if (!detail) return
    val execId = scala.util.Try(prop("spark.sql.execution.id").toLong).getOrElse(-1L)
    val j = new Job(e.jobId, e.time, execId)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageToJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail && stageToJob.containsKey(e.stageInfo.stageId)) stagesDone += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null || e.taskInfo.launchTime < windowStart) return
    taskTimes += ((e.taskInfo.launchTime, m.executorCpuTime, m.executorRunTime))
    if (!detail) return
    Option(stageToJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (detail) {
    val i = e.blockUpdatedInfo
    val bytes = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    val prev = Option(blocks.put(i.blockId.name, bytes)).map(_.longValue).getOrElse(0L)
    storeBytes += bytes - prev
    storePeak = math.max(storePeak, storeBytes)
  }

  def resetStorePeak(): Unit = storePeak = storeBytes

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (detail) e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.executionId, s.time, s.details))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach { x =>
        x.end = s.time
        reported.foreach { case (f, qe, ns) => harvest(x, f, qe, ns) }
      }
      reported = None
    case _ =>
  }

  // ------------------------------------------------ query execution listener

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detail) reported = Some((funcName, qe, durationNs))

  private def harvest(x: Exec, funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    x.funcName = funcName
    x.durationMs = durationNs / 1e6
    x.planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    val nodes = Probe.walk(qe.executedPlan)
    x.exchanges = nodes.count {
      case _: ShuffleExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }
    nodes.foreach {
      case w: DataWritingCommandExec =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => x.outputPath = i.outputPath.toString
          case _ =>
        }
        w.metrics.foreach { case (k, v) => x.metrics(s"write.$k") += v.value }
      case n if n.nodeName.contains("Scan") && n.metrics.contains("numFiles") =>
        Seq("numFiles", "numPartitions", "numOutputRows", "scanTime")
          .foreach(k => n.metrics.get(k).foreach(v => x.metrics(s"scan.$k") += v.value))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every event posted so far has been delivered to this
    * listener: submit a tagged one-task job and wait for its start event,
    * which the bus delivers after everything queued before it.
    */
  private val markers = new java.util.concurrent.atomic.AtomicLong
  def drain(): Unit = {
    val n = markers.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobDescription(s"awbench-marker-$n")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (markerSeen < n && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Forget everything recorded so far (between traced units). */
  def clear(): Unit = {
    jobs.clear(); execs.clear(); stageToJob.clear(); stagesDone = 0L
  }
}

object Probe {
  /** Every node of a physical plan, descending into AQE's final plan,
    * query stages and write commands.
    */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
    case q: QueryStageExec => p +: walk(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
}
