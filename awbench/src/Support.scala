package graft.awbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else Double.NaN

  /** Total length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Evidence of ambient load, recorded in every run's artifact. */
object Ambient {
  /** Host steal time in seconds since boot from /proc/stat; None if the
    * file or its steal column cannot be read.
    */
  def stealS(): Option[Double] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      f(8).toLong / 100.0 // USER_HZ
    } finally src.close()
  }.toOption

  /** Fixed CPU work (an xorshift chain), timed: a slower canary at the
    * same code means a busier host.
    */
  @volatile var sink = 0L
  def canaryMs(): Double = {
    def work(): Long = {
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      acc
    }
    sink += work() // warm the loop once, then time it
    val t0 = System.nanoTime()
    sink += work()
    (System.nanoTime() - t0) / 1e6
  }

  def gcMs(): Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum
}

/** Driver heap in use during each operation: the peak of what a
  * collection left behind, from GC notifications (steadier than a raw
  * sample, which depends on how full the young generation happened to be).
  */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var running = true
  @volatile private var afterGc = -1L
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (running && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      afterGc = math.max(afterGc, used)
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stop(): Unit = {
    running = false
    emitters.foreach(e => scala.util.Try(e.removeNotificationListener(listener)))
  }
  /** Live-set peak since the last call; None if no collection ran. */
  def take(): Option[Double] = {
    val p = afterGc
    afterGc = -1L
    if (p < 0) None else Some(p / 1048576.0)
  }
}

/** Minimal JSON rendering: numbers stay numbers, non-finite doubles and
  * missing values become null, strings are escaped.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case n: java.lang.Number => apply(n.doubleValue)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Per-layer attribution of traced units. Each traced unit's jobs, SQL
  * executions and spans are folded into sums; [[result]] divides them by
  * the number of traced operations.
  */
final class Layers {
  private val sum = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var wallMs = 0L
  private var storePeak = 0L
  private val MB = 1048576.0

  def add(p: Probe, spans: Seq[Span], u0: Long, u1: Long, gcMs: Double): Unit = {
    val jobs = p.jobs.values.asScala.toSeq
    val execs = p.execs.values.asScala.toSeq
    def jobsOf(xs: Seq[Exec]): Seq[Job] = {
      val ids = xs.map(_.id).toSet
      jobs.filter(j => ids(j.execId))
    }
    def iv(xs: Seq[Exec]) = xs.map(x => (x.start, if (x.end >= 0) x.end else u1))
    def m(xs: Seq[Exec], k: String) = xs.map(_.metrics(k).toDouble).sum
    // executions by a frame on their call stack (Spark's long call site)
    def site(k: String) = execs.filter(_.callSite.contains(k))
    def add(k: String, v: Double): Unit = sum(k) += v

    wallMs += u1 - u0
    storePeak = math.max(storePeak, p.storePeak)
    add("sched.jobs", jobs.size)
    add("sched.stages", p.stagesDone.toDouble)
    add("sched.tasks", jobs.map(_.tasks).sum.toDouble)
    add("sched.task_ms", jobs.map(_.taskMs).sum.toDouble)
    add("sched.idle_ms", (u1 - u0) - Stats.covered(jobs.map(j =>
      (math.max(j.start, u0), math.min(if (j.end >= 0) j.end else u1, u1)))).toDouble)
    add("jvm.gc_ms", gcMs)

    val writes = execs.filter(_.isWrite)
    // the star refresh: dims are built and sunk in StarBench's futures,
    // the fact by starBuildTo itself; Incremental's writes are its own
    val incrWrites = writes.filter(_.callSite.contains("Incremental$"))
    val dims = writes.filter(_.callSite.contains("StarBench$.$anonfun$starBuildTo"))
    val fact = writes.filter(x => x.outputPath.endsWith("/fato_vendas") && !incrWrites.contains(x))
    (dims ++ fact).foreach { x =>
      add("star.table." + x.outputPath.split('/').last + "_ms",
        ((if (x.end >= 0) x.end else u1) - x.start).toDouble)
    }
    add("star.fact_ms", iv(fact).map { case (s, e) => (e - s).toDouble }.sum)
    add("star.fact_exchanges", fact.map(_.exchanges).sum.toDouble)
    add("star.fact_shuffle_b", jobsOf(fact).map(_.shuffleWrite).sum.toDouble)
    add("star.fact_rows", m(fact, "write.numOutputRows"))
    add("star.dims_ms", Stats.covered(iv(dims)).toDouble)
    add("star.dims_jobs", jobsOf(site("StarBench$.$anonfun$starBuildTo")).size.toDouble)

    add("sink.write_ms", Stats.covered(iv(writes)).toDouble)
    add("sink.files", m(writes, "write.numFiles"))
    add("sink.bytes", m(writes, "write.numOutputBytes"))
    add("sink.partitions", m(writes, "write.numParts"))
    add("sink.task_commit_ms", m(writes, "write.taskCommitTime"))
    add("sink.job_commit_ms", m(writes, "write.jobCommitTime"))

    add("tables.rows_read", jobs.map(_.inRecords).sum.toDouble)
    add("tables.bytes_read", jobs.map(_.inBytes).sum.toDouble)
    add("tables.files_read", m(execs, "scan.numFiles"))
    add("tables.scan_ms", m(execs, "scan.scanTime"))

    val kpis = execs.filter(x => x.funcName == "collect" && x.callSite.contains("awbench.Workload.rows"))
    add("kpi.queries", kpis.size.toDouble)
    add("kpi.plan_ms", kpis.map(_.planMs).sum)
    add("kpi.exec_ms", kpis.map(_.durationMs).sum)
    add("kpi.jobs", jobsOf(kpis).size.toDouble)
    add("kpi.partitions_read", m(kpis, "scan.numPartitions"))
    add("kpi.rows_scanned", m(kpis, "scan.numOutputRows"))

    def spanMs(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start).toDouble).sum
    add("incr.write_ms", spanMs("Incremental.backfillYear"))
    add("incr.partitions_rewritten", m(incrWrites, "write.numParts"))
    add("incr.jobs", jobsOf(site("Incremental$")).size.toDouble)
    // the first answer after the correction: the corrected year's kpi8
    add("incr.readback_ms", if (spans.exists(_.name == "Incremental.backfillYear"))
      spanMs("Kpis.kpi8Sazonalidade") else 0.0)

    val signals = site("CurateRun$.signalTable")
    val finals = site("CurateRun$.writeFinal")
    val gates = site("CurateRun$").filterNot(x => signals.contains(x) || finals.contains(x))
    add("curate.signals_ms", Stats.covered(iv(signals)).toDouble)
    add("curate.gates_ms", Stats.covered(iv(gates)).toDouble)
    add("curate.write_ms", Stats.covered(iv(finals)).toDouble)
    add("curate.jobs", jobsOf(site("CurateRun$")).size.toDouble)
    add("barrier.count", site("Checkpoint$.barrier").size.toDouble)

    // self time: a span's duration not covered by its child spans (an
    // operation's children are layer calls, a layer call's are the SQL
    // executions it ran)
    spans.filterNot(_.name.startsWith("sql:")).foreach { s =>
      val kids = spans.filter(_.parent == s.id)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      add(if (s.parent == 0) "self.op_ms" else "self.call_ms",
        ((s.end - s.start) - Stats.covered(kids)).toDouble)
    }
  }

  /** Per-layer metrics as (name → (value, unit)), per traced operation. */
  def result(tracedOps: Int, overheadPct: Double): scala.collection.Map[String, (Double, String)] = {
    val n = math.max(tracedOps, 1).toDouble
    def per(k: String) = sum(k) / n
    // per KPI query; 0 where the workload answers none
    def perQ(k: String) = if (sum("kpi.queries") > 0) sum(k) / sum("kpi.queries") else 0.0
    val wall = wallMs.toDouble
    val out = mutable.LinkedHashMap[String, (Double, String)](
      "sched.busy_cores" -> (Stats.ratio(sum("sched.task_ms"), wall) -> "cores"),
      "sched.idle_s" -> (per("sched.idle_ms") / 1e3 -> "s"),
      "sched.jobs" -> (per("sched.jobs") -> "count"),
      "sched.stages" -> (per("sched.stages") -> "count"),
      "sched.tasks" -> (per("sched.tasks") -> "count"),
      "star.fact_s" -> (per("star.fact_ms") / 1e3 -> "s"),
      "star.fact_exchanges" -> (per("star.fact_exchanges") -> "count"),
      "star.fact_shuffle_mb" -> (per("star.fact_shuffle_b") / MB -> "MB"),
      "star.fact_rows" -> (per("star.fact_rows") -> "count"),
      "star.dims_s" -> (per("star.dims_ms") / 1e3 -> "s"),
      "star.dims_jobs" -> (per("star.dims_jobs") -> "count"),
      "star.dim_produto_s" -> (per("star.table.dim_produto_ms") / 1e3 -> "s"),
      "star.dim_cliente_s" -> (per("star.table.dim_cliente_ms") / 1e3 -> "s"),
      "star.dim_localidade_s" -> (per("star.table.dim_localidade_ms") / 1e3 -> "s"),
      "star.dim_vendedor_s" -> (per("star.table.dim_vendedor_ms") / 1e3 -> "s"),
      "star.dim_tempo_s" -> (per("star.table.dim_tempo_ms") / 1e3 -> "s"),
      "sink.write_s" -> (per("sink.write_ms") / 1e3 -> "s"),
      "sink.files" -> (per("sink.files") -> "count"),
      "sink.mb" -> (per("sink.bytes") / MB -> "MB"),
      "sink.partitions" -> (per("sink.partitions") -> "count"),
      "sink.task_commit_s" -> (per("sink.task_commit_ms") / 1e3 -> "s"),
      "sink.job_commit_s" -> (per("sink.job_commit_ms") / 1e3 -> "s"),
      "sink.store_ratio" -> ((if (sum("tables.bytes_read") > 0) sum("sink.bytes") / sum("tables.bytes_read") else 0.0) -> "ratio"),
      "tables.rows_read" -> (per("tables.rows_read") -> "count"),
      "tables.mb_read" -> (per("tables.bytes_read") / MB -> "MB"),
      "tables.files_read" -> (per("tables.files_read") -> "count"),
      "tables.scan_s" -> (per("tables.scan_ms") / 1e3 -> "s"),
      "kpi.plan_ms" -> (perQ("kpi.plan_ms") -> "ms"),
      "kpi.exec_ms" -> (perQ("kpi.exec_ms") -> "ms"),
      "kpi.jobs" -> (perQ("kpi.jobs") -> "count"),
      "kpi.partitions_read" -> (perQ("kpi.partitions_read") -> "count"),
      "kpi.rows_scanned" -> (perQ("kpi.rows_scanned") -> "count"),
      "incr.write_s" -> (per("incr.write_ms") / 1e3 -> "s"),
      "incr.partitions_rewritten" -> (per("incr.partitions_rewritten") -> "count"),
      "incr.readback_ms" -> (per("incr.readback_ms") -> "ms"),
      "incr.jobs" -> (per("incr.jobs") -> "count"),
      "curate.signals_s" -> (per("curate.signals_ms") / 1e3 -> "s"),
      "curate.gates_s" -> (per("curate.gates_ms") / 1e3 -> "s"),
      "curate.write_s" -> (per("curate.write_ms") / 1e3 -> "s"),
      "curate.jobs" -> (per("curate.jobs") -> "count"),
      "barrier.count" -> (per("barrier.count") -> "count"),
      "barrier.store_peak_mb" -> (storePeak / MB -> "MB"),
      "self.op_ms" -> (per("self.op_ms") -> "ms"),
      "self.call_ms" -> (per("self.call_ms") -> "ms"),
      "trace.overhead_pct" -> (overheadPct -> "%"),
      "trace.ops" -> (tracedOps.toDouble -> "count"))
    out
  }
}
