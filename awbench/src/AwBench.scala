package graft.awbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Checkpoint, CurateRun, StarBench, Tuning}
import graft.etl.Incremental
import graft.kpi.Kpis

/** The repository benchmark's engine side. One process runs one workload:
  * it opens the session the way `graft.Bench` does, sets the workload up
  * (timed), runs operations for the requested seconds,
  * and prints one JSON line with the raw measurements and the outputs
  * `awbench/run.py` checks against the DuckDB oracles.
  *
  * Usage: AwBench <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  */
object AwBench {

  /** One timed operation: wall-clock start and end (ms, comparable with
    * Spark's event times), its duration measured on the nano clock and
    * its driver heap peak after a collection.
    */
  final case class Op(startMs: Long, endMs: Long, ms: Double, traced: Boolean,
                      heapMb: Option[Double], extra: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val canaryStart = Ambient.canaryMs()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        Tuning.sessionShufflePartitions(data, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tuning.applyProductionIo(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probe = new Probe(spark)
    probe.register()

    val w: Workload = workload match {
      case "warehouse" => new Warehouse(spark, data, work, seed)
      case "curate" => new Curate(spark, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    // set-up: input staging, then one untimed warm-up operation, which
    // carries the cold (JIT, codegen) cost
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; Checkpoint.releaseAll(); (System.nanoTime() - t0) / 1e9
    }
    val stageS = timed(w.stage())
    val warmUpS = timed(w.warmUp())
    val gc0 = Ambient.gcMs()
    val steal0 = Ambient.stealS()
    probe.drain()
    probe.windowStart = System.currentTimeMillis()
    val heap = new HeapWatch
    System.gc() // every operation starts without the previous one's garbage
    heap.start()
    val tw0 = System.nanoTime()
    val runner = new Runner(probe, heap, trace, (seconds * 1e9).toLong)
    w.run(runner)
    val windowS = (System.nanoTime() - tw0) / 1e9
    heap.stop()
    probe.drain()
    val steal1 = Ambient.stealS()
    val gcMs = Ambient.gcMs() - gc0
    val ops = runner.ops.toVector
    val canaryEnd = Ambient.canaryMs()
    val checks = w.outputs()
    spark.stop()

    val untraced = ops.filterNot(_.traced).map(_.ms)
    // executor time of the tasks launched inside operations (not checks)
    val (cpuS, runS) = probe.taskTime(ops.map(o => (o.startMs, o.endMs)))
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cpus" -> cpus,
      "ops" -> ops.size, "window_s" -> windowS, "op_ms" -> ops.map(_.ms),
      "setup" -> Map("session_s" -> sessionS, "stage_s" -> stageS,
        "warm_up_s" -> warmUpS),
      "e2e" -> Map(
        "setup_s" -> (sessionS + stageS + warmUpS),
        "op_ms" -> Stats.median(untraced),
        "core_s" -> cpuS / ops.size,
        "heap_peak_mb" -> Stats.median(ops.filterNot(_.traced).flatMap(_.heapMb))),
      "ambient" -> Map(
        "host.steal_s" -> (for (a <- steal0; b <- steal1) yield b - a),
        "host.canary_start_ms" -> canaryStart, "host.canary_end_ms" -> canaryEnd,
        "sched.cpu_run_ratio" -> Stats.ratio(cpuS, runS),
        "jvm.gc_ms" -> gcMs / ops.size.toDouble),
      "per_op" -> w.perOp(ops),
      "checks" -> checks,
      // the in-repo DuckDB oracles the outputs are checked against
      "oracle" -> (graft.SparkEntry.oracleSql.filter { case (k, _) =>
        Set("q_fact_backfill", "kpi1_faturamento_bruto", "kpi8_sazonalidade")(k)
      } + ("star_cte" -> graft.oracle.OracleSql.starCte)))
    if (trace) {
      // tracing overhead: each traced operation against the mean of its
      // untraced neighbours, which cancels the warm-up trend between them
      val overhead = ops.indices.collect {
        case i if ops(i).traced && i + 1 < ops.size =>
          100.0 * (ops(i).ms / ((ops(i - 1).ms + ops(i + 1).ms) / 2) - 1)
      }
      out("layers") = runner.layers.result(ops.count(_.traced), Stats.median(overhead))
        .map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      out("spans") = runner.spans.toVector.map(_.json)
    }
    println(Json(out))
  }
}

/** Runs timed operations until the window closes. In a traced run every
  * other unit is traced: its events are attributed to layers, and the
  * untraced units give the baseline for the tracing overhead.
  */
final class Runner(val probe: Probe, val heap: HeapWatch, val traceOn: Boolean, windowNs: Long) {
  val ops = mutable.ArrayBuffer.empty[AwBench.Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  val layers = new Layers
  private val t0 = System.nanoTime()
  private var units = 0
  /** The window is open for its length, and in a traced run until a
    * traced operation has an untraced one on each side.
    */
  def open: Boolean = System.nanoTime() - t0 < windowNs || (traceOn && units < 3)

  /** One operation, traced or not. */
  def unit(body: Boolean => Unit): Unit = {
    val traced = traceOn && units % 2 == 1
    units += 1
    if (traced) { probe.clear(); probe.resetStorePeak(); probe.detail = true }
    val spanFrom = spans.size
    val gc0 = Ambient.gcMs()
    val u0 = System.currentTimeMillis()
    body(traced)
    val u1 = System.currentTimeMillis()
    if (traced) {
      probe.drain()
      probe.detail = false
      // each SQL execution becomes a child span of the innermost layer
      // call that was open when it started
      val calls = spans.slice(spanFrom, spans.size).toSeq
      spans ++= probe.execs.values.asScala.toSeq.sortBy(_.id).flatMap { x =>
        calls.filter(c => c.start <= x.start && x.start <= c.end).sortBy(-_.start).headOption
          .map(c => Span(nextSpan.incrementAndGet(), c.id, x.spanName, c.op, x.start,
            if (x.end >= 0) x.end else u1))
      }
      layers.add(probe, spans.slice(spanFrom, spans.size).toSeq, u0, u1, Ambient.gcMs() - gc0)
    }
  }

  def record(op: AwBench.Op): Unit = ops += op

  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger
  /** Time `f` as a span named after the layer function it calls. */
  def span[T](name: String, opId: Int, parent: Int, traced: Boolean)(f: Int => T): T = {
    val id = nextSpan.incrementAndGet()
    val s = System.currentTimeMillis()
    try f(id)
    finally if (traced) spans += Span(id, parent, name, opId, s, System.currentTimeMillis())
  }
}

final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long) {
  def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "op" -> op, "start_ms" -> start, "end_ms" -> end)
}

/** A workload: set-up, warm-up, the timed loop and the outputs to check. */
abstract class Workload {
  def stage(): Unit = ()
  def warmUp(): Unit
  def run(r: Runner): Unit
  def outputs(): Map[String, Any]
  def perOp(ops: Seq[AwBench.Op]): Map[String, Any] = Map.empty
  /** Untimed per-operation check, run between operations. */
  protected def afterOp(): Unit = ()

  protected def rows(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(r => r.toSeq.map(Workload.cell)))

  /** Sequential operations until the window closes. */
  protected def loop(r: Runner, name: String)(op: (Int, Int, Boolean) => Map[String, Double]): Unit = {
    var i = 0
    while (r.open) {
      r.unit { traced =>
        val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
        val extra = r.span(name, i, 0, traced)(id => op(i, id, traced))
        r.record(AwBench.Op(ms0, System.currentTimeMillis(), (System.nanoTime() - ns0) / 1e6,
          traced, r.heap.take(), extra))
      }
      Checkpoint.releaseAll()
      afterOp()
      System.gc()
      i += 1
    }
  }
}

object Workload {
  def cell(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case t: java.sql.Timestamp => t.toString
    case other => other
  }
}

/** The paper's system, one nightly cycle per operation, over the 10×
  * staged corpus: a full star refresh (5 dims + partitioned fact + sink),
  * the in-place correction of one seeded year through Incremental's
  * dynamic-partition overwrite, that year's seasonality KPI (the first
  * answer reflecting the correction) and the gross-revenue KPI.
  */
final class Warehouse(spark: SparkSession, data: String, work: String, seed: Long) extends Workload {
  private val staged = s"$work/staged10x"
  private val dw = s"$work/dw"
  private val years = 1995 to 2001
  private val rng = new scala.util.Random(seed)
  private val factRows = mutable.ArrayBuffer.empty[Long]
  // (query → (answer → (columns, rows, times seen)))
  private val seen = mutable.Map.empty[String, mutable.Map[String, (Seq[String], Seq[Seq[Any]], Int)]]

  override def stage(): Unit = StarBench.stage10x(spark, data, staged)
  def warmUp(): Unit = cycle(years.head, None, 0, 0, traced = false)
  def run(r: Runner): Unit = loop(r, "nightly") { (i, id, traced) =>
    cycle(years(rng.nextInt(years.size)), Some(r), i, id, traced)
  }
  override protected def afterOp(): Unit =
    factRows += spark.read.parquet(s"$dw/fato_vendas").count()

  private def note(name: String, res: (Seq[String], Seq[Seq[Any]])): Unit = {
    val m = seen.getOrElseUpdate(name, mutable.Map.empty)
    val key = Json(res._2)
    val (_, _, n) = m.getOrElse(key, (res._1, res._2, 0))
    m(key) = (res._1, res._2, n + 1)
  }

  private def cycle(year: Int, r: Option[Runner], i: Int, parent: Int,
                    traced: Boolean): Map[String, Double] = {
    def sp[T](n: String)(f: => T): T = r match {
      case Some(x) => x.span(n, i, parent, traced)(_ => f)
      case None => f
    }
    val t0 = System.nanoTime()
    sp("StarBench.starBuildTo")(StarBench.starBuildTo(spark, staged, dw))
    val t1 = System.nanoTime()
    sp("Incremental.backfillYear")(
      Incremental.backfillYear(spark, staged, s"$dw/fato_vendas", year))
    val t2 = System.nanoTime()
    val fato = spark.read.parquet(s"$dw/fato_vendas")
    note(s"kpi8_year:$year", sp("Kpis.kpi8Sazonalidade")(rows(Kpis.kpi8Sazonalidade(
      fato.filter(col("ano") === year).drop("ano"), spark.read.parquet(s"$dw/dim_tempo")))))
    val t3 = System.nanoTime()
    note("kpi1", sp("Kpis.kpi1FaturamentoBruto")(rows(Kpis.kpi1FaturamentoBruto(fato.drop("ano")))))
    Map("refresh_ms" -> (t1 - t0) / 1e6, "backfill_ms" -> (t2 - t1) / 1e6,
      "fresh_ms" -> (t3 - t1) / 1e6, "kpi1_ms" -> (System.nanoTime() - t3) / 1e6)
  }

  override def perOp(ops: Seq[AwBench.Op]): Map[String, Any] =
    Seq("refresh_ms", "backfill_ms", "fresh_ms", "kpi1_ms")
      .map(k => k -> Stats.median(ops.filterNot(_.traced).flatMap(_.extra.get(k)))).toMap

  // every cycle overwrites the same DW; the last one is checked in full
  def outputs(): Map[String, Any] = Map("source" -> staged, "dw" -> dw,
    "fact_rows" -> factRows.toSeq,
    "answers" -> seen.toMap.map { case (n, m) =>
      n -> m.values.toSeq.map { case (c, rs, k) => Map("columns" -> c, "rows" -> rs, "count" -> k) }
    })
}

/** One CurateRun funnel per operation over the seeded corpus. */
final class Curate(spark: SparkSession, data: String, work: String) extends Workload {
  private val out = s"$work/curate"
  private val funnels = mutable.LinkedHashMap.empty[String, Int]
  private val staged = s"$work/curate_staged"
  // the warm-up is the DAG-shaped composition of the same gates (signals →
  // dedup → final, each stage read back), which pays the cold cost and
  // whose corpus every timed run must reproduce, then one untimed
  // CurateRun.run: without it the first timed funnel often ran 15-40%
  // slower than the ones after it
  def warmUp(): Unit = {
    Seq("signals", "dedup", "final").foreach(st => CurateRun.runStage(spark, st, data, staged))
    CurateRun.run(spark, data, out)
  }
  def run(r: Runner): Unit = loop(r, "curate") { (i, id, traced) =>
    val f = r.span("CurateRun.run", i, id, traced)(_ => CurateRun.run(spark, data, out))
    val key = Json(f.map { case (n, c) => Seq(n, c) })
    funnels(key) = funnels.getOrElse(key, 0) + 1
    Map.empty
  }

  /** The last run's corpus beside the staged composition's
    * (CurateRunSpec's equality), digested outside the window.
    */
  def outputs(): Map[String, Any] = {
    def digest(dir: String): (Long, String) = {
      val rs = spark.read.parquet(s"$dir/corpus").orderBy("doc_id")
        .selectExpr("CAST(doc_id AS STRING)", "lang", "source", "texto_limpo",
          "CAST(n_tokens AS STRING)").collect()
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rs.foreach(r => md.update((r.toSeq.mkString("\u0001") + "\n").getBytes("UTF-8")))
      (rs.length.toLong, md.digest().map("%02x".format(_)).mkString)
    }
    val (n, d) = digest(out)
    val (ns, ds) = digest(staged)
    Map("funnels" -> funnels.toSeq.map { case (k, c) => Map("funnel" -> k, "count" -> c) },
      "corpus_rows" -> n, "corpus_digest" -> d,
      "staged_rows" -> ns, "staged_digest" -> ds)
  }
}
