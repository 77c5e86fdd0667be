package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Storage-layout demonstrations for the 100 TB posture, each returning
  * its observed evidence (tested in ZOrderSpec):
  *
  *  1. small-file COMPACTION: a fragmented year-partitioned table is
  *     rewritten to one file per partition, rows bit-identical.
  *  2. Z-ORDER layout: one Morton-clustered layout whose parquet footers
  *     prune on EITHER of two predicates, where a time-sorted layout
  *     prunes only time.
  */
object StorageDemo {
  /** Fragment `df` (year-partitioned, many small files), compact to one
    * file per partition, and verify the rewrite is lossless. Returns
    * (fragment file count, compacted file count, rows identical).
    */
  def compactDemo(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, out: String): (Int, Int, Boolean) = {
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val fragged = df.withColumn("ano", (col("sk_tempo") / 10000).cast("int"))
    fragged.repartition(50)
      .write.mode("overwrite").partitionBy("ano").parquet(s"$out/frag")
    val frag = spark.read.parquet(s"$out/frag")
    // repartition ON the partition column: a year never splits across
    // tasks, so each partition directory is written as exactly one file
    val years = frag.select("ano").distinct().count().toInt
    frag.repartition(years, col("ano"))
      .write.mode("overwrite").partitionBy("ano").parquet(s"$out/compact")
    val compact = spark.read.parquet(s"$out/compact")
    val identical = frag.exceptAll(compact).isEmpty &&
      compact.exceptAll(frag).isEmpty
    (parquetFiles(s"$out/frag"), parquetFiles(s"$out/compact"), identical)
  }

  /** Scan-materialized rows per (layout × query) + corpus size. */
  final case class ZSkip(tsTime: Long, zTime: Long, tsUser: Long,
      zUser: Long, total: Long)

  /** Writes the events table under a 1-D (time-sorted) and a 2-D
    * (Morton/Z-order, both dimensions min/max-normalized to 16 bits so
    * the interleave is balanced) layout with `files` files each, then
    * runs a time-slice query and a user-slice query against both and
    * returns each scan's materialized row count (after parquet footer
    * pruning — files are row-group-sized here, the 100 TB behavior
    * scaled down).
    */
  def zorderSkipDemo(spark: SparkSession, dir: String, out: String,
      files: Int): ZSkip = {
    graft.functions.GraftFunctions.register(spark)
    val evRaw = Tables.events(spark, dir).selectExpr(
      "CAST(user_id AS BIGINT) AS user_id", "ts", "event_type", "value",
      "CAST(unix_micros(ts) DIV 60000000 AS BIGINT) AS ts_min")
    val b = evRaw.selectExpr("min(user_id) AS u0", "max(user_id) AS u1",
      "min(ts_min) AS t0", "max(ts_min) AS t1").head()
    val (u0, u1, t0, t1) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // equal 16-bit budgets per dimension — an unnormalized interleave
    // would put all significant high bits on the wider dimension (minutes
    // since epoch ≈ 25 bits vs ~11 user bits) and degenerate to a 1-D
    // time sort
    val ev = evRaw.selectExpr("user_id", "ts", "event_type", "value", "ts_min",
      s"(user_id - $u0) * 65535 DIV ${math.max(u1 - u0, 1L)} AS u16",
      s"(ts_min - $t0) * 65535 DIV ${math.max(t1 - t0, 1L)} AS t16")
    ev.repartitionByRange(files, col("ts_min"))
      .sortWithinPartitions("ts_min")
      .write.mode("overwrite").parquet(s"$out/ts_sorted")
    ev.selectExpr("*", "zorder64(u16, t16) AS z")
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z") // the layout, not the schema, carries the clustering
      .write.mode("overwrite").parquet(s"$out/zordered")
    def scanRows(path: String, pred: org.apache.spark.sql.Column): Long = {
      val q = spark.read.parquet(path).filter(pred)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      scan.metrics("numOutputRows").value
    }
    // both slices are fractions of the corpus DOMAIN, so the demo holds
    // at any scale factor: 1/16 of the time span, and the middle 1/16 of
    // the user range (≥ 1 user wide)
    val timeSlice = col("ts_min").between(t0, t0 + math.max((t1 - t0) / 16L, 1L))
    val uMid = u0 + (u1 - u0) / 2
    val userSlice = col("user_id")
      .between(uMid, uMid + math.max((u1 - u0) / 16L, 1L))
    ZSkip(
      scanRows(s"$out/ts_sorted", timeSlice), scanRows(s"$out/zordered", timeSlice),
      scanRows(s"$out/ts_sorted", userSlice), scanRows(s"$out/zordered", userSlice),
      evRaw.count())
  }
}
