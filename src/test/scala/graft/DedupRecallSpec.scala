package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.text.TextOps

/** Banding recall of the 8-hash 4×2 MinHash-LSH as an ASSERTED curve,
  * not bench prose — the dedup twin of IvfRecallSpec's argument.
  *
  * The driver corpus's true near-dup pairs all sit at Jaccard ≥ 0.8
  * (BENCH.md's r15 measurement reads 1.0 recall there, theory ≥ 0.99),
  * which never exercises the curve where it bends. This spec constructs
  * pairs with CONTROLLED shingle Jaccard — a shared token prefix P plus per-side
  * unique suffixes of length q gives exactly (|P|−2)/(|P|+2q−2) shared
  * 3-shingles — and asserts the measured band-collision rate tracks
  * the classic 1−(1−J²)⁴ within sampling noise at every level. A
  * banding bug that silently dropped a band (or hashed bands
  * degenerately) would shift the whole curve and fail here while every
  * exactness gate stayed green.
  */
class DedupRecallSpec extends SparkSpec {

  private val P = 52     // shared prefix tokens → P−2 = 50 shared shingles
  // per level. At 100 the rate's sd is ≈ 0.05 at p = 0.5, so the ±0.25
  // mid-curve tolerance sits ≈ 5σ out — across 5 levels the spurious-
  // failure odds are negligible (the r15-flagged 30-pair version left
  // the bound at ~2.7σ, a real ~2% flake rate for a deterministic-
  // looking test)
  private val PAIRS = 100

  test("LSH band-collision rate tracks 1-(1-J^2)^4 across Jaccard levels") {
    // (unique-suffix length q, resulting shingle Jaccard 50/(50+2q))
    val levels = Seq((25, 50.0 / 100), (17, 50.0 / 84), (11, 50.0 / 72),
      (6, 50.0 / 62), (3, 50.0 / 56))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Row]
    val cases = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Int)]
    var id = 0L
    for (((q, _), li) <- levels.zipWithIndex; i <- 0 until PAIRS) {
      val shared = (0 until P).map(t => s"s${li}x${i}x$t")
      val sa = (0 until q).map(t => s"a${li}x${i}x$t")
      val sb = (0 until q).map(t => s"b${li}x${i}x$t")
      docs += Row(id, (shared ++ sa).mkString(" "))
      docs += Row(id + 1, (shared ++ sb).mkString(" "))
      cases += ((id, id + 1, li))
      id += 2
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.toSeq, 4), schema)
    val hit = TextOps.minhashLshOf(spark, df)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (((_, j), li) <- levels.zipWithIndex) {
      val ofLevel = cases.filter(_._3 == li)
      val measured = ofLevel.count(c => hit((c._1, c._2))).toDouble / PAIRS
      val theory = 1.0 - math.pow(1.0 - j * j, 4)
      assert(math.abs(measured - theory) <= 0.25,
        f"level $li (J=$j%.3f): measured collision rate $measured%.3f " +
          f"vs theory $theory%.3f — banding is off")
    }
    // the top level must be essentially always-found: the regime the
    // production dedup actually relies on
    val top = cases.filter(_._3 == levels.size - 1)
    val topRate = top.count(c => hit((c._1, c._2))).toDouble / PAIRS
    assert(topRate >= 0.9, s"J≈0.89 pairs must nearly all collide, got $topRate")
  }
}
