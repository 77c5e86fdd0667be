package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.documents
import TextExprs._
import graft.Checkpoint.BarrierOps

/** Text-analysis + document-dedup operators for LLM training-data
  * pipelines, over the `documents` table: token stats, quality scoring,
  * language-ID heuristic, fingerprinting (md5 / MinHash / SimHash), exact
  * dedup, MinHash-LSH candidate pairs, shingle-Jaccard near-dup pairs.
  *
  * Each operator ships with a DuckDB oracle generated from the same
  * expression templates (TextExprs), so Spark and oracle stay bit-exact.
  *
  * Scale design: every operator is a narrow per-row projection or an
  * equi-join on a blocking key — no cross joins, no driver-side loops.
  * LSH banding turns all-pairs dedup (O(n²)) into a shuffle on band keys
  * (O(n·bands)), the standard shape for 100 TB corpora.
  */
object TextOps {

  private val T = tokens("text")
  private val SH = shingles3(T)

  private val stopwords = Seq("the", "a", "and", "of", "to")
  /** Per-language marker tokens for the n-gram/stopword language-ID
    * heuristic (deterministic; priority order en,es,de,fr,zh on ties).
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"), "es" -> Seq("el", "la"),
    "de" -> Seq("der", "und"), "fr" -> Seq("le", "les"),
    "zh" -> Seq("的", "了"))

  // ------------------------------------------------------------ queries

  def textTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).selectExpr(
      "CAST(doc_id AS BIGINT) AS doc_id",
      "lang",
      s"size(${T.spark}) AS n_tokens",
      "size(regexp_extract_all(text, '[A-Za-z0-9]+', 0)) AS n_tokens_re",
      "length(text) AS n_chars_calc",
      s"CAST(${tokenLenSum(T.spark).spark} AS DOUBLE) / CAST(size(${T.spark}) AS DOUBLE) AS media_tam_token")
      .orderBy("doc_id")

  /** Dialect-shared quality verdict: CASE ... 'boa'/'baixa'. `tok` is the
    * token-array expression in the target dialect, `pick` selects the
    * dialect side of shared templates, `size` is the array-length function
    * name (size/len). One source for q_text_quality, its oracle, and the
    * curation pipeline.
    */
  private def qualityExprIn(tok: String, pick: X => String,
                            size: String): String = {
    val stops = pick(markerCount(tok, stopwords))
    val ttr = s"CAST(${pick(distinctCount(tok))} AS DOUBLE) / CAST($size($tok) AS DOUBLE)"
    val stopRatio = s"CAST($stops AS DOUBLE) / CAST($size($tok) AS DOUBLE)"
    s"CASE WHEN $size($tok) >= 20 AND $ttr >= 0.1 AND $stopRatio <= 0.5 THEN 'boa' ELSE 'baixa' END"
  }

  /** The quality verdict over this table's token expression, for reuse by
    * the composed curation pass (CurationOps) in either dialect.
    */
  private[text] def qualityVerdict(pick: X => String, size: String): String =
    qualityExprIn(pick(T), pick, size)

  /** Same verdicts over a PRE-MATERIALIZED token column (so a composed
    * consumer can tokenize once behind a barrier instead of letting
    * CollapseProject re-derive split() inside every marker count).
    */
  private[text] def qualityVerdictOver(tok: String, pick: X => String,
                                       size: String): String =
    qualityExprIn(tok, pick, size)

  private[text] def langVerdictOver(tok: String, pick: X => String): String =
    langPredIn(tok, pick)

  private[text] def stopwordSet: Seq[String] = stopwords
  private[text] def langMarkerSet: Seq[(String, Seq[String])] = langMarkers

  /** The language argmax over PRE-COMPUTED per-language score columns
    * (`scoreCol(l)` names the column holding lang l's marker count).
    * Same priority fold as langPredIn — but each score is read, not
    * re-derived, so a composed consumer evaluates every markerCount
    * exactly once instead of once per CASE branch.
    */
  private[text] def langPredOverScores(scoreCol: String => String): String = {
    val scores = langMarkers.map { case (l, _) => l -> scoreCol(l) }
    val allZero = scores.map(_._2).mkString(" + ") + " = 0"
    scores.foldRight("'unknown'") { case ((l, e), rest) =>
      val geAll = scores.filter(_._1 != l).map { case (_, e2) => s"$e >= $e2" }
        .mkString(" AND ")
      s"CASE WHEN NOT ($allZero) AND $geAll THEN '$l' ELSE $rest END"
    }
  }

  /** The quality verdict over PRE-COMPUTED count columns (token count,
    * distinct-token count, stopword count) — same rule as qualityExprIn.
    */
  private[text] def qualityFromCounts(nTok: String, nTypes: String,
                                      nStops: String): String = {
    val ttr = s"CAST($nTypes AS DOUBLE) / CAST($nTok AS DOUBLE)"
    val stopRatio = s"CAST($nStops AS DOUBLE) / CAST($nTok AS DOUBLE)"
    s"CASE WHEN $nTok >= 20 AND $ttr >= 0.1 AND $stopRatio <= 0.5 THEN 'boa' ELSE 'baixa' END"
  }

  /** The language verdict over this table's token expression (CurationOps
    * reuse hook).
    */
  private[text] def langVerdict(pick: X => String): String =
    langPredIn(pick(T), pick)

  /** Dialect-shared language verdict (priority-ordered marker argmax). */
  private def langPredIn(tok: String, pick: X => String): String = {
    val scores = langMarkers.map { case (l, ms) => l -> pick(markerCount(tok, ms)) }
    val allZero = scores.map(_._2).mkString(" + ") + " = 0"
    scores.foldRight("'unknown'") { case ((l, e), rest) =>
      val geAll = scores.filter(_._1 != l).map { case (_, e2) => s"$e >= $e2" }
        .mkString(" AND ")
      s"CASE WHEN NOT ($allZero) AND $geAll THEN '$l' ELSE $rest END"
    }
  }

  def textQuality(s: SparkSession, d: String): DataFrame = {
    val stops = markerCount(T.spark, stopwords).spark
    val ttr = s"CAST(${distinctCount(T.spark).spark} AS DOUBLE) / CAST(size(${T.spark}) AS DOUBLE)"
    val stopRatio = s"CAST($stops AS DOUBLE) / CAST(size(${T.spark}) AS DOUBLE)"
    documents(s, d).selectExpr(
      "CAST(doc_id AS BIGINT) AS doc_id",
      s"size(${T.spark}) AS n_tokens",
      s"$stopRatio AS razao_stopwords",
      s"$ttr AS razao_tipo_token",
      "CAST(length(regexp_replace(text, '[^0-9]', '')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS razao_digitos",
      s"${qualityExprIn(T.spark, _.spark, "size")} AS qualidade")
      .orderBy("doc_id")
  }

  /** Gopher-style rule-based quality gate (the Rae et al. 2021 §A1.1
    * rule family, thresholds re-tuned so every rule discriminates on this
    * corpus): per-document signals, one 0/1 verdict per rule, and the
    * composite keep decision. Complements q_text_quality (TTR/stopword
    * verdict) and q_text_repetition (dup-token/-trigram rules) — the three
    * together cover the standard pre-training text-filter battery.
    * Scale shape: zero-shuffle narrow projection — every signal is a
    * per-row array fold, so the whole gate is a map over the corpus scan
    * at 100 TB (plus one final sort that exists only for the gate's
    * deterministic output order).
    */
  private def gopherCols(pick: X => String, size: String): Seq[String] =
    gopherColsOf(pick(T), pick, size)

  /** [[gopherCols]] over an arbitrary (already-tokenized) token
    * expression — the hook the one-pass curation funnel uses to evaluate
    * the gopher battery from a materialized `toks` column in the SAME
    * scan as the other signal gates. The rule strings are built from one
    * body, so the one-pass form and the gated q_quality_gopher cannot
    * drift.
    */
  private[text] def gopherColsOf(tok: String, pick: X => String,
      size: String): Seq[String] = {
    val n = s"$size($tok)"
    val mean = s"CAST(${pick(tokenLenSum(tok))} AS DOUBLE) / CAST($n AS DOUBLE)"
    val alpha = s"CAST(${pick(regexCount(tok, "[A-Za-z]"))} AS DOUBLE) / CAST($n AS DOUBLE)"
    val stops = pick(markerCount(tok, stopwords))
    val digit = s"CAST(${pick(regexCount(tok, "^[0-9]+$"))} AS DOUBLE) / CAST($n AS DOUBLE)"
    // every comparison is over exact-integer-derived doubles (same two
    // ints divided in both engines), so rule verdicts cannot drift.
    // Empty docs: mean/alpha/digit are 0/0 = NaN (identically in both
    // engines), but the VERDICT never depends on them — r_n_tokens
    // (0 BETWEEN 15 AND 10000 = false) already discards a zero-token doc
    // deterministically, so the drop is by rule, not by NaN side effect
    // (the same deliberateness the r9 taxa_oov guard makes explicit).
    val rules = gopherRules(tok, pick, size)
    Seq(
      "CAST(doc_id AS BIGINT) AS doc_id",
      s"CAST($n AS INTEGER) AS n_tokens",
      s"$mean AS tam_medio_token",
      s"$alpha AS frac_alfa",
      s"CAST($stops AS INTEGER) AS n_stopwords",
      s"$digit AS frac_digitos") ++
      rules.map { case (nm, c) =>
        s"CAST(CASE WHEN $c THEN 1 ELSE 0 END AS INTEGER) AS $nm" } :+
      s"${gopherVerdictOf(tok, pick, size)} AS decisao"
  }

  private def gopherRules(tok: String, pick: X => String,
      size: String): Seq[(String, String)] = {
    val n = s"$size($tok)"
    val mean = s"CAST(${pick(tokenLenSum(tok))} AS DOUBLE) / CAST($n AS DOUBLE)"
    val alpha = s"CAST(${pick(regexCount(tok, "[A-Za-z]"))} AS DOUBLE) / CAST($n AS DOUBLE)"
    val stops = pick(markerCount(tok, stopwords))
    val digit = s"CAST(${pick(regexCount(tok, "^[0-9]+$"))} AS DOUBLE) / CAST($n AS DOUBLE)"
    Seq(
      "r_n_tokens" -> s"$n BETWEEN 15 AND 10000",
      "r_tam_medio" -> s"$mean BETWEEN 3.0 AND 4.8",
      "r_alfa" -> s"$alpha >= 0.8",
      "r_stopwords" -> s"$stops >= 2",
      "r_digitos" -> s"$digit <= 0.2")
  }

  /** Just the composite gopher keep/drop verdict over a token expression
    * — what the one-pass curation funnel projects alongside the other
    * signal verdicts.
    */
  private[text] def gopherVerdictOf(tok: String, pick: X => String,
      size: String): String =
    s"CASE WHEN ${gopherRules(tok, pick, size).map(r => s"(${r._2})").mkString(" AND ")} " +
      "THEN 'mantem' ELSE 'descarta' END"

  def qualityGopher(s: SparkSession, d: String): DataFrame =
    documents(s, d).selectExpr(gopherCols(_.spark, "size"): _*).orderBy("doc_id")

  private[text] def gopherOracle: String =
    s"SELECT ${gopherCols(_.duck, "len").mkString(",\n")}\nFROM documents ORDER BY doc_id"

  /** Planted decomposed suffix for the NFC gate: 'e' + combining acute
    * and 'a' + combining ring — NFC composes both (é, å), shortening the
    * text by exactly 2 codepoints. One Scala constant feeds both dialect
    * templates, so the planted bytes cannot drift.
    */
  private val nfcPlant = " café å"

  /** Unicode NFC normalization — the canonical first step of a tokenizer
    * pipeline (composed and decomposed spellings of one grapheme must
    * hash/dedup as one). The corpus carries no decomposed sequences, so
    * each doc gets [[nfcPlant]] appended first (the same planted-input
    * device as the PII redaction gate). The gate hashes the FULL
    * normalized text: the native java.text.Normalizer kernel must agree
    * with DuckDB's nfc_normalize byte-for-byte, which both do by
    * implementing the same Unicode standard. Zero-shuffle per-row map.
    */
  def textNfc(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id",
        s"concat(text, '$nfcPlant') AS p")
      .selectExpr("doc_id", "length(p) AS n_antes",
        "nfc_normalize(p) AS texto_nfc")
      .selectExpr("doc_id", "n_antes", "length(texto_nfc) AS n_depois",
        "texto_nfc")
      .orderBy("doc_id")
  }

  private def textNfcOracle: String =
    s"""SELECT doc_id, n_antes, CAST(length(texto_nfc) AS INTEGER) AS n_depois, texto_nfc FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(length(p) AS INTEGER) AS n_antes, nfc_normalize(p) AS texto_nfc
  FROM (SELECT doc_id, concat(text, '$nfcPlant') AS p FROM documents))
ORDER BY doc_id"""

  def langId(s: SparkSession, d: String): DataFrame = {
    val scores = langMarkers.map { case (l, ms) => l -> markerCount(T.spark, ms).spark }
    val scoreCols = scores.map { case (l, e) => s"$e AS score_$l" }
    val pred = langPredIn(T.spark, _.spark)
    documents(s, d).selectExpr(
      Seq("CAST(doc_id AS BIGINT) AS doc_id", "lang") ++ scoreCols ++
        Seq(s"$pred AS lang_pred",
          s"CASE WHEN ($pred) = lang THEN 1 ELSE 0 END AS acerto"): _*)
      .orderBy("doc_id")
  }

  /** Fingerprints via the native one-pass MinHashes kernel
    * (graft.functions.MinHashes — codegen'd, same (h1+i·h2) mod p family
    * as the SQL template, so the DuckDB oracle still matches bit-exact).
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text",
        s"${md5List(SH.spark).spark} AS hs", s"${T.spark} AS toks")
      .selectExpr(
        "doc_id",
        "md5(text) AS hash_exato",
        "md5(lower(trim(text))) AS hash_norm",
        "element_at(minhashes(hs, 2), 1) AS minhash_0",
        "element_at(minhashes(hs, 2), 2) AS minhash_1",
        s"${simhash16("toks").spark} AS simhash")
      .orderBy("doc_id")
  }

  /** Content-defined chunking via a Rabin-Karp rolling hash: boundary
    * positions where the windowed hash ≡ 0 (mod 32) — the dedup primitive
    * that survives insertions/deletions (boundaries realign after an edit,
    * unlike fixed-size blocks). Emits the boundary list and per-doc chunk
    * stats. (Docs are guaranteed ≥ window size; Spark's sequence() counts
    * down below that.)
    */
  def textChunks(s: SparkSession, d: String): DataFrame = {
    val rb = rollingHashBoundaries("text")
    documents(s, d).selectExpr(
      "CAST(doc_id AS BIGINT) AS doc_id",
      s"size(${rb.spark}) AS n_bordas",
      s"array_join(${rb.spark}, ',') AS bordas",
      s"CAST(length(text) AS DOUBLE) / CAST(size(${rb.spark}) + 1 AS DOUBLE) AS tam_medio_bloco")
      .orderBy("doc_id")
  }

  def dedupExact(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text")).as("hash"))
      .agg(min(col("doc_id")).cast("long").as("doc_mantido"),
        count(lit(1)).as("n_copias"))
      .orderBy("hash")

  /** MinHash-LSH candidate pairs: 8-function signature via the native
    * one-pass MinHashes kernel → 4 bands of 2 → equi-join on
    * (band_idx, band_key). The join key is the band hash, so the shuffle
    * is O(docs × 4) rows regardless of corpus size.
    *
    * The signature stage is MATERIALIZED (eager graft.Checkpoint barrier): it feeds
    * BOTH sides of the self-join (self-joins get no subplan reuse) and the
    * barrier stops CollapseProject from inlining the digest pipeline into
    * each band expression (measured 48 s → 2 s at sf0.1 before the native
    * kernel). Unlike a session-lifetime cache(), checkpoint blocks carry no
    * CacheManager pin — the ContextCleaner frees them once the result
    * DataFrame is unreachable, so a long-running service can call this
    * builder repeatedly without accreting pinned storage. At cluster scale
    * the same barrier is a persisted signature table.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshOf(s, documents(s, d))

  /** [[minhashLsh]] over an arbitrary (doc_id, text, …) relation — the
    * composition hook the curation pipeline uses to run near-dup detection
    * on an already-filtered corpus.
    */
  /** The 4 LSH band keys from an 8-minhash signature column `mh`.
    * '_' separator between the two signature halves: decimal concatenation
    * without one is ambiguous ((1,23) and (12,3) both read "123"), which
    * would let distinct signatures collide into one band key and produce
    * spurious candidate pairs. The oracle uses the same separator. Shared
    * with the STREAMED dedup (graft.streaming.Streams.dedupMinhashStreamed)
    * so the incremental index can never use different band keys.
    */
  private[graft] val lshBandsExpr: String = (0 until 4)
    .map(j => s"md5(concat(element_at(mh, ${2 * j + 1}), '_', element_at(mh, ${2 * j + 2})))")
    .mkString("array(", ", ", ")")

  /** SimHash64 pigeonhole band key j (0..bands−1) over a BIGINT signature
    * column `sig`: the shift/mask template shared by the batch band join
    * ([[simhashPairs64]]), its streamed twin
    * (graft.streaming.Streams.dedupSimhashStreamed), and mirrored by the
    * DuckDB oracle — one source so the three can never band differently.
    * Band j covers bit range [64j/bands, 64(j+1)/bands) from the MSB
    * (integer splits, so widths differ by at most one bit when bands ∤ 64);
    * the default 4 bands reproduce the 16-bit keys exactly.
    */
  private[graft] def simhashBandExpr(sig: String, j: Int, bands: Int = 4): String = {
    val lo = 64 * j / bands
    val hi = 64 * (j + 1) / bands
    val mask = (1L << (hi - lo)) - 1
    s"shiftright($sig, ${64 - hi}) & $mask"
  }

  private[graft] def minhashLshOf(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bands = lshBandsExpr
    val sigs = docs
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS toks")
      .selectExpr("doc_id", "shingle_minhashes(toks, 3, 8) AS mh")
      .barrier()
    val base = sigs
      .selectExpr("doc_id", s"$bands AS bands")
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "bkey")))
    val a = base.toDF("doc_a", "band_idx", "bkey")
    val b = base.toDF("doc_b", "band_idx", "bkey")
    a.join(b, Seq("band_idx", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash near-dup pairs. Signature comes from the one-pass
    * native kernel (graft.functions.SimHash64, a BIGINT); candidates from
    * 4 pigeonhole bands of 16 bits (hamming ≤ 3 differences spread over 4
    * bands must leave one band untouched, so the union of four band
    * equi-joins is complete). Band j's key is the plain shift+mask
    * `(sig >> 16·(3−j)) & 0xFFFF` and exact hamming is
    * `bit_count(sig_a ^ sig_b)` — integer codegen all the way, an
    * order-of-magnitude constant-factor cut over the r7 bit-string form
    * (16-char substring keys, 64 per-position compares). Scale shape: a
    * 16-bit band key has 2¹⁶ values, so band-join fan-out stays
    * proportional to true near-dup density instead of degenerating to
    * ~N²/32 candidate pairs the way a 5-6-bit chunk key would (the retired
    * 16-bit signature's failure mode).
    *
    * Regime bound, stated for the 100 TB design review: random band
    * collisions contribute ~4·N²/2¹⁷ candidate pairs, which stays below
    * the true-near-dup term while N ≪ 2¹⁶ × (docs per true cluster) —
    * comfortably so for corpora up to ~10⁸ docs. The band layout IS
    * parameterized: `maxHamming` sets the band count (h+1 pigeonhole
    * bands of ~64/(h+1) bits, spec-verified against brute force at h=5),
    * which is also the knob for the 10⁹+ regime; the 4×16 default is the
    * right point for the corpus sizes the rest of this engine's defaults
    * (8-function MinHash, 4×2 LSH bands) are tuned for.
    */
  def simhashPairs64(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // the multi-index pigeonhole rule: maxHamming differences spread over
    // maxHamming+1 bands must leave one band untouched, so band count
    // follows the threshold (default 3 → the 4×16-bit layout)
    val bands = maxHamming + 1
    val base = documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS toks")
      .selectExpr("doc_id", "simhash64(toks) AS sig")
      .barrier() // feeds all band joins; also stops digest re-compute
    val cands = (0 until bands).map { j =>
      val blocked = base.selectExpr("doc_id", "sig",
        s"${simhashBandExpr("sig", j, bands)} AS chave")
      val a = blocked.toDF("doc_a", "sig_a", "chave")
      val b = blocked.toDF("doc_b", "sig_b", "chave")
      a.join(b, Seq("chave")).filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
    }.reduce(_ unionAll _).distinct()
    cands
      .withColumn("hamming", expr("CAST(bit_count(sig_a ^ sig_b) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT SUBSTRING (passage) dedup — the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" operator, in its
    * distributed rolling-window form: every k-token window is
    * content-hashed; a window whose hash occurs ≥ 2 times anywhere in the
    * corpus (cross-document OR self-repetition) is flagged; per document,
    * flagged windows whose coverage overlaps or touches are merged into
    * maximal duplicated SPANS (gaps-and-islands over window positions).
    * Output: one row per (doc, span) with its 1-based token range and the
    * window count that produced it — the span list a cleaning pass would
    * cut.
    *
    * Scale shape: the window explode is O(total tokens) rows carrying
    * (pos, 60-bit hash) only — the token arrays themselves never leave
    * the first projection (suffix arrays beat this on one machine; at
    * corpus scale the hash-window shuffle IS the standard form). Dup
    * detection is a grouped count on the content hash (uniform key space
    * — md5 — so no skew), the flag join is an equi-join on that hash, and
    * the span merge is a per-document window function bounded by the
    * document's own length. Everything is linear in corpus size.
    */
  /** The (doc_id, pos, h) rolling-window relation both passage operators
    * share: one row per k-token window, carrying its 1-based position and
    * content hash only — the token arrays never leave the first
    * projection.
    */
  private def passageWindows(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // one-pass native kernel: window → md5 → 60-bit BIGINT identity
    // (position-aligned). The hash is the SHUFFLE KEY of both downstream
    // passes — 8 bytes instead of a 32-char hex string, the same
    // constant-factor discipline as shingle_hashes/simhash64
    documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS toks")
      .filter(expr(s"size(toks) >= $k"))
      .selectExpr("doc_id", s"window_hashes(toks, $k) AS whs")
      .select(col("doc_id"), posexplode(col("whs")).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("int").as("pos"), col("h"))
  }

  /** Exact repeated-substring MATCH PAIRS across documents — the
    * ExactSubstr pass of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed Spark-first: every
    * maximal token run of length ≥ k shared verbatim by two documents,
    * as (doc_a, doc_b, pos_a, pos_b, n_tokens) with doc_a < doc_b.
    *
    * Where the paper builds a corpus-wide suffix array (a global sort),
    * this uses k-token ANCHOR matches chained along the pos_a − pos_b
    * DIAGONAL: a shared run of length L contributes an anchor match at
    * every consecutive pos_a in its range, so a maximal consecutive
    * anchor chain on one diagonal IS a maximal match — the classic
    * seed-and-extend identity, with the extension itself falling out of
    * a gaps-and-islands pass instead of pointer chasing. Distinguished
    * from [[passageDedup]] (the union of duplicated windows per doc,
    * partner-agnostic): here consecutive windows must continue in the
    * SAME partner document at the SAME offset, which is what "repeated
    * substring" means.
    *
    * Scale shape: ONE equi-join shuffle on the 60-bit window hash (the
    * anchor seed — never all-pairs, never a global sort), then a window
    * over each (pair, diagonal)'s matched anchors — bounded by matched
    * volume, not corpus size. The hash stands in for window equality
    * exactly as in the passage family (the oracle applies the identical
    * hash, so the gate is structurally bit-exact; at corpus scale a
    * 60-bit collision admits a false anchor at negligible rate).
    *
    * HOT-ANCHOR CAP (`maxAnchorFreq`): the anchor self-join's one skew
    * exposure is a window hash occurring f times corpus-wide — it lands
    * f rows on ONE shuffle key and fans out O(f²) pairs (a templated
    * 8-token boilerplate phrase in 10⁵ docs would make a 10¹⁰-pair
    * bucket — quadratic blow-up on exactly the key the operator exists
    * to find; Lee et al.'s suffix array is linear there). A pre-pass
    * therefore DROPS windows whose corpus-wide hash frequency exceeds
    * the cap before either join side forms, bounding every bucket at
    * cap² pairs. The frequency count is a map-combined groupBy (the hot
    * key collapses to one partial per input partition — no hot task),
    * and the semi-join filter lands on the same h partitioning the
    * anchor join reuses. Spec-pinned semantics: a maximal run loses the
    * anchors whose windows are capped, so a run carried ONLY by
    * over-cap windows vanishes and a run straddling one splits at the
    * capped positions — ultra-hot boilerplate degrades to the passage
    * family's partner-agnostic treatment rather than detonating the
    * shuffle. The oracle applies the identical cap, so the gate stays
    * bit-exact; the default sits far above any frequency in the gated
    * corpora (capped ≡ uncapped there) while bounding the worst-case
    * bucket at ~256k pairs.
    */
  def substringDedup(s: SparkSession, d: String, k: Int = 8,
      maxAnchorFreq: Int = 512): DataFrame =
    substringPairsOf(graft.Checkpoint.barrier(passageWindows(s, d, k)),
        k, maxAnchorFreq)
      .orderBy("doc_a", "doc_b", "pos_a", "pos_b")

  /** The capped seed-and-extend pair derivation over any (doc_id, pos,
    * h) window relation — shared by the gate form, the skew probe, and
    * the span-removal operator (which must cut exactly the spans the
    * pair list reports).
    */
  private[graft] def substringPairsOf(g0: DataFrame, k: Int,
      maxAnchorFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ok = g0.groupBy("h").agg(count(lit(1)).as("freq"))
      .filter(col("freq") <= maxAnchorFreq).select("h")
    val g = g0.join(ok, Seq("h"), "left_semi")
    val a = g.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("h"))
    val b = g.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("h"))
    val anchors = a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val byDiag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    anchors
      .withColumn("grp", col("pos_a") - row_number().over(byDiag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("pos_a").as("pa"), min("pos_b").as("pb"),
        (count(lit(1)) + (k - 1)).as("n_tokens"))
      .selectExpr("doc_a", "doc_b", "CAST(pa AS INTEGER) AS pos_a",
        "CAST(pb AS INTEGER) AS pos_b", "CAST(n_tokens AS INTEGER) AS n_tokens")
  }

  /** Exact-substring span REMOVAL — the user-facing product of the
    * ExactSubstr family: the corpus rewritten with every cross-document
    * repeated token run ≥ k CUT, keep-one policy. [[substringDedup]]
    * lists the match pairs; this operator applies them: each pair's
    * doc_b-side span (the occurrence in the LATER document) is removed,
    * and since pairs are emitted for every (earlier, later) doc
    * combination sharing a run — exact-match equality is transitive, so
    * every non-earliest occurrence pairs directly with the corpus-
    * earliest one — cutting all doc_b coverage keeps exactly the
    * earliest document's copy. Output mirrors [[passageClean]]:
    * (doc_id, n_tokens, n_mantidos, texto_limpo), every input document
    * present, untouched docs passing through verbatim. Within-document
    * repetitions are out of scope here (the pair list is strictly
    * cross-document); [[passageClean]] covers those partner-agnostic.
    *
    * Scale shape: the pair derivation's capped anchor join, a cut-
    * coverage explode bounded by duplicated volume ×k, and the same
    * token-level anti-join rebuild as the passage cut — all keyed on
    * doc or hash, never all-pairs.
    */
  def substringRemoved(s: SparkSession, d: String, k: Int = 8,
      maxAnchorFreq: Int = 512): DataFrame = {
    val cut = substringPairsOf(graft.Checkpoint.barrier(passageWindows(s, d, k)),
        k, maxAnchorFreq)
      .select(col("doc_b").as("doc_id"),
        explode(expr("sequence(pos_b, pos_b + n_tokens - 1)")).as("i"))
      .distinct()
    rebuildWithoutCut(s, d, cut)
  }

  /** FULL-COVERAGE span removal — [[substringRemoved]] composed with
    * the passage-family treatment of the windows the anchor cap drops.
    * The cap's pinned semantics exclude over-cap (ultra-hot) windows
    * from the exact pair path to bound the anchor join at cap² pairs —
    * but at corpus scale those are exactly the templated boilerplate a
    * user most wants cut. Composition: under-cap runs cut through the
    * pair list's keep-earliest rule (doc_b-side spans), over-cap
    * windows cut PARTNER-AGNOSTICALLY through [[passageClean]]'s
    * ownership rule (the first (doc_id, pos) occurrence of each hash
    * keeps its copy, every other occurrence's k-token coverage is
    * removed), coverages merged before the shared rebuild.
    *
    * Scale shape: the hot path replaces the f²-pair detonation with ONE
    * row_number window over the hot hash's f occurrences — linear in
    * duplicated volume, the degradation the cap was designed to buy —
    * while keep-one coverage is preserved for BOTH regimes. The probe
    * row (`dedup_substring_hot_removed`, 10⁴-duplicated phrase) prices
    * it; the gate pins the composition bit-exactly at a cap low enough
    * that the sf0.01 corpus genuinely exercises both paths.
    */
  def substringRemovedHot(s: SparkSession, d: String, k: Int = 8,
      maxAnchorFreq: Int = 512): DataFrame = {
    // the window projection (tokenize + per-window md5) feeds FOUR
    // subtrees here (pair freq-cap, anchor self-join, hotMin, hotCut) —
    // materialized once, like every fan-out frame in the engine
    val g0 = graft.Checkpoint.barrier(passageWindows(s, d, k))
    val pairCut = substringPairsOf(g0, k, maxAnchorFreq)
      .select(col("doc_b").as("doc_id"),
        explode(expr("sequence(pos_b, pos_b + n_tokens - 1)")).as("i"))
    // keep-earliest over a hot group via the group-min join, NOT a rank
    // window: the hot groups are BY DEFINITION the skewed ones (freq >
    // cap — at 100 TB a boilerplate phrase can repeat 10⁸×), and a
    // per-hash sort window materializes the whole group in one task
    // where min(struct) partial-aggregates map-side; "not the earliest
    // (doc_id, pos)" ≡ rn > 1 exactly (struct ordering is
    // lexicographic)
    val hotMin = g0.groupBy("h").agg(count(lit(1)).as("freq"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("freq") > maxAnchorFreq)
      .select("h", "keep")
    val hotCut = g0.join(hotMin, Seq("h"))
      .filter(col("doc_id") =!= col("keep.doc_id") ||
        col("pos") =!= col("keep.pos"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("i"))
    rebuildWithoutCut(s, d, pairCut.unionByName(hotCut).distinct())
  }

  /** Rebuild each document's text minus a (doc_id, i) token-coverage
    * relation — the shared cleaning tail of [[passageClean]] and
    * [[substringRemoved]]: token-level explode + anti-join + per-
    * document ordered re-aggregation, all linear and doc-keyed.
    */
  private def rebuildWithoutCut(s: SparkSession, d: String,
      cut: DataFrame): DataFrame = {
    // the token projection is read by the kept-token rebuild AND the
    // final pass-through join. NOT barriered: tokenize is a cheap
    // narrow map over an already-pruned scan, and its output (the
    // token arrays) is LARGER than its input — materializing it trades
    // one cheap recompute for a corpus-sized memory/disk copy (guide
    // §2.3: shuffle/materialize fewer bytes). Measured r21: the barrier
    // cost ~0.1-0.15 s per gate row and bought nothing.
    val toks = documents(s, d)
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS toks")
    val kept = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i0", "tok")))
      .withColumn("i", col("i0") + 1).drop("i0")
      .join(cut, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        expr("array_join(transform(array_sort(collect_list(struct(i, tok))), s -> s.tok), ' ')")
          .as("txt"))
    toks.join(kept, Seq("doc_id"), "left")
      .selectExpr("doc_id", "CAST(size(toks) AS INTEGER) AS n_tokens",
        "CAST(coalesce(n, 0) AS INTEGER) AS n_mantidos",
        "coalesce(txt, '') AS texto_limpo")
      .orderBy("doc_id")
  }

  /** [[substringDedup]]'s DuckDB twin: same hash, same hot-anchor cap,
    * same anchor join, same diagonal gaps-and-islands — re-derived from
    * the raw text.
    */
  private def substringRunsCte(k: Int, maxAnchorFreq: Int): String =
    s"""WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS toks FROM documents),
long AS (SELECT * FROM toks WHERE len(toks) >= $k),
pos AS (SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS pos, toks FROM long),
flat0 AS MATERIALIZED (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
  ('0x' || substring(md5(array_to_string(list_slice(toks, pos, pos + ${k - 1}), ' ')), 1, 15))::BIGINT AS h FROM pos),
ok AS (SELECT h FROM flat0 GROUP BY h HAVING COUNT(*) <= $maxAnchorFreq),
flat AS (SELECT f.* FROM flat0 f SEMI JOIN ok USING (h)),
anchors AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
         a.pos - b.pos AS diag
  FROM flat a JOIN flat b ON a.h = b.h AND a.doc_id < b.doc_id),
runs AS (
  SELECT doc_a, doc_b, diag, pos_a, pos_b,
         pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
  FROM anchors)"""

  private def substringOracle(k: Int = 8, maxAnchorFreq: Int = 512): String =
    s"""${substringRunsCte(k, maxAnchorFreq)}
SELECT doc_a, doc_b, CAST(MIN(pos_a) AS INTEGER) AS pos_a,
  CAST(MIN(pos_b) AS INTEGER) AS pos_b,
  CAST(COUNT(*) + ${k - 1} AS INTEGER) AS n_tokens
FROM runs GROUP BY doc_a, doc_b, diag, grp
ORDER BY doc_a, doc_b, pos_a, pos_b"""

  /** [[substringRemoved]]'s twin: the identical capped run derivation,
    * then doc_b-side coverage and the passage-clean rebuild tail.
    */
  private def substringRemovedOracle(k: Int = 8,
      maxAnchorFreq: Int = 512): String =
    s"""${substringRunsCte(k, maxAnchorFreq)},
spans AS (
  SELECT doc_b AS doc_id, CAST(MIN(pos_b) AS INTEGER) AS pb,
         CAST(COUNT(*) + ${k - 1} AS INTEGER) AS n
  FROM runs GROUP BY doc_a, doc_b, diag, grp),
cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(pb, pb + n)) AS INTEGER) AS i FROM spans),
tokix AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS INTEGER) AS i, toks FROM toks),
tok AS (SELECT doc_id, i, toks[i] AS tok FROM tokix),
kept AS (SELECT t.doc_id, t.i, t.tok FROM tok t
         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i)
SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
  CAST(coalesce(kk.n, 0) AS INTEGER) AS n_mantidos,
  coalesce(kk.txt, '') AS texto_limpo
FROM toks d LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id) kk ON d.doc_id = kk.doc_id
ORDER BY d.doc_id"""

  /** [[substringRemovedHot]]'s twin: the identical capped pair path
    * PLUS the passage-ownership cut over the over-cap windows, merged
    * coverage, same rebuild tail.
    */
  private def substringRemovedHotOracle(k: Int = 8,
      maxAnchorFreq: Int = 512): String =
    s"""${substringRunsCte(k, maxAnchorFreq)},
spans AS (
  SELECT doc_b AS doc_id, CAST(MIN(pos_b) AS INTEGER) AS pb,
         CAST(COUNT(*) + ${k - 1} AS INTEGER) AS n
  FROM runs GROUP BY doc_a, doc_b, diag, grp),
cov_pair AS (SELECT DISTINCT doc_id, CAST(unnest(range(pb, pb + n)) AS INTEGER) AS i FROM spans),
hot AS (SELECT h FROM flat0 GROUP BY h HAVING COUNT(*) > $maxAnchorFreq),
hotocc AS (SELECT doc_id, pos,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM flat0 SEMI JOIN hot USING (h)),
cov_hot AS (SELECT DISTINCT doc_id, CAST(unnest(range(pos, pos + $k)) AS INTEGER) AS i
  FROM hotocc WHERE rn > 1),
cov AS (SELECT * FROM cov_pair UNION SELECT * FROM cov_hot),
tokix AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS INTEGER) AS i, toks FROM toks),
tok AS (SELECT doc_id, i, toks[i] AS tok FROM tokix),
kept AS (SELECT t.doc_id, t.i, t.tok FROM tok t
         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i)
SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
  CAST(coalesce(kk.n, 0) AS INTEGER) AS n_mantidos,
  coalesce(kk.txt, '') AS texto_limpo
FROM toks d LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id) kk ON d.doc_id = kk.doc_id
ORDER BY d.doc_id"""

  def passageDedup(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // consumed by the dup-count aggregate AND the flag semi-join —
    // materialized so the window projection runs once. Unlike
    // passageClean (where the count action prunes the unbarriered tail
    // and the barrier loses), the island window downstream forces full
    // computation here, and the interleaved r21 A/B had the barrier
    // winning both windows (1.7-1.8 s vs 2.2-2.4 s; taskTime 1.0 vs 1.5)
    val wins = graft.Checkpoint.barrier(passageWindows(s, d, k))
    // duplicated windows flagged by a map-combined count + semi-join,
    // not a count-over-window: the window form shares the groupBy's
    // PARTITIONING but not its skew posture — it materializes each
    // hash group in one task, and the duplicated groups are exactly
    // where 10⁸×-boilerplate skew lives at 100 TB, while the partial
    // aggregate collapses a hot key map-side to one row per task
    val dupH = wins.groupBy("h").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    wins
      .join(dupH, Seq("h"), "left_semi")
      .select("doc_id", "pos")
      .withColumn("prev", lag("pos", 1).over(byPos))
      // windows at p and p' (p < p') overlap or touch iff p' − p ≤ k;
      // a larger gap starts a new island
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1).otherwise(0))
      .withColumn("ilha", sum("brk").over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "ilha")
      .agg(min("pos").as("tok_ini"), (max("pos") + (k - 1)).as("tok_fim"),
        count(lit(1)).as("n_janelas"))
      .selectExpr("doc_id", "CAST(ilha AS INTEGER) AS span_id",
        "CAST(tok_ini AS INTEGER) AS tok_ini", "CAST(tok_fim AS INTEGER) AS tok_fim",
        "n_janelas")
      .orderBy("doc_id", "span_id")
  }

  /** The DuckDB oracle for [[passageDedup]] — same window/flag/island
    * rule, but the token array is carried through the unnest (the oracle
    * need not be scale-shaped, cf. the full-index jaccard oracle).
    */
  private def passageOracle(k: Int = 8): String =
    s"""WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS toks FROM documents),
long AS (SELECT * FROM toks WHERE len(toks) >= $k),
pos AS (SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS pos, toks FROM long),
flat AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
  ('0x' || substring(md5(array_to_string(list_slice(toks, pos, pos + ${k - 1}), ' ')), 1, 15))::BIGINT AS h FROM pos),
dup AS (SELECT h FROM flat GROUP BY h HAVING COUNT(*) >= 2),
flagged AS (SELECT doc_id, pos FROM flat JOIN dup USING (h)),
marked AS (SELECT doc_id, pos,
  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $k THEN 1 ELSE 0 END AS brk
  FROM flagged),
islands AS (SELECT doc_id, pos,
  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS ilha
  FROM marked)
SELECT doc_id, CAST(ilha AS INTEGER) AS span_id, CAST(MIN(pos) AS INTEGER) AS tok_ini,
  CAST(MAX(pos) + ${k - 1} AS INTEGER) AS tok_fim, COUNT(*) AS n_janelas
FROM islands GROUP BY doc_id, ilha ORDER BY doc_id, span_id"""

  /** The CLEANING half of passage dedup — [[passageDedup]] lists the
    * duplicated spans; this operator actually cuts them, Lee et al.'s
    * "keep one occurrence" rule made deterministic: every duplicated
    * window (hash occurring ≥ 2 times corpus-wide) is OWNED by its first
    * occurrence in (doc_id, pos) order; non-owned duplicated windows have
    * their k-token coverage removed, and each document's cleaned text is
    * rebuilt from the surviving tokens in position order. Documents with
    * no cut windows (including those shorter than one window) pass
    * through untouched.
    *
    * Scale shape: ownership is one window-function pass over the same
    * content-hash partitioning the flagging uses; coverage explodes cut
    * windows ×k (bounded by duplicated volume, not corpus size); the
    * rebuild is a token-level explode + anti-join + per-document ordered
    * re-aggregation — all linear, all keyed on doc or hash.
    */
  def passageClean(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    // keep-earliest via the group-min join (see substringRemovedHot):
    // duplicated-window groups are exactly where boilerplate skew
    // lives, so the per-hash sort window (whole group in one task) is
    // replaced by a map-combinable (count, min(struct)) aggregate +
    // join-back; occ >= 2 ∧ not-the-earliest ≡ the old occ/rn filter.
    // NOT barriered: both consumers shuffle by the same key h (agg +
    // join-back), so ReusedExchange computes the window pass once at
    // SMJ scale, and at gate scale the barrier defeats pruning under
    // the count action besides its fixed localCheckpoint jobs —
    // interleaved r21 A/B: barrier 1.6 s / taskTime 0.8 s vs none
    // 0.85 s / 0.1 s, both windows
    val wins = passageWindows(s, d, k)
    val dupMin = wins.groupBy("h").agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("keep"))
      .filter(col("occ") >= 2)
      .select("h", "keep")
    val cut = wins.join(dupMin, Seq("h"))
      .filter(col("doc_id") =!= col("keep.doc_id") ||
        col("pos") =!= col("keep.pos"))
      .select(col("doc_id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("i"))
      .distinct()
    rebuildWithoutCut(s, d, cut)
  }

  private def passageCleanOracle(k: Int = 8): String =
    s"""WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS toks FROM documents),
long AS (SELECT * FROM toks WHERE len(toks) >= $k),
pos AS (SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS pos, toks FROM long),
flat AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
  ('0x' || substring(md5(array_to_string(list_slice(toks, pos, pos + ${k - 1}), ' ')), 1, 15))::BIGINT AS h FROM pos),
marked AS (SELECT doc_id, pos,
    COUNT(*) OVER (PARTITION BY h) AS occ,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM flat),
cut AS (SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1),
cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(pos, pos + $k)) AS INTEGER) AS i FROM cut),
tokix AS (SELECT doc_id, CAST(unnest(range(1, len(toks) + 1)) AS INTEGER) AS i, toks FROM toks),
tok AS (SELECT doc_id, i, toks[i] AS tok FROM tokix),
kept AS (SELECT t.doc_id, t.i, t.tok FROM tok t
         ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.i)
SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
  CAST(coalesce(kk.n, 0) AS INTEGER) AS n_mantidos,
  coalesce(kk.txt, '') AS texto_limpo
FROM toks d LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n, string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id) kk ON d.doc_id = kk.doc_id
ORDER BY d.doc_id"""

  /** Oracle for the STREAMED passage-cut form: the same cut relation
    * [[passageClean]] applies (occurrences of a ≥2× window that are not
    * its first (doc, pos) occurrence), as plain batch SQL — the streamed
    * ownership state must converge to exactly this set whatever the
    * arrival order.
    */
  private[graft] def passageCutOracle(k: Int = 8): String =
    s"""WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS toks FROM documents),
long AS (SELECT * FROM toks WHERE len(toks) >= $k),
pos AS (SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS pos, toks FROM long),
flat AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
  ('0x' || substring(md5(array_to_string(list_slice(toks, pos, pos + ${k - 1}), ' ')), 1, 15))::BIGINT AS h FROM pos),
marked AS (SELECT doc_id, pos,
    COUNT(*) OVER (PARTITION BY h) AS occ,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM flat)
SELECT doc_id, pos FROM marked WHERE occ >= 2 AND rn > 1 ORDER BY doc_id, pos"""

  /** Dedup CLUSTERS: connected components over the MinHash-LSH candidate
    * pairs via min-label propagation (Pregel-style: each doc repeatedly
    * adopts the smallest id reachable through its neighbors until
    * fixpoint). The driver loop only checks a converged-count per
    * iteration — all data work is joins/aggregations; iterations are
    * bounded by component diameter (near-dup clusters are tiny). The
    * oracle recomputes components with a DuckDB RECURSIVE CTE — an
    * entirely different algorithm that must agree.
    *
    * This is the step that turns pairwise dedup output into "keep one doc
    * per cluster" at corpus scale.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    dedupClustersOf(s, documents(s, d))

  /** [[dedupClusters]] over an arbitrary (doc_id, text, …) relation. */
  private[graft] def dedupClustersOf(s: SparkSession, docs: DataFrame): DataFrame =
    componentsOf(minhashLshOf(s, docs).select("doc_a", "doc_b"))

  /** Min-label-propagation connected components over an arbitrary
    * undirected pair list (first two columns = the edge endpoints) —
    * shared by the MinHash dedup clusters and the embedding-space
    * semantic dedup (SemDeDup), which differ only in how their edges are
    * generated. Returns (doc_id, cluster) with cluster = the component's
    * minimum id.
    */
  private[graft] def componentsOf(pairs0: DataFrame): DataFrame = {
    val s = pairs0.sparkSession
    // the union reads `pairs` twice and the pair pipeline behind it can
    // be expensive (e.g. the cell-blocked cosine join) — pin it across
    // the two reads, released once the edges cache is materialized
    val pairs = pairs0.toDF("doc_a", "doc_b").cache()
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst").cache()
    // Route by EDGE count — the same auto-routing discipline as
    // SurrogateKeys.auto. The dedup graph is bounded by near-dup DENSITY,
    // not corpus size: a few thousand edges at bench scale, and still
    // driver-collectable for most real corpora. Below the threshold a
    // driver union-find closes components in microseconds; above it the
    // distributed label-propagation loop runs (the ≥10⁶-edge regime,
    // where per-iteration stage overhead amortizes). Both routes are
    // asserted to agree (PassageBloomSpec), and the count() here also
    // materializes the edges cache both paths reuse. The default is sized
    // for DRIVER HEAP, not executor throughput: 1M collected (Long, Long)
    // tuples is ~50 MB of boxed driver memory — safe on a default driver —
    // where the previous 5M default approached a driver-OOM-shaped GB.
    val maxCollect = s.conf.getOption("graft.cc.collectMaxEdges")
      .map(_.toLong).getOrElse(1000000L)
    val ecount = edges.count() // materializes the edges cache
    pairs.unpersist()
    val out = if (ecount <= maxCollect) componentsDriver(s, edges)
              else componentsLoop(edges)
    edges.unpersist()
    out
  }

  /** Driver-side union-find (union-by-min + path compression) over a
    * collected edge list — the small-graph route of [[componentsOf]].
    * Union-by-min makes every root its component's minimum id, matching
    * the label-propagation fixpoint exactly.
    */
  private def componentsDriver(s: SparkSession,
      edges: DataFrame): DataFrame = {
    import s.implicits._
    // collect as (Long, Long) tuples, not Rows: a GenericRowWithSchema per
    // edge (object header + Array[Any] + schema pointer) roughly triples
    // the per-edge driver footprint; the typed collect deserializes to
    // plain tuples on the executors and ships exactly two longs per edge
    val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    import s.implicits._
    parent.keys.toSeq.sorted.map(d => (d, find(d)))
      .toDF("doc_id", "cluster").orderBy("doc_id")
  }

  /** Distributed min-label propagation — the at-scale route of
    * [[componentsOf]] (edges above the collect threshold).
    */
  private def componentsLoop(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("lbl", col("doc"))
    // Every iteration ends at an EAGER checkpoint barrier (see the
    // path-halving note below), so exactly one transient cache (`st`,
    // released within the iteration) exists at any time and nothing
    // accretes in the CacheManager across iterations (the round-2/3
    // hygiene finding). Barriers go through graft.Checkpoint: local
    // checkpoint by default (right at local[32] and on static
    // allocation), reliable checkpoint() when `graft.checkpoint.dir` is
    // set — the deployment switch for dynamic-allocation clusters where
    // a lost executor makes local blocks unrecoverable.
    var changed = 1L
    var iter = 0
    var prevStepped: DataFrame = null
    while (changed > 0 && iter < 25) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc"))
        .groupBy(col("src")).agg(min("lbl").as("nlbl"))
      val st = labels.join(nbrMin, labels("doc") === nbrMin("src"), "left")
        .select(col("doc"), col("lbl"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl1"))
        .cache()
      // PATH HALVING (pointer jumping): each doc also adopts its current
      // label-holder's label. Same fixpoint (neighbor-min stability alone
      // already implies component minima; the shortcut is monotone and
      // stays inside the component), but label chains collapse doubly per
      // round, so convergence is O(log diameter) iterations instead of
      // O(diameter) — the wall-clock lever for chain-shaped near-dup
      // clusters (the embedding-pair graph at sf0.1 took 10+ linear
      // rounds). The shortcut references `st` on BOTH join sides, which
      // would nest the analyzed plan exponentially across iterations
      // (2^i subtrees — at iteration ~10 merely rendering the cache name
      // string OOMed the driver), so each iteration ends at an EAGER
      // checkpoint barrier: the frontier becomes a LogicalRDD, plan size
      // stays O(1) per iteration, and the old pinned-cache/every-5-
      // barrier bookkeeping is no longer needed.
      val half = st.select(col("doc").as("ldoc"), col("lbl1").as("llbl"))
      // eager: materializes the frontier AND truncates lineage; rotating
      // out the previous round's checkpoint (its blocks fed this one and
      // are now dead) keeps exactly one frontier copy live per round
      val stepped = graft.Checkpoint.barrierReplacing(
        st.join(half, st("lbl1") === half("ldoc"), "left")
          .select(col("doc"), col("lbl"),
            least(col("lbl1"), coalesce(col("llbl"), col("lbl1"))).as("lbl2")),
        prevStepped)
      prevStepped = stepped
      changed = stepped.filter(col("lbl2") < col("lbl")).count()
      st.unpersist()
      labels = stepped.select(col("doc"), col("lbl2").as("lbl"))
      iter += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] iter=$iter changed=$changed")
    }
    // make the result self-contained, then release the loop's working set:
    // after this checkpoint neither `edges` nor any iteration cache backs
    // the returned DataFrame, so nothing from the loop stays pinned.
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")
      .barrier()
  }

  /** END-TO-END dedup: the surviving corpus after keep-one-per-cluster —
    * the operation a training-data pipeline actually applies to its
    * documents. Keeps each near-dup cluster's canonical doc (the minimum
    * id, which IS the cluster label under min-propagation) plus every
    * unclustered singleton, with how many near-dups each survivor
    * absorbed. Scale shape: one left-anti join of the corpus against the
    * (tiny) non-canonical set + one broadcast-sized absorbed-count join —
    * the corpus is never shuffled on anything but its id.
    */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val clusters = dedupClusters(s, d) // (doc_id, cluster), self-contained
    val docs = documents(s, d).selectExpr("CAST(doc_id AS BIGINT) AS doc_id")
    val dropped = clusters.filter(col("doc_id") =!= col("cluster"))
    val absorbed = clusters.groupBy(col("cluster").as("doc_id"))
      .agg((count(lit(1)) - 1).as("n_absorbed"))
    docs.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(absorbed, Seq("doc_id"), "left")
      .na.fill(0, Seq("n_absorbed"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-SAFE train/val/test split — the assignment a training-data
    * pipeline must make AFTER near-dup detection: the unit of assignment
    * is the near-dup CLUSTER, not the document, so two near-duplicates
    * can never straddle train and eval (the eval-contamination leak a
    * doc-level random split creates at a rate proportional to dup
    * density — exactly the leak [[graft.text.CurationOps.decontaminate]]
    * detects after the fact; this operator prevents it by construction).
    * Deterministic, seedless: the split is a pure function of the
    * canonical id (md5 → 60-bit int → mod 10: 0-7 train, 8 val, 9
    * test), so re-runs and incremental arrivals assign identically and
    * the ~80/10/10 proportions follow from hash uniformity.
    *
    * Scale shape: cluster labels come from the banded LSH pipeline
    * (never all-pairs, bounded by near-dup density); the split itself
    * is one left join of corpus ids against the label table plus a
    * per-row hash — no shuffle beyond the label join, no RNG state.
    */
  def splitLeakageSafe(s: SparkSession, d: String): DataFrame =
    splitAssign(documents(s, d).selectExpr("CAST(doc_id AS BIGINT) AS doc_id"),
      dedupClusters(s, d))

  /** The assignment tail shared by the batch form and the streamed twin
    * (whose cluster labels come from the incrementally-maintained band
    * index) — one kernel, so the two forms cannot drift.
    */
  private[graft] def splitAssign(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(clusters, Seq("doc_id"), "left")
      // singletons are their own cluster — same rule as min-propagation
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("bucket",
        expr(s"${hash60("CAST(cluster AS STRING)").spark} % 10"))
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select("doc_id", "cluster", "split")
      .orderBy("doc_id")

  /** The leakage-safe-split oracle body over the shared recursive
    * components CTEs — one definition for the batch gate and the
    * streamed twin.
    */
  private def splitOracle(clusterCtes: String): String =
    s"""WITH RECURSIVE $clusterCtes,
labels AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc),
assigned AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         CAST(coalesce(l.cluster, d.doc_id) AS BIGINT) AS cluster
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
bucketed AS (
  SELECT doc_id, cluster,
         ${hash60("CAST(cluster AS VARCHAR)").duck} % 10 AS bucket
  FROM assigned)
SELECT doc_id, cluster,
       CASE WHEN bucket <= 7 THEN 'train'
            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
FROM bucketed ORDER BY doc_id"""

  /** Near-duplicate pairs by exact 3-shingle Jaccard, blocked on
    * (lang, token-count bucket), as a PREFIX-FILTERED set-similarity join
    * (Bayardo/Chaudhuri SSJoin):
    *
    *  1. Candidate generation indexes only each doc's PREFIX — the first
    *     n − ⌈t·n⌉ + 1 shingles in a global rarest-first (df asc, id asc)
    *     order. The prefix-filter theorem guarantees two sets with
    *     Jaccard ≥ t overlap inside their prefixes, so no qualifying pair
    *     is lost; corpus-frequent shingles sort LAST and fall outside most
    *     prefixes, which is what prevents a common shingle's df² pair
    *     blowup at a single shuffle key (the r6 scale objection).
    *  2. Verification computes |A∩B| EXACTLY per candidate with a linear
    *     merge over the sorted shingle arrays (native SortedInterCount
    *     kernel) — candidates only, so the per-pair scan is bounded by
    *     true near-dup density, and the emitted jaccard value is the same
    *     exact integers-ratio as the full inverted-index form (the DuckDB
    *     oracle, which still builds the full index, must agree bit-exact).
    */
  def jaccardPairs(s: SparkSession, d: String,
      threshold: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    // barrier: feeds the index build AND the verification join (an eager
    // graft.Checkpoint barrier rather than cache() so nothing stays pinned
    // in the CacheManager after the caller's action).
    val base = documents(s, d).selectExpr(
      "CAST(doc_id AS BIGINT) AS doc_id", "lang", s"${T.spark} AS toks")
      .selectExpr("doc_id", "lang",
        "shingle_hashes(toks, 3) AS shd", // sorted long identities
        "CAST(floor(size(toks) / 20) AS INT) AS bucket")
      .withColumn("n", size(col("shd")))
      .barrier()
    val ex = base.select(col("doc_id"), col("lang"), col("bucket"), col("n"),
      explode(col("shd")).as("s"))
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    // per-doc prefix length under Jaccard threshold t; the ranking window
    // is bounded by the doc's own vocabulary (corpus-independent)
    val prefLen = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    val idx = ex.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(asc("df"), asc("s"))))
      .filter(col("rk") <= prefLen)
      .select("doc_id", "lang", "bucket", "s")
      .barrier() // feeds both sides of the candidate self-join
    val a = idx.toDF("doc_a", "lang", "bucket", "s")
    val b = idx.toDF("doc_b", "lang", "bucket", "s")
    // the (size/20) bucket block is the GATE's definition (mirrored by
    // its oracle) and drops cross-bucket pairs whose sizes straddle a
    // boundary
    val cands = a.join(b, Seq("s", "lang", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val fa = base.select(col("doc_id").as("doc_a"),
      col("shd").as("shd_a"), col("n").as("n_a"))
    val fb = base.select(col("doc_id").as("doc_b"),
      col("shd").as("shd_b"), col("n").as("n_b"))
    cands.join(fa, Seq("doc_a")).join(fb, Seq("doc_b"))
      .withColumn("inter", graft.functions.GraftFunctions
        .sorted_inter_count(col("shd_a"), col("shd_b")).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** TF-IDF keyword extraction: top-5 terms per document by
    * (tf/len)·(N/df) weight — the rational-idf form, chosen over log-idf
    * because every weight derives from four integers with one fixed
    * expression (division/multiplication only, no double SUMMATION
    * anywhere), so the score is bit-exact cross-engine; log()'s last ulp
    * differs between engines and would leave this rows-only-checked.
    * Scale shape: two grouped counts (term frequency per doc, document
    * frequency per term), a broadcast scalar corpus count, one equi-join
    * on term, and a per-doc ranking window bounded by the doc's own
    * vocabulary (corpus-independent).
    */
  /** Shared TF-IDF weight inputs: (doc_id, term, tf, len, df, n) — one
    * pipeline feeding both the keyword and the cosine surfaces so the
    * tokenization/weight definition cannot drift between them.
    */
  private def tfidfParts(s: SparkSession, d: String): DataFrame =
    tfidfPartsOf(documents(s, d))

  private def tfidfPartsOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", s"${T.spark} AS t")
    val ex = toks.select(col("doc_id"), size(col("t")).as("len"),
      explode(col("t")).as("term"))
    val tf = ex.groupBy("doc_id", "term", "len").agg(count(lit(1)).as("tf"))
    val df = ex.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = toks.agg(count(lit(1)).as("n"))
    tf.join(df, Seq("term")).crossJoin(broadcast(n))
  }

  /** The rational-idf weight: (tf/len)·(N/df). */
  private def tfidfWeight =
    (col("tf").cast("double") / col("len").cast("double")) *
      (col("n").cast("double") / col("df").cast("double"))

  def tfidfKeywords(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    tfidfParts(s, d)
      .withColumn("w", tfidfWeight)
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("w"), asc("term"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf").cast("int").as("tf"),
        col("df").cast("int").as("df"), col("w"),
        col("rank").cast("int").as("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Pairwise document cosine similarity in the TF-IDF space — the
    * relevance-based near-dup detector (catches rewordings that share
    * vocabulary but few exact shingles). High-df terms (df > N/10) are
    * pruned first: standard TF-IDF practice, and what keeps the inverted
    * index join from degenerating into all-pairs via stopwords — the
    * candidate set is bounded by rare-term co-occurrence.
    *
    * Cross-engine exactness for the two double SUMS (per-doc norm², per-
    * pair dot): both are folded LEFT-TO-RIGHT over term-sorted lists
    * (collect → sort_array → aggregate in Spark; list(... ORDER BY term)
    * → list_sum in DuckDB — the same proven-bit-exact fold pair as the
    * embedding dot template). A plain SUM() over doubles would be
    * partial-aggregation-order dependent and could never hash-match.
    */
  def tfidfCosinePairs(s: SparkSession, d: String, threshold: Double = 0.3): DataFrame =
    tfidfCosinePairsOf(s, documents(s, d), threshold)

  /** The same pairs path over an EXPLICIT (doc_id, text) source — the
    * staged/generated-corpus forms (the Zipf gate, the scale probe)
    * share every operator stage with the table form.
    */
  private[graft] def tfidfCosinePairsOf(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.3): DataFrame = {
    // ONE weights pass (tokenize + tf-idf parts) and ONE norms aggregate
    // shared by the candidate generator and the exact verify — the
    // composed form previously materialized each stage's own copy
    val weights = tfidfCosineWeightsOf(docs)
    val norms = tfidfNorms(weights).barrier()
    tfidfCosineFinishFrom(s,
      tfidfCosineCandidatesFrom(s, weights, norms, threshold),
      weights, norms, threshold)
  }

  /** The shared capped tf-idf weight projection, materialized: the
    * expensive tokenize+parts pass every cosine stage reads.
    */
  private def tfidfCosineWeightsOf(docs: DataFrame): DataFrame =
    tfidfPartsOf(docs)
      .filter(col("df") * 10 <= col("n")) // prune df > N/10
      .select(col("doc_id"), col("term"), tfidfWeight.as("w"))
      .barrier()

  /** Candidate pairs via the ALL-PAIRS prefix filter (Bayardo, Ma &
    * Srikant 2007, "Scaling Up All Pairs Similarity Search"): the naive
    * term-blocked self-join materializes Σ df² pairs — the r17 sf1
    * rotation caught it spinning on a 50k-doc corpus where terms UNDER
    * the df ≤ N/10 stopword cap still form 10⁷-pair blocks, a genuine
    * 100 TB scale-killer. The exact fix: order terms by ascending
    * pair-potential (mx = the term's max unit weight anywhere), take
    * each doc's maximal SUFFIX whose Σ u·mx stays below the threshold —
    * a pair whose shared terms all lie in one side's suffix has
    * cos = Σ u_a·u_b ≤ Σ_suffix u_a·mx < t, so every qualifying pair
    * shares at least one PREFIX (indexed) term of each side. Only
    * prefix terms enter the blocking join; frequent terms carry low idf
    * → low mx → land in suffixes, so exactly the blocks that detonate
    * are the ones never formed. The answer is bit-identical to the
    * naive plan's (the verify pass below folds the same term-sorted
    * multiset); the candidate set is a superset of true pairs by the
    * bound above, with a 1e-9 relative slack so float rounding at the
    * boundary can never drop a true pair.
    */
  private[graft] def tfidfCosineCandidates(s: SparkSession, d: String,
      threshold: Double): DataFrame = {
    val weights = tfidfCosineWeightsOf(documents(s, d))
    tfidfCosineCandidatesFrom(s, weights, tfidfNorms(weights), threshold)
  }

  private def tfidfCosineCandidatesFrom(s: SparkSession, weights: DataFrame,
      norms: DataFrame, threshold: Double): DataFrame = {
    val unit = weights.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("term"), (col("w") / col("nrm")).as("u"))
      .barrier() // feeds mx + the ranked prefix + the probe side
    val mx = unit.groupBy("term").agg(max("u").as("mx"))
    val ranked = unit.join(mx, Seq("term"))
      .withColumn("acc", sum(col("u") * col("mx")).over(
        Window.partitionBy("doc_id").orderBy(asc("mx"), asc("term"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // SYMMETRIC indexing (the position-filter corollary): for any pair
    // with dot ≥ t, its HIGHEST-ordered shared term term* bounds the dot
    // from both sides — dot ≤ rem_x(term*) = acc_x(term*) for x ∈ {a, b}
    // since every shared term sits at-or-below term* in the order — so
    // term* must be prefix-indexed on BOTH sides and the blocking join
    // can be indexed × indexed, squaring the reduction (indexed × full
    // still spilled 11 GB on the sf1 replica corpus; this form closes it)
    val indexed = ranked.filter(col("acc") >= threshold * (1 - 1e-9))
      .select(col("doc_id"), col("term"))
      .barrier()
    val probe = indexed.select(col("doc_id").as("doc_b"), col("term"))
    indexed.select(col("doc_id").as("doc_a"), col("term"))
      .join(probe, Seq("term"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
  }

  private def tfidfNorms(weights: DataFrame): DataFrame = weights
    .groupBy("doc_id")
    .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("tw"))
    .selectExpr("doc_id",
      "sqrt(aggregate(transform(tw, p -> p.w * p.w), CAST(0 AS DOUBLE), (s, v) -> s + v)) AS nrm")

  /** The exact verify pass: per-candidate dot from the shared terms'
    * raw-weight products, folded term-sorted — the SAME multiset and
    * fold order the naive all-shared-terms plan produces, so the result
    * is bit-identical and the DuckDB oracle (which computes the naive
    * form) still hash-matches. Cost O(candidates × doc length).
    */
  private def tfidfCosineFinishOf(s: SparkSession, candidates: DataFrame,
      docs: DataFrame, threshold: Double): DataFrame = {
    val weights = tfidfCosineWeightsOf(docs)
    tfidfCosineFinishFrom(s, candidates, weights, tfidfNorms(weights),
      threshold)
  }

  private def tfidfCosineFinishFrom(s: SparkSession, candidates: DataFrame,
      weights: DataFrame, norms: DataFrame, threshold: Double): DataFrame = {
    val dots = candidates
      .join(weights.toDF("doc_a", "term", "w_a"), Seq("doc_a"))
      .join(weights.toDF("doc_b", "term", "w_b"), Seq("doc_b", "term"))
      .groupBy("doc_a", "doc_b")
      .agg(sort_array(collect_list(struct(col("term"),
        (col("w_a") * col("w_b")).as("p")))).as("tp"))
      .selectExpr("doc_a", "doc_b",
        "aggregate(transform(tp, q -> q.p), CAST(0 AS DOUBLE), (s, v) -> s + v) AS dp")
    dots
      .join(norms.toDF("doc_a", "nrm_a"), Seq("doc_a"))
      .join(norms.toDF("doc_b", "nrm_b"), Seq("doc_b"))
      .withColumn("sim", col("dp") / (col("nrm_a") * col("nrm_b")))
      .filter(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** The pre-r17 naive candidate plan (every pair sharing any term),
    * kept for the spec's answer-equality and candidate-count pins.
    */
  private[graft] def tfidfCosinePairsNaive(s: SparkSession, d: String,
      threshold: Double = 0.3): DataFrame = {
    val weights = tfidfParts(s, d)
      .filter(col("df") * 10 <= col("n"))
      .select(col("doc_id"), col("term"), tfidfWeight.as("w"))
      .barrier()
    val naive = weights.toDF("doc_a", "term", "w_a")
      .join(weights.toDF("doc_b", "term2", "w_b")
        .withColumnRenamed("term2", "term"), Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    tfidfCosineFinishOf(s, naive, documents(s, d), threshold)
  }

  /** The naive tfidf-cosine oracle body over any CTE chain (the table
    * form and the generated-Zipf form share it verbatim).
    */
  private def tfidfCosineOracleFrom(ctes: String, wDuck: String): String =
    s"""WITH $ctes,
weights AS (
  SELECT tf.doc_id, tf.term,
         $wDuck AS w
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE df.df * 10 <= n.n),
norms AS (
  SELECT doc_id, sqrt(list_sum(list_transform(list(w ORDER BY term), x -> x * x))) AS nrm
  FROM weights GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         list_sum(list(a.w * b.w ORDER BY a.term)) AS dp
  FROM weights a JOIN weights b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, sim FROM (
  SELECT d.doc_a, d.doc_b, d.dp / (na.nrm * nb.nrm) AS sim
  FROM dots d JOIN norms na ON d.doc_a = na.doc_id
              JOIN norms nb ON d.doc_b = nb.doc_id)
WHERE sim >= 0.3 ORDER BY doc_a, doc_b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tfidf_keywords" -> (tfidfKeywords(_, _)),
    "q_tfidf_cosine" -> (tfidfCosinePairs(_, _)),
    // the prefix filter on a REALISTIC power-law vocabulary (generated
    // in-plan, like the bm25 zipf pair): sparse true pairs, so the
    // candidate undercut is exercised where it can win — the corpus
    // regime the 40-term synthetic documents table cannot express
    "q_tfidf_cosine_zipf" -> ((s, d) => tfidfCosinePairsOf(s, {
      val (n, l, v) = RetrievalOps.ZipfGate
      // barrier the generated corpus: the pairs path references docs
      // from many subplans, and re-inlining the generator expression
      // into each drives the optimizer into a multi-minute analysis
      // spin (measured: 9 s barriered vs >500 s inlined at this size)
      graft.Checkpoint.barrier(RetrievalOps.zipfDocs(s, n, l, v))
    })),
    "q_text_tokens" -> (textTokens _),
    "q_text_quality" -> (textQuality _),
    "q_quality_gopher" -> (qualityGopher _),
    "q_text_nfc" -> (textNfc _),
    "q_lang_id" -> (langId _),
    "q_fingerprint" -> (fingerprint _),
    "q_text_chunks" -> (textChunks _),
    "q_dedup_exact" -> (dedupExact _),
    "q_dedup_minhash_lsh" -> (minhashLsh _),
    "q_dedup_clusters" -> (dedupClusters _),
    "q_dedup_canonical" -> (dedupCanonical _),
    "q_split_leakage_safe" -> (splitLeakageSafe _),
    "q_dedup_simhash64" -> (simhashPairs64(_, _)),
    "q_dedup_passage" -> (passageDedup(_, _)),
    // exact repeated-substring match pairs (Lee et al. ExactSubstr):
    // anchor join + diagonal extension, never a global suffix array
    "q_dedup_substring" -> (substringDedup(_, _)),
    // the family's user-facing product: the corpus rewritten with every
    // cross-doc repeated run >= k cut, keep-earliest policy
    "q_dedup_substring_removed" -> (substringRemoved(_, _)),
    // cap low enough that the sf0.01 corpus exercises BOTH regimes
    // (its window-freq histogram tops out at 3 — cap 2 splits it):
    // under-cap runs through the exact pair path, over-cap boilerplate
    // through the partner-agnostic passage ownership cut
    "q_dedup_substring_removed_hot" ->
      (substringRemovedHot(_, _, maxAnchorFreq = 2)),
    "q_passage_clean" -> (passageClean(_, _)),
    "q_dedup_jaccard" -> (jaccardPairs(_, _)))

  // ------------------------------------------------------------ oracles

  /** Shared by q_dedup_simhash64 and its streamed twin: same shift+mask
    * band keys and bit_count(xor) hamming as the Spark pipelines —
    * DuckDB's >> and bit_count share two's-complement semantics with
    * Spark's shiftright/bit_count, so the BIGINT signature gates
    * bit-exactly.
    */
  /** Shared by q_dedup_jaccard and its streamed twin: the oracle builds
    * the FULL inverted index (no prefix filter at all) — a third
    * algorithm that must agree with both the batch prefix-filtered SSJoin
    * and the streamed hash-order-prefix state index.
    */
  private def jaccardOracle: String =
    s"""WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
  list_distinct(list_transform(${SH.duck}, s -> ('0x' || substring(md5(s), 1, 15))::BIGINT)) AS shd,
  CAST(floor(len(${T.duck}) / 20) AS INTEGER) AS bucket FROM documents),
sized AS (SELECT *, len(shd) AS n FROM base),
ex AS (SELECT doc_id, lang, bucket, n, unnest(shd) AS s FROM sized)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS DOUBLE) / CAST(a.n + b.n - COUNT(*) AS DOUBLE) AS jaccard
  FROM ex a JOIN ex b ON a.s = b.s AND a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n)
WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** Shared DuckDB CTE chain: documents → shingle md5s → parsed halves →
    * 8 minhashes → band keys → exploded (doc, band_idx, band_key) — one
    * source for the dedup-pair oracles here and the fuzzy-decontamination
    * oracle in CurationOps, so the band derivations can never drift.
    */
  private[graft] lazy val lshCtesShared: String = {
    val mhDuck = (0 until 8).map(i => s"${minhash("a1", "a2", i).duck} AS mh$i")
    val bandsDuck = (0 until 4)
      .map(j => s"md5(concat(mh${2 * j}, '_', mh${2 * j + 1}))")
      .mkString("[", ", ", "]")
    s"""sh AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${md5List(SH.duck).duck} AS hs FROM documents),
halves AS (SELECT doc_id, ${hashHalf("hs", 1).duck} AS a1, ${hashHalf("hs", 17).duck} AS a2 FROM sh),
mh AS (SELECT doc_id, ${mhDuck.mkString(", ")} FROM halves),
bands AS (SELECT doc_id, $bandsDuck AS bands FROM mh),
expl AS (SELECT doc_id, i.i AS band_idx, bands[i.i + 1] AS bkey
         FROM bands CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i)"""
  }

  private def simhash64Oracle: String = {
    val bandEqs = (0 until 4)
      .map(j => s"((a.sig >> ${16 * (3 - j)}) & 65535) = ((b.sig >> ${16 * (3 - j)}) & 65535)")
      .mkString(" OR\n    ")
    s"""WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM documents),
hashed AS (SELECT doc_id, list_transform(t, x -> md5(x)) AS hl, len(t) AS nt FROM toks),
sigs AS (SELECT doc_id, ${simhash64FromHashes("hl", "nt").duck} AS sig FROM hashed),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND (
    $bandEqs))
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
  FROM cands)
WHERE hamming <= 3 ORDER BY doc_a, doc_b"""
  }

  val oracle: Map[String, String] = {
    // shared TF-IDF CTE prefix + weight expression (one source for both
    // TF-IDF oracles, mirroring tfidfParts/tfidfWeight on the Spark side)
    def tfidfCtesFrom(docSrc: String) =
      s"""toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, ${T.duck} AS t FROM ($docSrc)),
ex AS (SELECT doc_id, len(t) AS len, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, len, COUNT(*) AS tf FROM ex GROUP BY doc_id, term, len),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM toks)"""
    val tfidfCtes = tfidfCtesFrom("SELECT doc_id, text FROM documents")
    val tfidfWDuck =
      "(CAST(tf.tf AS DOUBLE) / CAST(tf.len AS DOUBLE)) * (CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))"
    val stops = markerCount(T.duck, stopwords).duck
    val ttr = s"CAST(${distinctCount(T.duck).duck} AS DOUBLE) / CAST(len(${T.duck}) AS DOUBLE)"
    val stopRatio = s"CAST($stops AS DOUBLE) / CAST(len(${T.duck}) AS DOUBLE)"
    val scores = langMarkers.map { case (l, ms) => l -> markerCount(T.duck, ms).duck }
    val allZero = scores.map(_._2).mkString(" + ") + " = 0"
    val pred = scores.foldRight("'unknown'") { case ((l, e), rest) =>
      val geAll = scores.filter(_._1 != l).map { case (_, e2) => s"$e >= $e2" }
        .mkString(" AND ")
      s"CASE WHEN NOT ($allZero) AND $geAll THEN '$l' ELSE $rest END"
    }
    val lshCtes = lshCtesShared
    // connected components over the LSH pairs: the recursive reach CTE the
    // cluster and canonical-dedup oracles share
    val clusterCtes =
      s"""$lshCtes,
pares AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM expl a JOIN expl b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pares UNION ALL SELECT doc_b, doc_a FROM pares),
verts AS (SELECT DISTINCT a AS doc FROM edges),
reach(doc, r) AS (
  SELECT doc, doc FROM verts
  UNION
  SELECT reach.doc, e.b FROM reach JOIN edges e ON reach.r = e.a)"""
    Map(
      "q_tfidf_keywords" ->
        s"""WITH $tfidfCtes
SELECT doc_id, term, CAST(tf AS INTEGER) AS tf, CAST(df AS INTEGER) AS df, w, rank FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         $tfidfWDuck AS w,
         CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY
           $tfidfWDuck DESC,
           tf.term) AS INTEGER) AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n)
WHERE rank <= 5 ORDER BY doc_id, rank""",
      "q_tfidf_cosine" -> tfidfCosineOracleFrom(tfidfCtes, tfidfWDuck),
      "q_tfidf_cosine_zipf" -> tfidfCosineOracleFrom(tfidfCtesFrom {
        val (zn, zl, zv) = RetrievalOps.ZipfGate
        s"SELECT doc_id, ${RetrievalOps.zipfText(zv, zl).duck} AS text " +
          s"FROM range(1, ${zn + 1}) t(doc_id)"
      }, tfidfWDuck),
      "q_text_tokens" ->
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
CAST(len(${T.duck}) AS INTEGER) AS n_tokens,
CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_tokens_re,
CAST(length(text) AS INTEGER) AS n_chars_calc,
CAST(${tokenLenSum(T.duck).duck} AS DOUBLE) / CAST(len(${T.duck}) AS DOUBLE) AS media_tam_token
FROM documents ORDER BY doc_id""",
      "q_text_quality" ->
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
CAST(len(${T.duck}) AS INTEGER) AS n_tokens,
$stopRatio AS razao_stopwords,
$ttr AS razao_tipo_token,
CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS razao_digitos,
CASE WHEN len(${T.duck}) >= 20 AND $ttr >= 0.1 AND $stopRatio <= 0.5 THEN 'boa' ELSE 'baixa' END AS qualidade
FROM documents ORDER BY doc_id""",
      "q_quality_gopher" -> gopherOracle,
      "q_text_nfc" -> textNfcOracle,
      "q_lang_id" ->
        (s"SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, " +
          scores.map { case (l, e) => s"CAST($e AS INTEGER) AS score_$l" }.mkString(", ") +
          s", $pred AS lang_pred, CASE WHEN ($pred) = lang THEN 1 ELSE 0 END AS acerto " +
          "FROM documents ORDER BY doc_id"),
      "q_fingerprint" ->
        s"""SELECT doc_id, md5(text) AS hash_exato, md5(lower(trim(text))) AS hash_norm,
${minhash("a1", "a2", 0).duck} AS minhash_0,
${minhash("a1", "a2", 1).duck} AS minhash_1,
${simhash16("toks").duck} AS simhash
FROM (SELECT doc_id, text, toks,
  ${hashHalf("hs", 1).duck} AS a1, ${hashHalf("hs", 17).duck} AS a2
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, text, ${md5List(SH.duck).duck} AS hs, ${T.duck} AS toks FROM documents))
ORDER BY doc_id""",
      "q_text_chunks" -> {
        val rb = rollingHashBoundaries("text")
        s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
CAST(len(${rb.duck}) AS INTEGER) AS n_bordas,
coalesce(array_to_string(${rb.duck}, ','), '') AS bordas,
CAST(length(text) AS DOUBLE) / CAST(len(${rb.duck}) + 1 AS DOUBLE) AS tam_medio_bloco
FROM documents ORDER BY doc_id"""
      },
      "q_dedup_exact" ->
        """SELECT md5(text) AS hash, CAST(min(doc_id) AS BIGINT) AS doc_mantido, COUNT(*) AS n_copias
FROM documents GROUP BY 1 ORDER BY hash""",
      "q_dedup_minhash_lsh" ->
        s"""WITH $lshCtes
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM expl a JOIN expl b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
      // the STREAMED per-band stateful index must converge to exactly the
      // batch band-join pairs — same oracle
      "q_dedup_minhash_stream" ->
        s"""WITH $lshCtes
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM expl a JOIN expl b ON a.band_idx = b.band_idx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY doc_a, doc_b""",
      // connected components over the LSH pairs, via RECURSIVE reachability
      // closure + per-doc min — must agree with Spark's label propagation
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE $clusterCtes
SELECT doc AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster
FROM reach GROUP BY doc ORDER BY doc_id""",
      "q_dedup_canonical" ->
        s"""WITH RECURSIVE $clusterCtes,
labels AS (SELECT doc, MIN(r) AS cluster FROM reach GROUP BY doc)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(a.n_absorbed, 0) AS BIGINT) AS n_absorbed
FROM documents d
LEFT JOIN (SELECT cluster, COUNT(*) - 1 AS n_absorbed
           FROM labels GROUP BY cluster) a
  ON d.doc_id = a.cluster
WHERE d.doc_id NOT IN (SELECT doc FROM labels WHERE doc <> cluster)
ORDER BY doc_id""",
      // cluster-granular deterministic split: same recursive components,
      // same md5→60-bit hash rule as the Spark form; the streamed twin
      // (band-index edges accumulated across micro-batches) converges to
      // the same relation, so both gate against this one oracle
      "q_split_leakage_safe" -> splitOracle(clusterCtes),
      "q_split_leakage_safe_stream" -> splitOracle(clusterCtes),
      "q_dedup_simhash64" -> simhash64Oracle,
      "q_dedup_passage" -> passageOracle(),
      "q_dedup_substring" -> substringOracle(),
      "q_dedup_substring_removed" -> substringRemovedOracle(),
      "q_dedup_substring_removed_hot" ->
        substringRemovedHotOracle(maxAnchorFreq = 2),
      "q_passage_clean" -> passageCleanOracle(),
      // the streamed ownership state must converge to the batch cut set
      "q_dedup_passage_stream" -> passageCutOracle(),
      // the STREAMED verified near-dup must converge to exactly the batch
      // band-join + hamming result — same oracle
      "q_dedup_simhash_stream" -> simhash64Oracle,
      "q_dedup_jaccard" -> jaccardOracle,
      // the STREAMED prefix-filter state index must converge to exactly
      // the batch SSJoin's verified pairs — same oracle
      "q_dedup_jaccard_stream" -> jaccardOracle)
  }
}
