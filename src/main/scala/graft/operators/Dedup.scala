package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Deduplication operators over `documents` — the training-data-pipeline
  * family: exact, normalized-key, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design (the 100 TB rules):
  *   - exact/normalized dedup is a single hash-aggregate on the key — the
  *     shuffle carries (key-hash, doc_id), never the document bodies;
  *   - MinHash signatures and band keys are computed PER ROW with array
  *     lambdas (`transform`/`array_min`) — zero shuffle until the band
  *     equi-join, which only moves (band, doc_id) pairs. This is the
  *     standard shingle→minhash→band→bucket-join LSH layout: candidate
  *     generation is linear in corpus size, never O(n²);
  *   - SimHash is explode→map-side-combined hash aggregate (16 partial sums
  *     per doc);
  *   - n-gram Jaccard joins on distinct shingles (the classic
  *     inverted-index join) and filters by threshold after an exact
  *     |A∩B|/|A∪B| count — document-frequency-capped to bound fan-out.
  */
object Dedup {

  private def q(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), run)

  /** Exact dedup: hash-groupBy on the full text; keeper = min(doc_id). */
  val exact: QueryDef = q(
    "d01_dedup_exact",
    """SELECT min(doc_id) AS keeper, count(*) AS n_copies,
      |       length(text) AS n_chars
      |FROM documents
      |GROUP BY text
      |ORDER BY keeper""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select(col("keeper"), col("n_copies"), length(col("text")).as("n_chars"))
      .orderBy("keeper")
  }

  /** Normalized-key dedup (prefix fingerprint): groups by the first 30
    * chars — the cheap normalization pass that catches near-identical heads.
    */
  val prefixKey: QueryDef = q(
    "d02_dedup_prefix",
    """SELECT substr(text, 1, 30) AS key_prefix,
      |       min(doc_id) AS keeper, count(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keeper""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(substring(col("text"), 1, 30).as("key_prefix"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .orderBy("keeper")
  }

  private val SIGS = 8 // minhash signatures
  private val BANDS = 2 // bands of SIGS/BANDS rows each

  /** Canonical text normalization for NORMALIZED exact dedup (the pass
    * between byte-exact d01 and fuzzy d03): lowercase, strip everything
    * but letters/digits/spaces, collapse whitespace runs, trim. Two docs
    * differing only in case/punctuation/spacing normalize equal. Pure
    * per-row column expression — compose with [[collapseExact]] on the
    * normalized column, or any keyed dedup.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Normalized-exact dedup: one surviving row (smallest doc_id) per
    * NORMALIZED text. The aggregation state is O(1) per key (min + count,
    * like [[collapseExact]]); returns (norm_text, keeper, n_copies).
    */
  def normalizedDedup(docs: DataFrame): DataFrame =
    docs.groupBy(normalizeText(col("text")).as("norm_text"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact-duplicate PRE-COLLAPSE: one row per DISTINCT text, with the
    * smallest holding doc_id as representative and the copy count.
    *
    * This is the skew armor for every fingerprint family downstream
    * (minhash d03, simhash d09): a real web corpus carries boilerplate
    * texts with 10⁶–10⁹ EXACT copies, and any per-fingerprint doc-id list
    * or per-band hot key is unbounded in that multiplicity. Collapsing
    * first makes all fingerprint work per-DISTINCT-text: aggregation
    * state here is O(1) per key (min + count — no lists), the signature
    * pipelines then hash each text once, and duplicate docs re-enter only
    * at the final expansion joins (streamed, AQE-skew-splittable — never
    * held in one aggregation buffer).
    */
  private[operators] def collapseExact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))

  /** doc_id → representative-id map for re-expanding representative-level
    * results to document level (an equi-join on text — raw rows, no
    * aggregation state).
    */
  private[operators] def repMap(docs: DataFrame, collapsed: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .join(collapsed.select(col("text"), col("rep_id")), "text")
      .select(col("doc_id"), col("rep_id"))

  /** Expands representative-level pairs (r1, r2 — r1 = r2 encodes the
    * same-text diagonal) to document-level pairs (doc_a < doc_b), carrying
    * `payload` columns through.
    *
    * PAIR-EXPANSION CONTRACT: the all-pairs output is itself quadratic in
    * duplicate multiplicity — a text with n exact copies expands to
    * n·(n−1)/2 rows. That is the query's contract (the oracle states all
    * pairs), not an engine hazard: the expansion is two streamed
    * equi-joins on the rep id, so no task ever materializes a duplicate
    * group in memory; a caller that only needs keep/drop decisions should
    * use [[deduplicate]] (which never expands the diagonal) or consume
    * `collapsed` (rep_id, n_copies) directly.
    */
  private def expandRepPairs(
      repPairs: DataFrame, docMap: DataFrame, payload: Seq[String]): DataFrame =
    repPairs
      .join(docMap.select(col("rep_id").as("r1"), col("doc_id").as("x")), "r1")
      .join(docMap.select(col("rep_id").as("r2"), col("doc_id").as("y")), "r2")
      .filter(col("r1") =!= col("r2") || col("x") < col("y"))
      .select(least(col("x"), col("y")).as("doc_a") +:
        greatest(col("x"), col("y")).as("doc_b") +: payload.map(col): _*)

  /** Per-doc minhash signature columns m0..m7 over DISTINCT word-trigram
    * shingles.
    *
    * Layout choices, each load-bearing for performance:
    *   - explode + projection md5 (codegen'd) rather than array-lambda md5:
    *     higher-order-function lambdas evaluate interpreted, and Catalyst's
    *     projection collapse additionally inlines (= recomputes) a shared
    *     hash array into all 8 signature expressions;
    *   - the min-aggregate runs over BIGINT (hex slice via conv), not
    *     strings — string buffers force SortAggregate, long buffers get
    *     map-side-combined HashAggregate. min(long) picks the same shingle
    *     as min(fixed-width-hex); the long is converted back to padded hex
    *     afterwards so band keys equal the oracle's strings.
    *   - the 8 signatures are 8-hex-char (32-bit) slices of TWO md5
    *     digests per shingle, not 8 separate hashes — 4× fewer md5 calls
    *     for the same LSH behavior.
    */
  private def minhashSigs(doc: DataFrame): DataFrame =
    minhashSigsTuned(doc, SIGS)

  /** [[minhashSigs]] generalized to `numSigs` signature slots: each md5
    * digest yields four 32-bit slices, so ⌈numSigs/4⌉ digests per shingle
    * (digest 0 = md5(s), digest 1 = md5("s:"+s) — kept verbatim so the
    * 8-sig oracle path is byte-identical — digest j≥2 = md5("s<j>:"+s)).
    */
  private[operators] def minhashSigsTuned(doc: DataFrame, numSigs: Int): DataFrame =
    minhashSigsKeyed(doc, numSigs, "doc_id")

  /** [[minhashSigsTuned]] over an arbitrary grouping key: MinHash is a
    * MERGEABLE sketch (min composes), so grouping by `source` instead of
    * `doc_id` yields corpus-level per-source signatures in one pass —
    * the d16 cross-source overlap estimator rides this.
    */
  /** MinHash signatures from ANY (key, s) shingle relation — the digest +
    * min-aggregate stage shared by the word-trigram pipeline
    * ([[minhashSigsKeyed]]) and the char-5-gram one (d20). Duplicate
    * shingle rows are welcome (min() is idempotent to them), which lets
    * extractors skip per-doc distinctness.
    */
  private def sigsFromShingles(
      shingled: DataFrame, numSigs: Int, key: String): DataFrame = {
    val nDigests = (numSigs + 3) / 4
    val digests = (0 until nDigests).map {
      case 0 => md5(col("s")).as("h0")
      case 1 => md5(concat(lit("s:"), col("s"))).as("h1")
      case j => md5(concat(lit(s"s$j:"), col("s"))).as(s"h$j")
    }
    val hashed = shingled.select(col(key) +: digests: _*)
    val aggs = (0 until numSigs).map { k =>
      val src = s"h${k / 4}"
      val pos = (k % 4) * 8 + 1
      min(expr(s"cast(conv(substr($src, $pos, 8), 16, 10) as bigint)")).as(s"ml$k")
    }
    hashed.groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
      .select(col(key) +: (0 until numSigs).map(k =>
        expr(s"lpad(lower(conv(ml$k, 10, 16)), 8, '0')").as(s"m$k")): _*)
  }

  private[operators] def minhashSigsKeyed(
      doc: DataFrame, numSigs: Int, key: String): DataFrame = {
    // double-md5 per shingle is CPU-dense enough that scan parallelism
    // dominates — the QUERY ENTRIES route their scans through
    // Tables.parallel (scan-level only; guarding here would re-shuffle
    // derived frames callers pass in, e.g. PipelineDemo's filtered corpus)
    // no transform-lambda and no array_distinct here, unlike trigrams():
    // a min() aggregate is idempotent to duplicate shingles, so the
    // signatures can skip per-doc distinctness entirely, and generating
    // via explode(sequence) + a plain concat projection keeps the whole
    // row codegen'd where a transform lambda evaluates interpreted
    // (measured faster despite emitting duplicate shingle rows)
    val tri = doc
      .withColumn("ws", split(col("text"), " "))
      .select(col(key), col("ws"), explode(expr(
        "if(size(ws) < 3, array(), sequence(1, size(ws)-2))")).as("i"))
      .select(col(key),
        expr("concat(ws[i-1], ' ', ws[i], ' ', ws[i+1])").as("s"))
    sigsFromShingles(tri, numSigs, key)
  }

  /** Character 5-gram shingles: (doc_id, s) for every overlapping 5-char
    * window of `text`. The tokenization-free dual of the word-trigram
    * extractor — whitespace/punctuation mangling that breaks word
    * shingles leaves most char windows intact, so char-gram LSH (d20)
    * catches the near-dups a retokenized copy hides from d03. Pure
    * row-local map, duplicate windows allowed (min() idempotence).
    */
  private def charShingles(doc: DataFrame): DataFrame =
    doc
      .select(col("doc_id"), col("text"), explode(expr(
        "if(length(text) < 5, array(), sequence(1, length(text)-4))")).as("i"))
      .select(col("doc_id"), expr("substr(text, i, 5)").as("s"))

  /** LSH candidate pairs (doc_a < doc_b) from the band equi-join. */
  private[operators] def lshCandidates(doc: DataFrame): DataFrame =
    lshCandidatesTuned(doc, SIGS, BANDS)

  /** [[lshCandidates]] with a USER-TUNED banding: `numBands` bands of
    * `numSigs / numBands` rows. The (bands, rows) pair is the
    * recall/precision dial of MinHash LSH — the capture probability of a
    * pair with Jaccard J is 1 − (1 − J^rows)^bands — and the d11 accuracy
    * audit exists precisely to calibrate it on the corpus before a
    * production run commits to a setting. (numSigs, numBands) = (8, 2)
    * reproduces the registered d03 pipeline exactly. Same scale shape at
    * any setting: per-row signatures, band equi-join moving only
    * (band, id) pairs, merge hint so both sides reuse one exchange.
    */
  /** Band planner for [[lshCandidatesTuned]]: given a signature budget and
    * the Jaccard threshold the pipeline confirms at, pick the (bands,
    * rows-per-band) split minimizing total expected error mass around the
    * threshold. Candidate probability at similarity s under (b, r) is the
    * S-curve `1 − (1 − s^r)^b`; the planner scores each divisor split by
    * ∫₀^τ P(s) ds (false-candidate mass, paid in verification compute)
    * plus ∫τ^1 (1 − P(s)) ds (false-negative mass, paid in recall),
    * integrated numerically on a fixed grid — pure driver-side arithmetic,
    * no data touched. `fnWeight` skews the trade: verification cost is
    * usually cheap (the confirm step prunes), missed duplicates are not,
    * so the default weights FN mass 10×. The classic rule-of-thumb
    * τ ≈ (1/b)^(1/r) falls out: the chosen split's S-curve midpoint lands
    * near the requested threshold (BandPlanSpec).
    */
  def planBanding(numSigs: Int, threshold: Double,
      fnWeight: Double = 10.0): (Int, Int) = {
    require(numSigs > 0 && threshold > 0 && threshold < 1,
      s"need numSigs > 0 and threshold in (0,1), got $numSigs, $threshold")
    val splits = (1 to numSigs).filter(numSigs % _ == 0)
    def errorMass(b: Int): Double = {
      val r = numSigs / b
      val n = 1000
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < n) {
        val s = (i + 0.5) / n
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        if (s < threshold) fp += p else fn += (1.0 - p)
        i += 1
      }
      (fp + fnWeight * fn) / n
    }
    val b = splits.minBy(errorMass)
    (b, numSigs / b)
  }

  def lshCandidatesTuned(
      doc: DataFrame, numSigs: Int, numBands: Int): DataFrame = {
    require(numSigs > 0 && numBands > 0 && numSigs % numBands == 0,
      s"numBands ($numBands) must divide numSigs ($numSigs)")
    pairsFromBands(bandKeys(doc, numSigs, numBands), "doc_a", "doc_b")
  }

  /** Candidate pairs (left < right) from a band-key relation — the one
    * self-equi-join every LSH lane uses.
    *
    * merge hint: with both sides shuffled on the band key the two
    * exchanges canonicalize identically and ReusedExchange computes the
    * whole signature pipeline ONCE; the default broadcast join would
    * run it twice (measured slower despite the cheaper join itself).
    */
  private[operators] def pairsFromBands(
      bands: DataFrame, leftName: String, rightName: String): DataFrame = {
    val a = bands.select(col("doc_id").as(leftName), col("band_idx"),
      col("band_val"))
    val b = bands.select(col("doc_id").as(rightName),
      col("band_idx").as("bi"), col("band_val").as("bv"))
    a.hint("merge")
      .join(b, col("band_idx") === col("bi") && col("band_val") === col("bv") &&
        col(leftName) < col(rightName))
      .select(leftName, rightName).distinct()
  }

  /** Band-key rows (doc_id, band_idx, band_val) from a minhash signature
    * frame with columns m0..m{numBands·rows−1} — the banding kernel shared
    * by the word lane, the char lane, and the index screen. Per-row
    * array construction, zero shuffle.
    */
  private def bandsFromSig(
      sig: DataFrame, numBands: Int, rows: Int): DataFrame = {
    val bandArr = array((0 until numBands).map { b =>
      struct(lit(b).as("band_idx"),
        md5(concat((0 until rows).map(r => col(s"m${b * rows + r}")): _*))
          .as("band_val"))
    }: _*)
    sig.select(col("doc_id"), explode(bandArr).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_val"))
  }

  /** (doc_id, band_idx, band_val) LSH band keys — the shared kernel of
    * [[lshCandidatesTuned]]'s equi-join and the [[IndexScreen]] band
    * bloom. Per-row signature computation, zero shuffle.
    */
  private[operators] def bandKeys(
      doc: DataFrame, numSigs: Int, numBands: Int): DataFrame =
    bandsFromSig(minhashSigsTuned(doc, numSigs), numBands, numSigs / numBands)

  /** Distinct word-trigram shingle ARRAY per doc: (doc_id, arr). Pure
    * row-local map; the pre-explode stage shared by [[trigrams]] and the
    * per-doc SIZE computation (size(arr) is the distinct-trigram count, so
    * set sizes never need a count aggregate over the exploded table —
    * that was a full extra shingle pipeline plus a doc_id shuffle).
    */
  private def trigramArr(doc0: DataFrame): DataFrame =
    doc0.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), expr(
        """array_distinct(if(size(ws) < 3, array(),
          |   transform(sequence(1, size(ws)-2),
          |     i -> concat(ws[i-1], ' ', ws[i], ' ', ws[i+1]))))""".stripMargin)
        .as("arr"))

  /** Distinct word-trigram shingles per doc: (doc_id, s). Per-doc
    * distinctness is row-local (array_distinct before the explode), so
    * this is a pure map — no dedup shuffle.
    */
  private def trigrams(doc0: DataFrame): DataFrame =
    trigramArr(doc0).select(col("doc_id"), explode(col("arr")).as("s"))

  /** End-to-end near-duplicate REMOVAL pipeline: exact-duplicate collapse
    * ([[collapseExact]] — each text's smallest doc_id represents it, every
    * other exact copy drops by construction) → MinHash+LSH candidate
    * generation over DISTINCT texts (linear) → exact trigram-Jaccard
    * verification on the candidates only → keep-min policy (of each
    * confirmed pair, the lower doc_id survives). Returns the surviving
    * rows of `docs`.
    *
    * The collapse is the same skew armor as d03/d09: boilerplate with 10⁶
    * exact copies contributes ONE row to the band join instead of 10⁶ on
    * one hot band key. It also strengthens the contract: degenerate exact
    * duplicates (< 3 words, invisible to the band join) now dedupe too.
    * Every stage is partition-parallel; the only data that moves are
    * (band, id) pairs and the candidate pairs' shingle sets.
    */
  def deduplicate(docs: DataFrame, jaccardThreshold: Double = 0.6): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    // not persisted: the candidate pipeline materializes under the
    // drops.count() action below, and the returned (lazy) plan re-derives
    // the collapse aggregate once when the caller consumes it — caching it
    // here would outlive this call (no sound unpersist point)
    val collapsed = collapseExact(base)
    val reps = collapsed.select(col("rep_id").as("doc_id"), col("text"))
    // candidates and candidate shingles are reused by several downstream
    // joins — persist so the signature pipeline runs once, not per action
    val cand = lshCandidates(reps).persist()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val ctri = trigrams(reps).join(candIds, "doc_id").persist()
    val sz = ctri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(ctri.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(ctri.select(col("doc_id").as("doc_b"), col("s").as("s2")), Seq("doc_b"))
      .filter(col("s") === col("s2"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val drops = inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter"))
        >= jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .persist()
    drops.count() // materialize the (small) drop list, then free the rest
    cand.unpersist()
    ctri.unpersist()
    // survivors: each text's representative, minus near-dup-dropped reps
    docs
      .join(collapsed.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .join(drops, Seq("doc_id"), "left_anti")
  }

  /** INCREMENTAL dedup screen: drops rows of `incoming` that are exact or
    * near-duplicates (trigram Jaccard ≥ threshold, LSH candidates) of the
    * `index` corpus or of other incoming rows (keep-min within the
    * batch). Index rows are never dropped — they are the already-accepted
    * corpus. This is the batch kernel of streaming ingest dedup
    * ([[graft.streaming.DocStream.nearDupIngest]]): each micro-batch
    * screens against the accumulated index, then appends its survivors.
    *
    * doc_ids must be unique across index ∪ incoming (the ingest pipeline
    * owns id assignment). Same skew posture as [[deduplicate]]: exact
    * copies collapse before any band work, index representatives winning
    * ties so a re-ingested text always drops.
    */
  def deduplicateAgainst(incoming: DataFrame, index: DataFrame,
      jaccardThreshold: Double = 0.6): DataFrame = {
    val all = index.select(col("doc_id"), col("text"))
      .withColumn("is_new", lit(false))
      .union(incoming.select(col("doc_id"), col("text"))
        .withColumn("is_new", lit(true)))
    // exact collapse over the union; (is_new, doc_id) struct-min makes
    // index reps win ties, so a new exact copy of an indexed text is
    // non-representative and drops outright
    val collapsed = all.groupBy(col("text"))
      .agg(min(struct(col("is_new"), col("doc_id"))).as("rep"))
      .select(col("rep.doc_id").as("doc_id"), col("text"),
        col("rep.is_new").as("is_new"))
    val flags = collapsed.select(col("doc_id"), col("is_new"))
    val pairs = nearDupPairs(collapsed.select("doc_id", "text"), jaccardThreshold)
    val drops = pairs
      .join(flags.select(col("doc_id").as("doc_a"), col("is_new").as("na")), "doc_a")
      .join(flags.select(col("doc_id").as("doc_b"), col("is_new").as("nb")), "doc_b")
      .select(
        when(col("na") && !col("nb"), col("doc_a"))
          .when(col("nb") && !col("na"), col("doc_b"))
          // both new: keep-min (doc_a < doc_b by construction)
          .when(col("na") && col("nb"), col("doc_b"))
          .otherwise(lit(null)) // index-index pair: nothing to drop
          .as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    incoming
      .join(collapsed.filter(col("is_new")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .join(drops, Seq("doc_id"), "left_anti")
  }

  /** Broadcastable Bloom screen of an accepted index, for the
    * screened [[deduplicateAgainst]] overload: `textBloom` holds
    * xxhash64(text) of every index document (the exact path), `bandBloom`
    * holds xxhash64(band_idx, band_val) of every index LSH band key (the
    * near-dup candidate path). Bloom filters have NO false negatives, so
    * both screens are recall-preserving by construction; false positives
    * only admit extra work, never a wrong answer.
    *
    * Build ONCE per index generation ([[buildIndexScreen]] — two aggregate
    * scans), then reuse across every micro-batch: this is what removes the
    * per-batch full-index shuffle from incremental ingest. `fpp` is the
    * sizing knob: the filters carry ~1.44·log2(1/fpp) bits per item, so
    * fpp=0.01 ≈ 9.6 bits/doc — a 1e9-document index screens from ~1.2 GB
    * of broadcast state, and a LOWER fpp buys fewer spurious index probes
    * at linearly more bits. Null blooms encode an EMPTY index.
    */
  final case class IndexScreen(
      textBloom: Array[Byte],
      bandBloom: Array[Byte],
      fpp: Double)

  /** Builds the [[IndexScreen]] blooms with Spark's native
    * `bloom_filter_agg` (one partial-aggregated pass each; band keys are
    * computed over exact-collapsed texts, so duplicate skew in the index
    * costs hash lookups, not signature work). `expectedDocs` need not be
    * exact — it sizes the filters for the TARGET fpp; undersizing degrades
    * fpp, never correctness. Spark caps a single bloom aggregate via
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (default 64 Mbit
    * ≈ 6.7M docs at 1%): raise it for larger indexes.
    */
  def buildIndexScreen(index: DataFrame, expectedDocs: Long,
      fpp: Double = 0.01): IndexScreen = {
    graft.functions.GraftFunctions.register(index.sparkSession)
    def nBits(n: Long): Long =
      math.max(64L, math.ceil(-n.toDouble * math.log(fpp) /
        (math.log(2) * math.log(2))).toLong)
    val textBloom = index
      .agg(expr(s"bloom_filter_agg(xxhash64(text), ${expectedDocs}L, " +
        s"${nBits(expectedDocs)}L)"))
      .head().getAs[Array[Byte]](0)
    val collapsed = collapseExact(index.select(col("doc_id"), col("text")))
      .select(col("rep_id").as("doc_id"), col("text"))
    val nBandKeys = expectedDocs * BANDS
    val bandBloom = bandKeys(collapsed, SIGS, BANDS)
      .agg(expr(s"bloom_filter_agg(xxhash64(band_idx, band_val), " +
        s"${nBandKeys}L, ${nBits(nBandKeys)}L)"))
      .head().getAs[Array[Byte]](0)
    IndexScreen(textBloom, bandBloom, fpp)
  }

  // the registered might_contain (GraftFunctions) with the bloom inlined
  // as a binary literal — the task-binary broadcast of the screen
  private def mightContain(bloom: Array[Byte], hash: Column): Column =
    call_function("might_contain", lit(bloom), hash)

  /** Bitwise OR of two serialized Bloom filters (Spark sketch V1 format —
    * what `bloom_filter_agg` emits). This is what makes the screen
    * MAINTAINABLE incrementally: after a micro-batch's survivors append
    * to the index, a batch-sized [[buildIndexScreen]] over just those
    * survivors merges into the carried screen — the full index is never
    * re-scanned to keep the screen current. Requires both filters sized
    * identically (same `expectedDocs`/fpp at build time — the deployment
    * fixes a capacity once); incompatible sizes fail loudly rather than
    * silently degrade recall.
    */
  def mergeBlooms(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a == null) return b
    if (b == null) return a
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
    try fa.mergeInPlace(fb)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        "bloom merge requires identically-sized filters (build every " +
          "screen with the SAME expectedDocs capacity and fpp)", e)
    }
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** [[mergeBlooms]] over both legs of two [[IndexScreen]]s. */
  def mergeScreens(a: IndexScreen, b: IndexScreen): IndexScreen =
    IndexScreen(mergeBlooms(a.textBloom, b.textBloom),
      mergeBlooms(a.bandBloom, b.bandBloom), math.max(a.fpp, b.fpp))

  /** [[deduplicateAgainst]] with a pre-built [[IndexScreen]] — the 100 TB
    * shape of incremental ingest. The unscreened overload unions every
    * batch with the FULL index and exact-collapses the union: one
    * full-index shuffle per micro-batch, which a large accepted corpus
    * cannot afford. Here the index is never shuffled:
    *
    *   1. in-batch exact keep-min — a batch-sized aggregate;
    *   2. exact-vs-index: reps whose text hash hits `textBloom` (the
    *      probable hits — for a mostly-novel stream, almost nobody) are
    *      confirmed by ONE scan of the index against the broadcast probe
    *      set: scan, not shuffle, and ONLY when the bloom fired — a
    *      bounded batch-sized `isEmpty` gates the leg, so an all-novel
    *      batch never reads a single index byte;
    *   3. near-dup-vs-index: survivors compute their band keys (row-local)
    *      and probe `bandBloom`. A document with zero band hits provably
    *      has zero LSH candidates in the index (bloom: no false
    *      negatives), so only the RISKY residue enters the LSH leg
    *      against the index — and when the residue is empty (checked with
    *      a bounded isEmpty — the screen's whole point), the index leg is
    *      skipped entirely;
    *   4. in-batch near-dups are found batch-locally either way.
    *
    * Result parity with the unscreened overload is spec-enforced
    * (including planted bloom false positives); every candidate the
    * unscreened path finds shares a band with an index doc, whose key is
    * in `bandBloom` by construction, so the screen admits it.
    */
  def deduplicateAgainst(incoming: DataFrame, index: DataFrame,
      screen: IndexScreen, jaccardThreshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(incoming.sparkSession)
    // 1. in-batch exact keep-min over distinct texts. MATERIALIZED once
    //    (eager localCheckpoint): the two bounded driver checks below, the
    //    in-batch near-dup leg, and the final semi/anti joins all re-derive
    //    this aggregate — without pinning it, the batch source would be
    //    re-scanned and re-aggregated 3-4× per micro-batch on the hot
    //    ingest path. Batch-sized; blocks are GC-cleaned by the
    //    ContextCleaner once the micro-batch's plans are dropped.
    val inReps = incoming.select(col("doc_id"), col("text"))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .localCheckpoint()

    if (screen.textBloom == null) // empty index: pure in-batch dedup
      return incoming
        .join(inReps.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(nearDupPairs(inReps, jaccardThreshold)
          .select(col("doc_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")

    // 2. exact path: bloom screen, then confirm probable hits with one
    //    broadcast-probe scan of the index — skipped outright (no index
    //    scan in the plan) when no batch text fires the bloom
    val maybeExact = inReps
      .filter(mightContain(screen.textBloom, xxhash64(col("text"))))
    val fresh =
      if (maybeExact.isEmpty) inReps // bounded driver check (batch-sized)
      else {
        val hitTexts = index.select(col("text"))
          .join(broadcast(maybeExact.select(col("text"))), Seq("text"),
            "left_semi")
          .distinct()
        inReps.join(broadcast(hitTexts), Seq("text"), "left_anti")
      }

    // 4. in-batch near-dups (fresh is distinct-text: skew armor holds)
    val inDrops = nearDupPairs(fresh, jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()

    // 3. band-bloom risk screen for the index leg
    val risky = fresh.join(
      bandKeys(fresh, SIGS, BANDS)
        .filter(mightContain(screen.bandBloom,
          xxhash64(col("band_idx"), col("band_val"))))
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_semi")
    val idxDrops =
      if (risky.isEmpty) inDrops.limit(0) // bounded driver check (limit 1)
      else {
        val idxReps = collapseExact(index.select(col("doc_id"), col("text")))
          .select(col("rep_id").as("doc_id"), col("text"))
        // drop the fresh side of fresh-index pairs (index never drops);
        // risky-risky pairs are already covered by the in-batch leg
        val ia = idxReps.select(col("doc_id").as("doc_a"), lit(true).as("a_idx"))
        val ib = idxReps.select(col("doc_id").as("doc_b"), lit(true).as("b_idx"))
        nearDupPairs(idxReps.unionByName(risky), jaccardThreshold)
          .join(ia, Seq("doc_a"), "left").join(ib, Seq("doc_b"), "left")
          .select(
            when(coalesce(col("a_idx"), lit(false)) &&
                !coalesce(col("b_idx"), lit(false)), col("doc_b"))
              .when(coalesce(col("b_idx"), lit(false)) &&
                !coalesce(col("a_idx"), lit(false)), col("doc_a"))
              .otherwise(lit(null)).as("doc_id"))
          .filter(col("doc_id").isNotNull).distinct()
      }

    incoming
      .join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(inDrops.unionByName(idxDrops).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Handle to a materialized [[writeBandIndex]] artifact: the three
    * relations the delta screen probes instead of re-fingerprinting the
    * corpus. `texts` carries (text_hash, text) of every DISTINCT corpus
    * text (the exact-duplicate leg); `bands` carries the LSH band keys of
    * the exact-collapsed representatives (the candidate-generation leg);
    * `tris` carries each representative's distinct-trigram array (the
    * exact-Jaccard confirm leg).
    */
  final case class BandIndex(
      texts: DataFrame, bands: DataFrame, tris: DataFrame)

  /** Candidate-id count above which [[deduplicateAgainst]]'s confirm leg
    * reads the `tris` artifact via a semi-join scan instead of a
    * collected IN-list (an IN literal this long costs more to plan and
    * push than the scan it would prune).
    */
  val BandIndexInListMax: Int = 10000

  /** Materialize the BAND-KEY INDEX of an accepted corpus — the artifact
    * that makes daily incremental dedup DELTA-proportional. The expensive
    * per-document work (exact collapse, trigram shingling, double-md5
    * minhash signatures, band keys) runs ONCE here, at snapshot-publish
    * time; every subsequent delta screen ([[deduplicateAgainst]] on a
    * [[BandIndex]]) probes these relations and never re-fingerprints a
    * corpus byte. This closes the r11 gap where the inline overload's
    * corpus signature pass scaled with CORPUS size on every delta batch
    * (3.7 s at sf0.1, 51.5 s at sf10 — vs the delta's own milliseconds).
    *
    * Layout (plain parquet through Spark's committer, atomic publish):
    * {{{
    *   root/texts  (text_hash LONG, text STRING)          sorted text_hash
    *   root/bands  (doc_id, band_idx INT, band_val)       sorted band_val
    *   root/tris   (doc_id LONG, arr ARRAY<STRING>)       sorted doc_id
    *   root/meta   (sigs INT, bands INT)                  banding config
    * }}}
    *
    * Each table is range-partitioned and sorted on its probe key, so
    * per-file/row-group min-max stats are tight: the delta screen's
    * narrow-key probes (`texts`/`bands`) stream with a broadcast batch
    * side — a columnar scan of two small columns, no corpus shuffle ever —
    * while the HEAVY relation (`tris`, which carries the shingle arrays ≈
    * corpus text volume) is only read for the band-join CANDIDATES,
    * pushed down as an IN filter over the sorted doc_id when the
    * candidate list is small ([[BandIndexInListMax]]) so row groups
    * without candidates never leave disk. The banding config is pinned in
    * `meta`: an artifact built under a different (sigs, bands) setting
    * fails loudly at load rather than silently missing candidates.
    *
    * Incremental maintenance mirrors [[mergeBlooms]]: after a batch's
    * survivors append to the corpus, [[appendBandIndex]] lands their
    * (texts, bands, tris) rows — built from just the survivors — as a
    * COMMITTED batch directory under the same root; min-composability of
    * the underlying relations makes the union exactly the full rebuild
    * (BandIndexSpec pins it).
    *
    * `covered` is free-form lineage metadata (-1 = unversioned): a
    * pipeline that owns the artifact records the corpus snapshot version
    * the base build covers, so its crash repair
    * ([[graft.IncrementalPipeline.repair]]) knows where batch coverage
    * must begin. The loader ignores it.
    *
    * Crash coherence of the BUILD itself: `meta` is written LAST, so a
    * build that dies mid-way leaves no readable `meta` and the artifact
    * reads as absent (rebuild-fresh territory), never as a torn mix. For
    * that to hold on an IN-PLACE rebuild over an existing artifact, any
    * PRIOR `meta` must vanish FIRST — otherwise a death after the `texts`
    * overwrite but before `bands` would leave the OLD meta readable over
    * new-texts/old-bands and the torn mix would load as healthy (silently
    * missing candidates forever). So this deletes `meta` before touching
    * any relation; BandIndexEnospcSpec pins the window with an injected
    * mid-write ENOSPC. Committed BATCH directories from the artifact's
    * previous life are swept too (after meta, so a death mid-sweep still
    * reads as absent): the fresh base covers the corpus as of THIS
    * build, and unioning stale batches in would both duplicate their
    * docs' candidate work and keep screening by documents the corpus may
    * no longer hold.
    */
  def writeBandIndex(index: DataFrame, path: String, covered: Int = -1): Unit = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    val mfs = hadoopFs(index.sparkSession, metaPath)
    if (mfs.exists(metaPath)) mfs.delete(metaPath, true)
    val batchRoot = new org.apache.hadoop.fs.Path(s"$path/batches")
    if (mfs.exists(batchRoot)) mfs.delete(batchRoot, true)
    val base = index.select(col("doc_id"), col("text"))
    val reps = collapseExact(base)
      .select(col("rep_id").as("doc_id"), col("text"))
    base.select(xxhash64(col("text")).as("text_hash"), col("text"))
      .distinct()
      .repartitionByRange(col("text_hash"))
      .sortWithinPartitions("text_hash")
      .write.mode("overwrite").parquet(s"$path/texts")
    bandKeys(reps, SIGS, BANDS)
      .repartitionByRange(col("band_val"))
      .sortWithinPartitions("band_val")
      .write.mode("overwrite").parquet(s"$path/bands")
    trigramArr(reps)
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$path/tris")
    index.sparkSession.range(1)
      .select(lit(SIGS).as("sigs"), lit(BANDS).as("bands"),
        lit(covered).as("covered"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private def hadoopFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val BatchCommitMarker = "_COMMITTED"

  /** Append a survivor batch's rows to an existing [[writeBandIndex]]
    * artifact as a COMMITTED BATCH — the per-batch maintenance step of
    * incremental ingest. Batch-sized work only; the existing artifact is
    * never read or rewritten. Callers pass the batch's SURVIVORS (already
    * screened), so rep-collapse within the batch suffices: cross-batch
    * exact duplicates were dropped by the screen and cannot reach here.
    *
    * Crash coherence (why batches, not in-place appends): the three
    * relations cannot be appended atomically together — a crash between
    * the `texts` and `bands` writes of an in-place append would leave a
    * TORN artifact whose exact leg knows a document its candidate leg
    * does not, silently missing near-dup candidates forever after. Each
    * batch therefore lands in its own `path/batches/<batchId>/` directory
    * and becomes visible to [[loadBandIndex]] only when the ONE-FILE
    * `_COMMITTED` marker is created, strictly after all three relations
    * finished (each through Spark's committer). A crash at ANY point
    * leaves either no batch or an invisible uncommitted directory.
    *
    * Idempotent per batchId: a re-run after a crash deletes the
    * uncommitted debris and rebuilds; a batchId that is already COMMITTED
    * is final and the call is a no-op (re-delivered batches cannot
    * double-insert). BandIndexSpec pins both.
    *
    * Compaction note: batch count grows by one per ingest cycle (365/yr
    * at daily cadence — file-listing noise, not a scale problem); the
    * compaction story is a fresh [[writeBandIndex]] over the current
    * corpus into a new root, swapped by the owner.
    */
  def appendBandIndex(survivors: DataFrame, path: String,
      batchId: String): Unit = {
    require(batchId.nonEmpty &&
      batchId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"batchId must be [A-Za-z0-9_-]+ (got '$batchId')")
    val spark = survivors.sparkSession
    val dir = new org.apache.hadoop.fs.Path(s"$path/batches/$batchId")
    val f = hadoopFs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(dir, BatchCommitMarker)
    if (f.exists(marker)) return // committed = final; re-delivery is a no-op
    if (f.exists(dir)) f.delete(dir, true) // uncommitted crash debris
    val base = survivors.select(col("doc_id"), col("text"))
    val reps = collapseExact(base)
      .select(col("rep_id").as("doc_id"), col("text"))
    base.select(xxhash64(col("text")).as("text_hash"), col("text"))
      .distinct()
      .write.mode("overwrite").parquet(s"$dir/texts")
    bandKeys(reps, SIGS, BANDS)
      .write.mode("overwrite").parquet(s"$dir/bands")
    trigramArr(reps)
      .write.mode("overwrite").parquet(s"$dir/tris")
    f.create(marker, false).close() // the commit point
  }

  /** Batch ids visible to [[loadBandIndex]] (committed only), sorted. */
  def bandIndexBatches(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/batches")
    val f = hadoopFs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(p => f.exists(new org.apache.hadoop.fs.Path(p, BatchCommitMarker)))
      .map(_.getName).sorted
  }

  /** Meta-ROW memo for committed band-index artifacts. The meta relation
    * is written last (the artifact's commit point) and never rewritten in
    * place except by a full overwrite, which recreates the directory and
    * changes its content identity ([[graft.Tables.fileIdent]]) — so one
    * read per (session, meta identity) is valid for the artifact's lifetime. Every i07/i08 screen paid two
    * meta reads (existence probe + load) with a scheduled head() job
    * each, per invocation, for bytes that cannot have changed. Non-local
    * paths (no java.io.File identity — the fault-injecting test schemes)
    * skip the memo and read uncached.
    */
  private val metaRowCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Option[org.apache.spark.sql.Row]]()

  /** None ⇔ the meta relation exists but holds no rows (a torn write):
    * `take(1)` instead of `head()` so an empty meta is a VALUE, not a
    * NoSuchElementException — [[bandIndexCovered]] maps it to the
    * legacy/-1 path rather than failing the repair cycle (r16 ADVICE
    * item; a missing meta DIRECTORY still surfaces as the
    * AnalysisException the repair path keys on).
    */
  private def metaRow(
      spark: SparkSession, path: String): Option[org.apache.spark.sql.Row] = {
    val dir = new java.io.File(path, "meta")
    if (!dir.exists()) spark.read.parquet(s"$path/meta").take(1).headOption
    else {
      graft.Tables.bounded(metaRowCache)
      metaRowCache.computeIfAbsent(
        (spark, graft.Tables.fileIdent(dir.getPath)),
        _ => spark.read.parquet(s"$path/meta").take(1).headOption)
    }
  }

  /** The `covered` lineage metadata recorded by [[writeBandIndex]]
    * (-1 when the artifact predates the column, is unversioned, or its
    * meta is present-but-empty).
    */
  def bandIndexCovered(spark: SparkSession, path: String): Int =
    metaRow(spark, path) match {
      case Some(meta) if meta.schema.fieldNames.contains("covered") =>
        meta.getAs[Int]("covered")
      case _ => -1
    }

  /** Delete UNCOMMITTED batch directories (crash debris whose batchId was
    * never retried). Committed batches and the base are untouched.
    * Returns the ids swept.
    */
  def sweepBandIndex(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$path/batches")
    val f = hadoopFs(spark, root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .filterNot(p =>
        f.exists(new org.apache.hadoop.fs.Path(p, BatchCommitMarker)))
      .map { p => f.delete(p, true); p.getName }.sorted
  }

  /** Loaded-artifact memo: the returned [[BandIndex]] holds LAZY plans
    * (no data is cached — every consumer still scans the parquet), but
    * building them costs a footer read per relation plus the meta
    * banding check. Committed batches and the base are immutable, so the
    * plans are memoized per (session, root identity, committed-batch
    * set); a new append changes the batch list and misses, a rebuilt
    * base changes the meta directory identity and misses.
    */
  private val bandIndexCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), BandIndex]()

  /** Load a [[writeBandIndex]] artifact, schema- and banding-checked:
    * the base relations unioned with every COMMITTED batch
    * ([[appendBandIndex]]); uncommitted (torn/in-flight) batch
    * directories are invisible.
    */
  def loadBandIndex(spark: SparkSession, path: String): BandIndex = {
    val metaDir = new java.io.File(path, "meta")
    if (metaDir.exists()) {
      val key = (spark, s"${graft.Tables.fileIdent(metaDir.getPath)}|" +
        bandIndexBatches(spark, path).mkString(","))
      graft.Tables.bounded(bandIndexCache)
      bandIndexCache.computeIfAbsent(key, _ => loadBandIndexUncached(spark, path))
    } else loadBandIndexUncached(spark, path)
  }

  private def loadBandIndexUncached(spark: SparkSession, path: String): BandIndex = {
    // empty meta on the LOAD path keeps its pre-memo failure class
    // (head() on an empty relation = NoSuchElementException)
    val meta = metaRow(spark, path).getOrElse(
      throw new NoSuchElementException(s"$path/meta holds no rows"))
    require(meta.getAs[Int]("sigs") == SIGS && meta.getAs[Int]("bands") == BANDS,
      s"$path was built with (sigs=${meta.getAs[Int]("sigs")}, " +
        s"bands=${meta.getAs[Int]("bands")}) but this engine bands at " +
        s"($SIGS, $BANDS) — rebuild the artifact")
    val batches = bandIndexBatches(spark, path)
    def rel(name: String): DataFrame =
      spark.read.parquet(
        (s"$path/$name" +: batches.map(b => s"$path/batches/$b/$name")): _*)
    val texts = rel("texts")
    val bands = rel("bands")
    val tris = rel("tris")
    require(texts.columns.sorted.sameElements(Array("text", "text_hash")) &&
      bands.columns.sorted.sameElements(Array("band_idx", "band_val", "doc_id")) &&
      tris.columns.sorted.sameElements(Array("arr", "doc_id")),
      s"$path is not a band-index artifact")
    BandIndex(texts, bands, tris)
  }

  /** [[deduplicateAgainst]] from a materialized [[BandIndex]] — the
    * DELTA-PROPORTIONAL daily-ingest kernel. Identical keep/drop output to
    * the inline overload (BandIndexSpec pins equality; the i07 oracle gate
    * hash-checks it against i03's SQL), with the corpus-scaling work
    * replaced by artifact probes:
    *
    *   1. in-batch exact keep-min — batch-sized aggregate, pinned once;
    *   2. exact-vs-corpus: ONE streaming scan of the narrow `texts`
    *      relation against the broadcast batch texts (semi-join; the
    *      corpus side never shuffles, nothing is re-hashed);
    *   3. candidates: the batch's band keys (row-local compute on the
    *      DELTA only) broadcast into one streaming scan of the narrow
    *      `bands` relation — the fan-out is exactly the band collisions,
    *      the same pair set the inline path's self-join would find;
    *   4. confirm: only CANDIDATE representatives' trigram arrays leave
    *      the `tris` relation — an IN-pushdown point read over the sorted
    *      doc_id when the candidate list is ≤ [[BandIndexInListMax]]
    *      (row-group pruning: corpus row groups without candidates are
    *      never decoded), a broadcast semi-join scan above it;
    *   5. in-batch near-dups are found batch-locally as ever.
    *
    * The heavy relation is therefore read candidate-proportionally, the
    * narrow ones stream once per batch with broadcast probes, and NO
    * md5/shingle work touches corpus rows — the screen's wall tracks the
    * delta, not the corpus (measured in BASELINE.md's r12 table).
    * Composes with [[IndexScreen]]: gate the call on the blooms to skip
    * even the narrow scans for all-novel batches.
    */
  def deduplicateAgainst(incoming: DataFrame, index: BandIndex,
      jaccardThreshold: Double): DataFrame =
    deduplicateAgainst(incoming, index, jaccardThreshold, BandIndexInListMax)

  /** [[deduplicateAgainst]] on a [[BandIndex]] with an explicit IN-list
    * cutoff for the confirm-leg read (spec knob: both read paths must
    * agree).
    */
  def deduplicateAgainst(incoming: DataFrame, index: BandIndex,
      jaccardThreshold: Double, inListMax: Int): DataFrame =
    deduplicateAgainstTracked(incoming, index, jaccardThreshold, inListMax)._1

  /** [[deduplicateAgainst]] that also returns the RDD ids its internal
    * localCheckpoints pinned (`fresh` + the candidate pair relation) so a
    * hot-loop caller can [[graft.Checkpoints.free]] them once the
    * returned keep/drop frame is MATERIALIZED — without this, a
    * long-running ingest loop accumulates one snapshot pair per batch
    * until the ContextCleaner happens to GC them (r16 ADVICE item; the
    * connectedComponents pattern). Freeing is destructive: callers must
    * only free after an eager materialization (count/write/checkpoint) of
    * the returned frame. The batch-collapse checkpoint (`inReps`) is
    * freed HERE, eagerly — nothing references it once `fresh` is
    * checkpointed.
    */
  private[graft] def deduplicateAgainstTracked(
      incoming: DataFrame, index: BandIndex,
      jaccardThreshold: Double, inListMax: Int): (DataFrame, Set[Int]) = {
    // 1. in-batch exact keep-min, pinned once (same rationale as the
    //    screened overload: several legs re-derive this aggregate)
    val (inReps, inRepsIds) = graft.Checkpoints.checkpoint(
      incoming.select(col("doc_id"), col("text"))
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text")))

    // 2. exact leg: corpus texts that also appear in the batch (the
    //    broadcast side is the batch — the artifact scan never shuffles)
    val hitTexts = index.texts.select(col("text"))
      .join(broadcast(inReps.select(col("text"))), Seq("text"), "left_semi")
    val (fresh, freshIds) = graft.Checkpoints.checkpoint(
      inReps.join(hitTexts, Seq("text"), "left_anti"))
    // fresh's eager checkpoint was inReps' last reader — release it now
    graft.Checkpoints.free(incoming.sparkSession, inRepsIds)

    // The PAIR relation stays DISTRIBUTED (localCheckpoint, read twice
    // below); only the distinct INDEX ids come to the driver, and only
    // to pick the confirm-leg read path — the IN-pushdown point read
    // under inListMax, the broadcast semi-join scan above it. An earlier
    // r16 revision collected the full pair relation to save this one job;
    // reverted: a boilerplate-heavy batch whose band keys collide with a
    // popular index band produces |batch|×|collisions| pairs, and pulling
    // those onto the driver trades the adaptive fallback's bounded memory
    // for ~0.15 s — the wrong trade on the production ingest path. The
    // id collect is bounded by the fallback's own threshold check and
    // stays the smaller (index-side, distinct) relation.
    //
    // Overlap (guide §2.6, r17): leg A only BUILDS the in-batch LSH plan
    // (5. in-batch near-dups; ~0.6 s of pure Catalyst analysis of the
    // banding tree — the r17 chain profiler's biggest i08 gap) while leg
    // B runs the candidate checkpoint's jobs. Both depend only on the
    // already-materialized `fresh` leaf; leg A starts no job, so the
    // interleaving cannot change any result.
    val (inDrops, candPair) = graft.Par.both(
      // 5. in-batch near-dups (fresh is distinct-text: skew armor holds)
      () => nearDupPairs(fresh, jaccardThreshold)
        .select(col("doc_b").as("doc_id")).distinct(),
      () => {
        // 3. candidate generation: delta band keys (row-local,
        //    delta-sized) broadcast against the bands artifact
        val deltaBands = bandKeys(fresh, SIGS, BANDS)
          .select(col("doc_id").as("new_id"), col("band_idx"), col("band_val"))
        graft.Checkpoints.checkpoint(
          index.bands
            .join(broadcast(deltaBands), Seq("band_idx", "band_val"))
            .select(col("new_id"), col("doc_id").as("idx_id"))
            .distinct()) // candidate-sized; read twice below
      })
    val (cand, candCkptIds) = candPair
    val candIds = cand.select(col("idx_id")).distinct()
      .collect().map(_.getLong(0))

    val idxDrops =
      if (candIds.isEmpty) inDrops.limit(0)
      else {
        // 4. confirm leg: candidate reps' trigram arrays only
        val candTris =
          if (candIds.length <= inListMax)
            index.tris.filter(col("doc_id").isin(candIds.toSeq: _*))
          else
            index.tris.join(
              broadcast(cand.select(col("idx_id").as("doc_id")).distinct()),
              Seq("doc_id"), "left_semi")
        val idxTri = candTris
          .select(col("doc_id").as("idx_id"), size(col("arr")).as("n_b"),
            explode(col("arr")).as("s"))
        val newTri = trigramArr(fresh)
          .select(col("doc_id").as("new_id"), size(col("arr")).as("n_a"),
            explode(col("arr")).as("s2"))
        cand
          .join(newTri, Seq("new_id"))
          .join(idxTri, Seq("idx_id"))
          .filter(col("s") === col("s2"))
          .groupBy(col("new_id"), col("idx_id"), col("n_a"), col("n_b"))
          .agg(count(lit(1)).as("inter"))
          .filter(col("inter") * lit(1.0) /
            (col("n_a") + col("n_b") - col("inter")) >= jaccardThreshold)
          .select(col("new_id").as("doc_id")).distinct()
      }

    (incoming
      .join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(inDrops.unionByName(idxDrops).distinct(), Seq("doc_id"), "left_anti"),
      freshIds ++ candCkptIds)
  }

  /** EXHAUSTIVE Jaccard pairs (doc_a < doc_b): every pair sharing at least
    * one shingle of document-frequency ≤ dfCap, kept when exact trigram
    * Jaccard ≥ threshold. Same inverted-index shape as the d05 query (and
    * reused by it and by d07's clustering); deterministic-complete where
    * [[nearDupPairs]] trades recall for the LSH linear scan.
    */
  private[operators] def jaccardPairs(
      docs: DataFrame, jaccardThreshold: Double, dfCap: Int): DataFrame = {
    val jac = col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter"))
    pairScaffold(docs, dfCap)
      .filter(jac >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        jac.as("jaccard"))
  }

  /** Overlap-coefficient pairs (doc_a < doc_b): same exhaustive df-capped
    * candidate scaffold as [[jaccardPairs]], scored with the overlap
    * (Szymkiewicz–Simpson) coefficient `inter / min(|A|, |B|)` instead of
    * Jaccard. This is the near-SUB-duplicate detector: a short document
    * wholly contained in a long one scores ~1.0 here while its Jaccard
    * (÷ union) can sit far below any dedup threshold — exactly the
    * boilerplate-inclusion / quote-expansion case Jaccard misses.
    */
  private[operators] def overlapPairs(
      docs: DataFrame, overlapThreshold: Double, dfCap: Int): DataFrame = {
    val ov = col("inter") * lit(1.0) / least(col("n_a"), col("n_b"))
    pairScaffold(docs, dfCap)
      .filter(ov >= overlapThreshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        ov.as("overlap"))
  }

  /** Candidate pairs + set sizes shared by [[jaccardPairs]] /
    * [[overlapPairs]]: columns (doc_a, doc_b, inter, n_a, n_b) for every
    * pair sharing ≥ 1 shingle of document frequency ≤ dfCap.
    */
  private def pairScaffold(docs: DataFrame, dfCap: Int): DataFrame = {
    val w = trigramArr(docs)
    // shingles travel as xxhash64 LONGs, not strings (plan-asserted: long
    // join keys keep the join + df-cap aggregates in HashAggregate). The
    // ACCEPTED RISK: two distinct shingles colliding in 64 bits would
    // perturb inter/df counts vs the string-keyed oracle — at p ≈ n²/2^65
    // (n = distinct shingles; ~1e-9 even at 10^8 shingles) this is below
    // the noise floor of any other nondeterminism source, and the
    // threshold decision a collision could flip is itself jitter-adjacent.
    // A paranoid exact variant would carry (h, s) and join on both.
    val tri = w.select(col("doc_id"), explode(col("arr")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    // posting-list candidate generation as a df-capped SELF-EQUI-JOIN:
    // document frequencies first (count aggregate, O(1) state per key),
    // hub shingles above the cap are dropped BEFORE pairing, so per-key
    // join fan-out is provably <= dfCap² even when a hub shingle appears
    // in every document, and no operator holds list state at all (the
    // earlier collect_list + double-explode shape held <= dfCap ids per
    // key — also bounded, but measured 15-50% slower across d05/d07/d14
    // at sf0.1 AND 2× slower on d05 at sf1: the Generate pair expansion
    // costs more than the join's hash probe, and AQE plans the identical
    // post subtrees once). Join strategy is left to Catalyst/AQE —
    // sort-merge spills gracefully at 100 TB; a shuffle_hash hint
    // measured no better at gate scale.
    val dfreq = tri.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= dfCap)
    val post = tri.join(dfreq.select("h"), "h")
    val cand = post.select(col("h"), col("doc_id").as("doc_a"))
      .join(post.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // set sizes via a count aggregate over the exploded table, NOT a
    // row-local size(arr) projection: measured at sf0.1, the projection
    // variant is ~50% SLOWER end-to-end — the aggregate's exchange gives
    // Spark an exact (tiny) row estimate so the n_a/n_b joins broadcast,
    // while the projection inherits the text-heavy scan's size estimate
    // and flips them to sort-merge. Neither side is broadcastable at
    // 100 TB (sz is corpus-sized either way); at every scale the
    // aggregate's stats are strictly more informative.
    val sz = tri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    cand
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
  }

  /** Jaccard-confirmed near-duplicate pairs (doc_a < doc_b): LSH
    * candidates filtered by exact trigram Jaccard ≥ threshold.
    *
    * DUPLICATE POSTURE: pairs are emitted at the granularity of the input
    * rows. On a raw corpus with exact-duplicate mass, the band join takes
    * the hot-key hit and the output is quadratic in multiplicity — the
    * skew-safe callers ([[deduplicate]], [[duplicateClusters]]) pass
    * DISTINCT texts ([[collapseExact]] first) and re-expand afterwards;
    * do the same in new call sites.
    */
  def nearDupPairs(docs: DataFrame, jaccardThreshold: Double): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val cand = lshCandidates(base)
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val ctri = trigrams(base).join(candIds, "doc_id")
    val sz = ctri.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    cand
      .join(ctri.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(ctri.select(col("doc_id").as("doc_b"), col("s").as("s2")), Seq("doc_b"))
      .filter(col("s") === col("s2"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter"))
        >= jaccardThreshold)
      .select("doc_a", "doc_b")
  }

  /** Connected components over an undirected pair graph — minimum-label
    * propagation with pointer jumping (the distributed union-find): each
    * round every vertex adopts the smallest label among itself and its
    * neighbours, then labels chase their own label's label (pointer jump),
    * so convergence is O(log diameter) rounds instead of O(diameter).
    * Each round is two equi-joins + a map-side-combined min aggregate.
    * Returns (doc_id, cluster) where cluster is the component's smallest
    * doc_id.
    *
    * ADAPTIVE small-graph path: the confirmed-pair graph is usually tiny
    * relative to the corpus (near-dup pairs, not documents), and the
    * iterative loop pays ~8 scheduled jobs per round regardless of size.
    * When the edge count is under `localEdgeThreshold` (default 2M edges
    * ≈ 32 MB as two primitive long arrays, plus the union-find map's
    * boxed overhead — sized against the 24g default driver), edges are
    * collected and union-find runs on the driver in milliseconds; the
    * distributed loop engages above it. Both paths produce identical
    * (doc_id, min-id cluster) labels.
    */
  def connectedComponents(
      pairs: DataFrame, localEdgeThreshold: Long = 2000000L,
      maxIters: Int = 20): DataFrame =
    connectedComponentsStats(pairs, localEdgeThreshold, maxIters)._1

  /** Instrumented [[connectedComponents]]: also returns the round count
    * (0 on the driver-local path) and which path ran ("local" /
    * "distributed") — the observables `graft.BenchCC` records for the
    * BASELINE.md local-vs-distributed cost table.
    */
  def connectedComponentsStats(
      pairs: DataFrame, localEdgeThreshold: Long = 2000000L,
      maxIters: Int = 20): (DataFrame, Int, String) = {
    // normalize ids to LONG up front: callers may pass integer-typed ids,
    // and both the primitive-array collect below and the cross-path label
    // type (local vs distributed must agree) depend on a fixed width
    // no .distinct() on the undirected expansion: every caller passes an
    // aggregate's output (unique (doc_a < doc_b) pairs), so the two
    // directed projections cannot collide — and both CC paths are
    // idempotent to duplicate edges anyway (union-find unions, min-label
    // propagation takes min). The distinct was a full extra exchange +
    // aggregate of the edge relation on every clustering query
    // (d07/d14/p18/t22 and the graph lanes), paid for nothing.
    // localCheckpoint (via Checkpoints, for deterministic freeing), not
    // persist: a persisted DataFrame keeps the caller's full pair-scaffold
    // logical plan, so EVERY subsequent action — the threshold count, the
    // local-path collect, and each distributed round's two joins — re-ran
    // Catalyst analysis over the deep banding/join/aggregate tree before
    // the cache manager could substitute the materialized relation. The
    // checkpoint truncates that to a leaf: the scaffold is analyzed and
    // computed exactly once (profiler: the d07/d14/p18/t22 construction
    // chains were dominated by this re-analysis, not by tasks).
    val (edges, edgeIds) = graft.Checkpoints.checkpoint(pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .union(pairs.select(col("doc_b").cast("long").as("src"),
        col("doc_a").cast("long").as("dst"))))
    val edgeCount = edges.count()
    if (edgeCount <= localEdgeThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // collect into two primitive long arrays: boxed Tuple2 + a boxed-key
      // HashMap would cost ~10× the raw 16 B/edge (the r2 advisor sized
      // this honestly); 2M edges ≈ 32 MB primitive + the map below
      val rows = edges.collect()
      val srcArr = new Array[Long](rows.length)
      val dstArr = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        srcArr(i) = rows(i).getLong(0); dstArr(i) = rows(i).getLong(1); i += 1
      }
      graft.Checkpoints.free(spark, edgeIds)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      var e = 0
      while (e < srcArr.length) {
        val a = srcArr(e); val b = dstArr(e)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        e += 1
      }
      // roots are already the minimum id of each component: unions always
      // attach the larger root under the smaller. Snapshot the keys first:
      // find() path-compresses (mutates the map) and iterating a live view
      // while mutating is undefined for mutable.HashMap
      val labels = parent.keys.toSeq.map(v => (v, find(v))).sorted
      return (spark.createDataset(labels).toDF("doc_id", "cluster"), 0, "local")
    }
    // lineage truncation per round (localCheckpoint, not just persist):
    // a persisted DataFrame keeps its full logical plan, so driver-side
    // analysis/cache-lookup would walk an O(rounds)-deep tree each round,
    // so planning alone would grow quadratically in rounds. Superseded
    // snapshots are freed one round after their last reader
    // (graft.Checkpoints), keeping live storage at 2 label copies instead
    // of O(rounds)
    val spark = pairs.sparkSession
    var (labels, labelIds) = graft.Checkpoints.checkpoint(
      edges.select(col("src").as("doc_id")).distinct()
        .withColumn("cluster", col("doc_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbr = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster").as("c_nbr")),
          Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("c_nbr")).as("c_min"))
      val propagated = labels.join(nbr, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("c_min"), col("cluster")))
            .as("cluster"))
      // pointer jump: cluster := label(cluster)
      val (next, nextIds) = graft.Checkpoints.checkpoint(propagated
        .join(propagated.select(col("doc_id").as("cluster"),
          col("cluster").as("c_jump")), Seq("cluster"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("c_jump"), col("cluster")))
            .as("cluster")))
      val changed = next.join(
          labels.select(col("doc_id"), col("cluster").as("old")), Seq("doc_id"))
        .filter(col("cluster") < col("old")).count()
      // the convergence check above was the old snapshot's last reader
      graft.Checkpoints.free(spark, labelIds)
      labels = next; labelIds = nextIds
      converged = changed == 0
      iter += 1
    }
    graft.Checkpoints.free(spark, edgeIds)
    // returning partial labels on a non-converged loop would silently
    // mislabel clusters (docs kept that should have been dropped); with
    // pointer jumping maxIters=20 covers diameters to ~2^20, so hitting
    // the cap means something is structurally wrong — fail loudly
    require(converged,
      s"connectedComponents did not converge within $maxIters rounds " +
        "(graph diameter too large?); raise maxIters")
    (labels, iter, "distributed")
  }

  /** Duplicate CLUSTERS: connected components over the Jaccard-confirmed
    * near-dup pair graph, computed REP-LEVEL (the [[collapseExact]] skew
    * armor) and expanded to documents through the label join — LINEAR in
    * duplicate multiplicity where a pair-level expansion would be
    * quadratic (a 10⁶-copy text gets 10⁶ label rows, not 10¹² pairs).
    * Exact-duplicate groups cluster together even when their text is in
    * no near-dup pair (their membership IS duplication). Docs that are
    * unique and in no pair are their own singleton cluster (not
    * returned — join back against the corpus if needed).
    */
  def duplicateClusters(docs: DataFrame, jaccardThreshold: Double = 0.6): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val collapsed = collapseExact(base)
    val reps = collapsed.select(col("rep_id").as("doc_id"), col("text"))
    val repLabels = connectedComponents(nearDupPairs(reps, jaccardThreshold))
    // exact-dup groups whose rep is in no near-dup pair still form a
    // cluster labeled by the rep; left join keeps pair-component labels
    // where they exist
    val dupReps = collapsed.filter(col("n_copies") >= 2)
      .select(col("rep_id"))
    val allReps = repLabels.select(col("doc_id").as("rep_id"))
      .union(dupReps).distinct()
      .join(repLabels.select(col("doc_id").as("rep_id"), col("cluster")),
        Seq("rep_id"), "left")
      .select(col("rep_id"), coalesce(col("cluster"), col("rep_id")).as("cluster"))
    repMap(base, collapsed)
      .join(allReps, Seq("rep_id"))
      .select(col("doc_id"), col("cluster"))
  }

  /** MinHash + LSH candidate pairs: 8 signatures, 2 bands × 4 rows; docs
    * sharing any band key are candidates. The band join is an equi-join on
    * (band_idx, band_val) — shuffle carries only band keys and ids.
    */
  /** DuckDB CTE prefix computing trigram shingles (`tri`), minhash
    * signatures (`sig` with m0..m7), and LSH band keys (`bands`) — shared
    * by d03 (candidate pairs) and d11 (sketch-accuracy audit).
    */
  private def minhashOracleCtesTuned(numSigs: Int, numBands: Int): String = {
    val nDigests = (numSigs + 3) / 4
    // digest j of [[minhashSigsTuned]] is h{j+1} here: h1 = md5(s),
    // h2 = md5('s:'||s) (kept verbatim so the 8-sig path is
    // byte-identical to the original d03/d11 oracle), h{j+1} = md5('sj:'||s)
    val digests = (0 until nDigests).map {
      case 0 => "md5(s) AS h1"
      case 1 => "md5('s:'||s) AS h2"
      case j => s"md5('s$j:'||s) AS h${j + 1}"
    }.mkString(", ")
    val sigCols = (0 until numSigs).map { k =>
      val src = s"h${k / 4 + 1}"
      val pos = (k % 4) * 8 + 1
      s"min(substr($src, $pos, 8)) AS m$k"
    }.mkString(", ")
    val rows = numSigs / numBands
    val bandSelects = (0 until numBands).map { b =>
      val parts = (0 until rows).map(r => s"m${b * rows + r}")
        .mkString("||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tri AS (SELECT DISTINCT doc_id,
       |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
       |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
       |        FROM w),
       |hs AS (SELECT doc_id, $digests FROM tri),
       |sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  private val minhashOracleCtes: String = minhashOracleCtesTuned(SIGS, BANDS)

  /** d03 runs the band join over DISTINCT texts (the [[collapseExact]]
    * skew armor): a boilerplate text with 10⁶ exact copies would otherwise
    * put 10⁶ rows on one (band_idx, band_val) key — the signature pipeline
    * hashes each text once instead, and duplicate docs re-enter through
    * the expansion joins. Same-text docs share every band by construction,
    * so their pairs come from the diagonal — restricted to texts that
    * produce at least one shingle, since sub-3-word docs emit no bands in
    * either engine.
    */
  val minhashLsh: QueryDef = q(
    "d03_dedup_minhash_lsh",
    s"""WITH $minhashOracleCtes
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a
       |JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |            AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // no Tables.parallel here: the collapse aggregate's exchange already
    // redistributes to spark.sql.shuffle.partitions BEFORE the md5-heavy
    // signature pipeline, so a scan-level round-robin would only add a
    // second full-corpus move
    val base = Tables.documents(s, d).select("doc_id", "text")
    val collapsed = collapseExact(base)
    val reps = collapsed.select(col("rep_id").as("doc_id"), col("text"))
    val repCand = lshCandidates(reps)
      .select(col("doc_a").as("r1"), col("doc_b").as("r2"))
    val diag = collapsed
      .filter(col("n_copies") >= 2 && expr("size(split(text, ' ')) >= 3"))
      .select(col("rep_id").as("r1"), col("rep_id").as("r2"))
    expandRepPairs(repCand.union(diag), repMap(base, collapsed), Nil)
      .orderBy("doc_a", "doc_b")
  }

  /** Sketch-accuracy AUDIT: for every LSH candidate pair, the minhash
    * Jaccard estimate (fraction of the 8 signature components that agree)
    * next to the exact trigram Jaccard. This is the calibration query a
    * production dedup pipeline runs before picking a banding/threshold:
    * it quantifies, on the corpus itself, how far the sketch strays from
    * the truth it gates on.
    *
    * Cost shape — ONE corpus-scale pass, STRICTLY LINEAR pipeline:
    *   - band rows carry their 8 signature slots through the band
    *     equi-join, so candidate pairs emerge WITH both sides' signatures
    *     and the agreement count folds into the pair-dedup aggregate — no
    *     re-join of the signature table, and with the merge hint both band
    *     sides reuse one exchange (the sig pipeline runs once);
    *   - the exact Jaccard then comes from joining the two TEXTS onto the
    *     (tiny) pair table and intersecting the distinct-trigram arrays
    *     ROW-LOCALLY (`array_intersect`/`size`) — |pairs| interpreted-
    *     lambda evaluations, not a corpus pass, and exact string
    *     semantics matching the oracle.
    *   A naive cand → candidate-ids → per-side shingle join DAG re-expands
    *   the unpersisted candidate subtree at every reference (measured 30
    *   scans / 51 explodes in the AQE-final plan); keeping the pipeline
    *   linear keeps it at one.
    * est = k/8 and the Jaccard division are single IEEE ops on exact
    * integers — bit-identical across engines. A band collision without a
    * shared shingle yields inter = 0 → jaccard = 0, mirroring the
    * oracle's outer-join COALESCE.
    *
    * DUPLICATE POSTURE: the audit runs doc-level to mirror its oracle
    * exactly. Exact duplicates add no calibration information (identical
    * signatures, identical exact Jaccard), so a production calibration
    * pass on a skewed corpus should feed this the [[collapseExact]]-ed
    * representatives — same numbers, hot band keys avoided.
    */
  val minhashEstimate: QueryDef = {
    val agreeSql = (0 until SIGS)
      .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    q("d11_minhash_jaccard_est",
      s"""WITH $minhashOracleCtes,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a
         |         JOIN bands b ON a.band_idx = b.band_idx
         |                     AND a.band_val = b.band_val
         |                     AND a.doc_id < b.doc_id),
         |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
         |          FROM cand c
         |          JOIN tri ta ON ta.doc_id = c.doc_a
         |          JOIN tri tb ON tb.doc_id = c.doc_b AND tb.s = ta.s
         |          GROUP BY c.doc_a, c.doc_b),
         |est AS (SELECT c.doc_a, c.doc_b,
         |          CAST($agreeSql AS DOUBLE) / 8.0 AS est_jaccard
         |        FROM cand c
         |        JOIN sig sa ON sa.doc_id = c.doc_a
         |        JOIN sig sb ON sb.doc_id = c.doc_b)
         |SELECT e.doc_a, e.doc_b, e.est_jaccard,
         |       CAST(COALESCE(i.inter, 0) AS DOUBLE)
         |         / (sa.n + sb.n - COALESCE(i.inter, 0)) AS jaccard
         |FROM est e
         |JOIN sz sa ON sa.doc_id = e.doc_a
         |JOIN sz sb ON sb.doc_id = e.doc_b
         |LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin) { (s, d) =>
      val base = Tables.parallel(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      // d03's codegen'd signature pipeline, one corpus pass (merge hint:
      // both band sides reuse the same exchange)
      val sig = minhashSigs(base)
      val rows = SIGS / BANDS
      val bandArr = array((0 until BANDS).map { b =>
        struct(lit(b).as("band_idx"),
          md5(concat((0 until rows).map(r => col(s"m${b * rows + r}")): _*))
            .as("band_val"))
      }: _*)
      // band rows CARRY their signature slots so pairs emerge with both
      // sides' signatures — no later re-join of the signature table
      val bands = sig.select(
        col("doc_id") +: explode(bandArr).as("band") +:
          (0 until SIGS).map(k => col(s"m$k")): _*)
        .select(col("doc_id") +: col("band.band_idx") +: col("band.band_val") +:
          (0 until SIGS).map(k => col(s"m$k")): _*)
      val a = bands.select(col("doc_id").as("doc_a") +: col("band_idx") +:
        col("band_val") +: (0 until SIGS).map(k => col(s"m$k").as(s"a$k")): _*)
      val b = bands.select(col("doc_id").as("doc_b") +:
        col("band_idx").as("bi") +: col("band_val").as("bv") +:
        (0 until SIGS).map(k => col(s"m$k").as(s"b$k")): _*)
      val agree = (0 until SIGS)
        .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
        .reduce(_ + _)
      // pair dedup (a pair can match on both bands) folds the agreement
      // count into the same aggregate
      val pairs = a.hint("merge")
        .join(b, col("band_idx") === col("bi") && col("band_val") === col("bv") &&
          col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(min(agree).as("agree"))
      // exact side: texts join onto the tiny pair table; distinct-trigram
      // intersection is row-local array arithmetic over |pairs| rows
      def triArr(t: String): String =
        s"""array_distinct(if(size(split($t, ' ')) < 3, array(),
           |   transform(sequence(1, size(split($t, ' '))-2),
           |     i -> concat(split($t, ' ')[i-1], ' ', split($t, ' ')[i],
           |                 ' ', split($t, ' ')[i+1]))))""".stripMargin
      pairs
        .join(base.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
        .join(base.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
        .withColumn("ta", expr(triArr("text_a")))
        .withColumn("tb", expr(triArr("text_b")))
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
        .withColumn("n_a", size(col("ta")))
        .withColumn("n_b", size(col("tb")))
        .select(col("doc_a"), col("doc_b"),
          (col("agree").cast("double") / lit(8.0)).as("est_jaccard"),
          (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
            .as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** 16-bit SimHash fingerprint per doc from md5 nibbles of each token —
    * near-duplicate docs land on equal/close fingerprints. Explode + one
    * map-side-combined aggregate.
    */
  /** DuckDB CTE prefix computing (doc_id, simhash) as `fps` — shared by
    * d04 (fingerprints) and d08 (hamming pairing).
    */
  private val simhashCtes: String = {
    val sums = (0 until 16).map { b =>
      val j = b / 4; val p = b % 4
      s"sum(CASE WHEN (n$j >> $p) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val fp = (0 until 16)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |h AS (SELECT doc_id, md5(word) AS hx FROM w),
       |nib AS (SELECT doc_id,
       |  strpos('0123456789abcdef', substr(hx,1,1))-1 AS n0,
       |  strpos('0123456789abcdef', substr(hx,2,1))-1 AS n1,
       |  strpos('0123456789abcdef', substr(hx,3,1))-1 AS n2,
       |  strpos('0123456789abcdef', substr(hx,4,1))-1 AS n3 FROM h),
       |sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
       |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  /** Spark side of the same fingerprint: (doc_id, simhash LONG). */
  private def simhashFps(doc: DataFrame): DataFrame = {
    val nib = doc
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("hx"))
      .select(col("doc_id") +:
        (0 until 4).map(j =>
          expr(s"instr('0123456789abcdef', substr(hx, ${j + 1}, 1)) - 1").as(s"n$j")): _*)
    val sums = nib.groupBy(col("doc_id")).agg(
      sum(when(expr(s"(n0 >> 0) & 1") === 1, 1).otherwise(-1)).as("s0"),
      (1 until 16).map { b =>
        val j = b / 4; val p = b % 4
        sum(when(expr(s"(n$j >> $p) & 1") === 1, 1).otherwise(-1)).as(s"s$b")
      }: _*)
    val fp = (0 until 16)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), fp.cast("long").as("simhash"))
  }

  /** The d19 pipeline's banding is NOT hand-picked: [[planBanding]]
    * chooses it from a signature budget and the confirm threshold, and
    * BOTH the engine pipeline and the oracle SQL are built from the
    * planner's output — the planner drives the gated query, and the gate
    * proves the planned banding computes what it claims. At (numSigs=12,
    * τ=0.5, fnWeight=10) the planner lands on 6 bands × 2 rows
    * (S-curve midpoint (1/6)^(1/2) ≈ 0.41, just under the threshold — the
    * FN-weighted trade; BandPlanSpec pins the choice and its stability).
    */
  private[operators] val PlannedSigs = 12
  private[operators] val PlannedThreshold = 0.5
  private[operators] val (plannedBands, plannedRowsPerBand) =
    planBanding(PlannedSigs, PlannedThreshold)

  /** Planner-driven LSH candidates: [[lshCandidatesTuned]] at the
    * [[planBanding]]-chosen banding. Same scale shape as d03 at any
    * setting — per-row signatures, band equi-join moving only (band, id)
    * pairs, one reused exchange for both sides.
    */
  val lshPlanned: QueryDef = q(
    "d19_lsh_planned",
    s"""WITH ${minhashOracleCtesTuned(PlannedSigs, plannedBands)}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a
       |JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |            AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val base = Tables.parallel(
      Tables.documents(s, d).select("doc_id", "text"))
    lshCandidatesTuned(base, PlannedSigs, plannedBands)
      .orderBy("doc_a", "doc_b")
  }

  /** d20: MinHash+LSH near-dup candidates over CHARACTER 5-gram shingles
    * — the tokenization-free sibling of d03. Word shingles break when a
    * copy is re-wrapped, re-punctuated, or differently tokenized (every
    * trigram containing a changed boundary differs); char windows
    * degrade smoothly under the same edits, so this lane catches the
    * mangled-copy near-dups d03's lexical lane misses. Production dedup
    * runs both lanes and unions candidates before the confirm step.
    * Same scale shape AND same skew armor as d03: signatures are
    * computed over DISTINCT texts ([[collapseExact]] — boilerplate with
    * 10⁶ exact copies contributes ONE row to the char band join instead
    * of 10⁶ on one hot band key), same-text pairs re-enter through the
    * diagonal (texts of ≥ 5 chars, the window-existence bound both
    * engines share), and duplicate docs through the streamed expansion
    * joins — DedupSkewSpec pins the multiplicity arithmetic under 2000×
    * dup mass. The oracle states the equivalent doc-level join.
    */
  val minhashCharLsh: QueryDef = {
    val sigCols = (0 until SIGS).map { k =>
      val src = if (k < 4) "h1" else "h2"
      val pos = (k % 4) * 8 + 1
      s"min(substr($src, $pos, 8)) AS m$k"
    }.mkString(", ")
    val rows = SIGS / BANDS
    val bandSelects = (0 until BANDS).map { b =>
      val parts = (0 until rows).map(r => s"m${b * rows + r}").mkString("||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    q("d20_dedup_charngram",
      s"""WITH cg AS (SELECT doc_id, substr(text, CAST(i AS INT), 5) AS s
         |        FROM (SELECT doc_id, text,
         |                unnest(range(1, greatest(len(text)-4, 0)+1)) AS i
         |              FROM documents)),
         |hs AS (SELECT doc_id, md5(s) AS h1, md5('s:'||s) AS h2 FROM cg),
         |sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a
         |JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |            AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text")
      val collapsed = collapseExact(base)
      // The rebalance here is LOAD-BEARING: AQE coalesces the collapse
      // aggregate's few-MB output to a handful of partitions, and without
      // the round-robin the char-md5 explode downstream — the densest scan
      // in the module, every 5-char window ≈ 5× the word-trigram shingle
      // volume — runs nearly serial (measured 7.4 → 2.1 s at sf0.1, equal
      // load, from this one repartition; d03's word pipeline is light enough that
      // its comment-documented no-parallel choice still holds there).
      // widenSmall (r17) replaces the r16 slack=1 probe: the `.rdd`
      // partition probe on this post-aggregate plan EXECUTED the collapse
      // stages at construction time under AQE — the metadata-only source-
      // bytes gate keeps the full-width rebalance without running the
      // query twice.
      val reps = Tables.widenSmall(
        collapsed.select(col("rep_id").as("doc_id"), col("text")))
      // materialize the tiny pair table once: the expansion joins
      // reference it more than once and AQE cannot reuse the
      // differently-pruned signature subplans
      val repCand = charLshCandidates(reps)
        .select(col("doc_a").as("r1"), col("doc_b").as("r2"))
        .localCheckpoint()
      val diag = collapsed
        .filter(col("n_copies") >= 2 && length(col("text")) >= 5)
        .select(col("rep_id").as("r1"), col("rep_id").as("r2"))
      expandRepPairs(repCand.union(diag), repMap(base, collapsed), Nil)
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Planned banding for the CHARACTER lane (d24): the d19 planner run
    * at the char lane's confirm threshold. Char 5-gram Jaccard between
    * genuine near-copies sits far higher than word-trigram Jaccard
    * (windows survive re-wrapping), so the lane confirms at τ = 0.8;
    * planBanding(12, 0.8) lands on 3 bands × 4 rows (S-curve midpoint
    * (1/3)^(1/4) ≈ 0.76, just under the threshold — BandPlanSpec pins
    * the choice). */
  private[operators] val CharPlannedSigs = 12
  private[operators] val CharPlannedThreshold = 0.8
  private[operators] val (charPlannedBands, charPlannedRows) =
    planBanding(CharPlannedSigs, CharPlannedThreshold)

  /** Band-frequency cap for the char lane (d24/d25): a (band_idx,
    * band_val) key shared by more than this many DISTINCT texts is a
    * hot bucket — template/boilerplate mass whose within-bucket pair
    * fan-out is quadratic — and is excluded from pair generation, so
    * per-key fan-out is bounded by cap²/2 no matter the corpus size
    * (the df-cap discipline d05 applies to shingles, applied to band
    * keys). Exact copies are unaffected: they collapse BEFORE banding
    * and pair through the d20 diagonal; what the cap drops is the
    * mega-cluster candidate mass d20 measured at 120M pairs/30× — the
    * d25 audit row prices exactly what was dropped.
    */
  private[operators] val CharBandCap = 64

  /** (doc_id, band_idx, band_val) keys for the char lane at a tuned
    * banding — [[bandKeys]]'s char-shingle twin. */
  private[operators] def charBandKeys(
      doc: DataFrame, numSigs: Int, numBands: Int): DataFrame =
    bandsFromSig(sigsFromShingles(charShingles(doc), numSigs, "doc_id"),
      numBands, numSigs / numBands)

  /** The shared oracle CTE prefix for d24/d25: distinct-text
    * representatives → char 5-gram shingles → 12 minhash signatures →
    * planner-chosen bands → per-key member counts. Built from the
    * PLANNER's (bands, rows) exactly like d19's oracle, so the gate
    * proves the planned banding computes what it claims.
    */
  private def charPlannedOracleCtes: String = {
    val nDigests = (CharPlannedSigs + 3) / 4
    val digests = (0 until nDigests).map {
      case 0 => "md5(s) AS h1"
      case 1 => "md5('s:'||s) AS h2"
      case j => s"md5('s$j:'||s) AS h${j + 1}"
    }.mkString(", ")
    val sigCols = (0 until CharPlannedSigs).map { k =>
      val src = s"h${k / 4 + 1}"
      val pos = (k % 4) * 8 + 1
      s"min(substr($src, $pos, 8)) AS m$k"
    }.mkString(", ")
    val bandSelects = (0 until charPlannedBands).map { b =>
      val parts = (0 until charPlannedRows)
        .map(r => s"m${b * charPlannedRows + r}").mkString("||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"""rep AS (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text),
       |cg AS (SELECT doc_id, substr(text, CAST(i AS INT), 5) AS s
       |       FROM (SELECT doc_id, text,
       |               unnest(range(1, greatest(len(text)-4, 0)+1)) AS i
       |             FROM rep)),
       |hs AS (SELECT doc_id, $digests FROM cg),
       |sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
       |bands AS ($bandSelects),
       |kc AS (SELECT band_idx, band_val, count(*) AS nk
       |       FROM bands GROUP BY 1, 2)""".stripMargin
  }

  /** d24: the char-ngram lane under PLANNED banding + a band-frequency
    * cap — the candidate-volume control d20's fixed banding lacks. Output
    * is REPRESENTATIVE-level pairs (rep_a < rep_b over distinct-text
    * representatives): the 100 TB confirm step runs on distinct texts and
    * expands once at the end, and d20 already gates the doc-level
    * expansion contract. Hot band keys (> [[CharBandCap]] distinct texts)
    * are excluded — per-key pair fan-out is bounded by cap²/2, so a 100×
    * corpus cannot detonate the band join; the d25 audit prices the
    * excluded mass.
    *
    * Scale shape: per-row signatures; the key-count aggregate and the
    * cap join both ride ONE exchange on (band_idx, band_val); the pair
    * join moves only (band, rep) pairs. Nothing is all-pairs, nothing
    * holds per-key lists.
    */
  val lshCharPlanned: QueryDef = q(
    "d24_charngram_planned",
    s"""WITH $charPlannedOracleCtes,
       |kept AS (SELECT b.doc_id, b.band_idx, b.band_val
       |         FROM bands b JOIN kc USING (band_idx, band_val)
       |         WHERE kc.nk <= $CharBandCap)
       |SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
       |FROM kept a
       |JOIN kept b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |            AND a.doc_id < b.doc_id
       |ORDER BY rep_a, rep_b""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select("doc_id", "text")
    // widenSmall, not a partition probe: see d20 (same lane, same r17 fix)
    val reps = Tables.widenSmall(collapseExact(base)
      .select(col("rep_id").as("doc_id"), col("text")))
    val bands = charBandKeys(reps, CharPlannedSigs, charPlannedBands)
    val kc = bands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("nk"))
    val kept = bands
      .join(kc.filter(col("nk") <= CharBandCap), Seq("band_idx", "band_val"))
      .select("doc_id", "band_idx", "band_val")
    pairsFromBands(kept, "rep_a", "rep_b").orderBy("rep_a", "rep_b")
  }

  /** d25: the char-band AUDIT row — what a platform team reads BEFORE
    * running the d24 lane on a 100× corpus: per band, how many keys
    * exist, how many are hot (and how much row mass they carry), and the
    * EXACT candidate-pair budget the capped join will generate
    * (Σ nk·(nk−1)/2 over kept keys — the number that was 120M/pass for
    * the uncapped lane at 30×). Pure aggregate over the band keys; no
    * pair is ever generated to price the pair volume.
    */
  val charBandAudit: QueryDef = q(
    "d25_charband_audit",
    s"""WITH $charPlannedOracleCtes
       |SELECT band_idx,
       |  CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(CASE WHEN nk > $CharBandCap THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_hot_keys,
       |  CAST(sum(CASE WHEN nk > $CharBandCap THEN nk ELSE 0 END) AS BIGINT)
       |    AS n_hot_rows,
       |  CAST(sum(CASE WHEN nk <= $CharBandCap
       |                THEN nk * (nk - 1) // 2 ELSE 0 END) AS BIGINT)
       |    AS n_pairs_bound
       |FROM kc GROUP BY band_idx
       |ORDER BY band_idx""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select("doc_id", "text")
    // widenSmall, not a partition probe: see d20 (same lane, same r17 fix)
    val reps = Tables.widenSmall(collapseExact(base)
      .select(col("rep_id").as("doc_id"), col("text")))
    charBandKeys(reps, CharPlannedSigs, charPlannedBands)
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("nk"))
      .groupBy("band_idx")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("nk") > CharBandCap, 1L).otherwise(0L)).as("n_hot_keys"),
        sum(when(col("nk") > CharBandCap, col("nk")).otherwise(0L))
          .as("n_hot_rows"),
        sum(when(col("nk") <= CharBandCap,
          expr("nk * (nk - 1) div 2")).otherwise(0L)).as("n_pairs_bound"))
      .orderBy("band_idx")
  }

  /** Char-band candidate pairs (doc_a < doc_b) over whatever frame is
    * passed in — the d20 kernel, callable on [[collapseExact]]
    * representatives (the gated query does) or raw docs.
    */
  private[operators] def charLshCandidates(doc: DataFrame): DataFrame =
    pairsFromBands(charBandKeys(doc, SIGS, BANDS), "doc_a", "doc_b")

  val simhash: QueryDef = q(
    "d04_dedup_simhash",
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash FROM fps
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    simhashFps(Tables.parallel(Tables.documents(s, d))).orderBy("doc_id")
  }

  /** SimHash near-duplicate PAIRS: all doc pairs whose 16-bit fingerprints
    * differ in ≤ 3 bits. The hamming join runs over the DISTINCT
    * fingerprint table — bounded by 2^16 regardless of corpus size — and
    * only then expands to documents via two equi-joins, so the corpus is
    * never self-joined. This is the sketch-pairing counterpart of d03's
    * banding: constant-size candidate structure, linear expansion.
    *
    * SCALE GUARD: 16 bits saturate under corpus growth — every docs/2^16
    * density factor multiplies the OUTPUT quadratically (the r12 sf10
    * sweep wrote 1.68e9 pairs "successfully", which is the wrong default
    * at 100×). A pre-audit computes the EXACT output-pair count from the
    * fingerprint group sizes (one aggregate over ≤ 2^16 groups plus a
    * bounded theta join, milliseconds) and refuses past
    * `SPARK_GRAFT_D08_PAIR_BUDGET` (default 2^27 ≈ 1.3e8) with a
    * message routing to the scale paths: d09 (64-bit fingerprints — the
    * production width, 102k rows where this lane saturates) and d24
    * (banded + capped char lane). Raise the knob only when a
    * billion-pair materialization is the intended product.
    */
  val simhashPairs: QueryDef = q(
    "d08_simhash_pairs",
    s"""WITH $simhashCtes,
       |d AS (SELECT DISTINCT simhash FROM fps),
       |close_fp AS (
       |  SELECT a.simhash AS f1, b.simhash AS f2
       |  FROM d a JOIN d b
       |    ON bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3)
       |SELECT fa.doc_id AS doc_a, fb.doc_id AS doc_b,
       |       bit_count(CAST(xor(fa.simhash, fb.simhash) AS BIGINT)) AS hamming
       |FROM close_fp
       |JOIN fps fa ON fa.simhash = f1
       |JOIN fps fb ON fb.simhash = f2
       |WHERE fa.doc_id < fb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // localCheckpoint: the audit action below and the main plan both
    // consume fps — materializing the (doc_id, simhash) frame once
    // (2 longs × |docs|) costs less than recomputing the explode+md5
    // fingerprint pass, and this lane is budget-capped small by design
    val fps = simhashFps(Tables.parallel(Tables.documents(s, d)))
      .localCheckpoint()
    // pair-budget pre-audit (see scaladoc): exact output size from group
    // sizes, refused loudly instead of detonating a saturated sketch.
    // The 1-row collect is the audit's point — bounded and driver-side.
    val budget = sys.env.get("SPARK_GRAFT_D08_PAIR_BUDGET")
      .map(_.toLong).getOrElse(1L << 27)
    val gc = fps.groupBy(col("simhash")).agg(count(lit(1)).as("n"))
    val bound = Option(gc.select(col("simhash").as("f1"), col("n").as("n1"))
      .join(gc.select(col("simhash").as("f2"), col("n").as("n2")),
        bit_count(col("f1").bitwiseXOR(col("f2"))) <= 3 &&
          col("f1") <= col("f2"))
      .agg(sum(when(col("f1") === col("f2"),
        expr("n1 * (n1 - 1) div 2")).otherwise(col("n1") * col("n2")))
        .as("b"))
      .head().getAs[java.lang.Long]("b")).map(_.longValue).getOrElse(0L)
    require(bound <= budget,
      s"d08 would emit $bound pairs (> budget $budget): the 16-bit " +
        "simhash space is saturated at this corpus size. Use d09 " +
        "(64-bit fingerprints) or d24 (banded+capped char lane), or " +
        "raise SPARK_GRAFT_D08_PAIR_BUDGET if the full materialization " +
        "is intended.")
    // the theta-join candidate table holds DISTINCT fingerprints only —
    // at 16 bits a fingerprint group collects UNRELATED colliding docs,
    // so carrying doc-id lists here would put the whole corpus's ids on
    // the broadcast side; docs expand via bounded equi-joins instead
    val dfp = fps.select(col("simhash")).distinct()
    val close = dfp.select(col("simhash").as("f1"))
      .join(dfp.select(col("simhash").as("f2")),
        bit_count(col("f1").bitwiseXOR(col("f2"))) <= 3)
    close
      .join(fps.select(col("doc_id").as("doc_a"), col("simhash").as("f1")), "f1")
      .join(fps.select(col("doc_id").as("doc_b"), col("simhash").as("f2")), "f2")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash per doc — the production-width fingerprint (d04/d08
    * keep the 16-bit variant as their oracle gate): all 16 md5 nibbles of
    * each token vote on 64 bits. Same explode → map-side-combined
    * aggregate shape; the 64 partial sums ride one HashAggregate row.
    * Bit 63's weight is Long.MinValue — the fingerprint is a bit PATTERN,
    * so two's-complement sign is irrelevant; both engines build it by the
    * same non-overflowing addition of distinct powers.
    */
  private def simhashFps64(doc: DataFrame): DataFrame = {
    // nibble extraction as long arithmetic, not string ops: the first 16
    // hex chars decode through TWO conv() calls (8 chars each — 32 bits,
    // safely inside BIGINT; one 16-char conv would overflow), then each
    // nibble is a codegen'd shift+mask — 16 substr+instr string probes per
    // word cost measurably more. Hex char 1 is the MOST significant
    // nibble of its 8-char slice, so n_j = (h >> (28 - 4*(j mod 8))) & 15
    // — value-identical to the strpos nibbles the oracle states.
    val nib = doc
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .select(col("doc_id"), md5(col("word")).as("hx"))
      .select(col("doc_id"),
        expr("cast(conv(substr(hx, 1, 8), 16, 10) as bigint)").as("h1"),
        expr("cast(conv(substr(hx, 9, 8), 16, 10) as bigint)").as("h2"))
      .select(col("doc_id") +:
        (0 until 16).map { j =>
          val src = if (j < 8) "h1" else "h2"
          expr(s"($src >> ${28 - 4 * (j % 8)}) & 15").as(s"n$j")
        }: _*)
    val sums = nib.groupBy(col("doc_id")).agg(
      sum(when(expr(s"(n0 >> 0) & 1") === 1, 1).otherwise(-1)).as("s0"),
      (1 until 64).map { b =>
        val j = b / 4; val p = b % 4
        sum(when(expr(s"(n$j >> $p) & 1") === 1, 1).otherwise(-1)).as(s"s$b")
      }: _*)
    val fp = (0 until 64)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("doc_id"), fp.cast("long").as("simhash"))
  }

  /** Per-fingerprint rep-id lists over an (already [[collapseExact]]-ed)
    * rep frame — d09's one list-carrying aggregate, package-visible so the
    * skew spec can assert its state stays bounded under duplicate mass.
    */
  private[operators] def fpGroups(reps: DataFrame): DataFrame =
    simhashFps64(reps)
      .groupBy(col("simhash")).agg(collect_list(col("doc_id")).as("ids"))

  /** DuckDB twin of [[simhashFps64]], exposed as CTE `fps64`. */
  private val simhash64Ctes: String = {
    val nibs = (0 until 16)
      .map(j => s"strpos('0123456789abcdef', substr(hx,${j + 1},1))-1 AS n$j")
      .mkString(", ")
    val sums = (0 until 64).map { b =>
      val j = b / 4; val p = b % 4
      s"sum(CASE WHEN (n$j >> $p) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val fp = (0 until 64).map { b =>
      val w = 1L << b // b=63 prints Long.MinValue; BIGINT addition of
      // distinct powers never leaves the long range
      s"CASE WHEN s$b > 0 THEN CAST($w AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |h AS (SELECT doc_id, md5(word) AS hx FROM w),
       |nib AS (SELECT doc_id, $nibs FROM h),
       |sums AS (SELECT doc_id, $sums FROM nib GROUP BY doc_id),
       |fps64 AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  /** 64-bit SimHash near-duplicate pairs (hamming ≤ 3) via the
    * bank-pigeonhole equi-join: split each fingerprint into 4 disjoint
    * 16-bit banks — two fingerprints within hamming distance 3 differ in
    * at most 3 banks, so they AGREE on at least one (pigeonhole; the
    * Manku/Jain/Sarma WWW'07 construction). Candidates come from an
    * equi-join on (bank_idx, bank_value) over the DISTINCT-fingerprint
    * table, then exact bit_count verification — no
    * BroadcastNestedLoopJoin anywhere (plan-asserted), unlike d08's
    * 16-bit BNLJ which only stays cheap because 2^16 bounds that table.
    * Guaranteed recall (the pigeonhole bound is exact, not
    * probabilistic), candidates linear-ish in corpus under uniform
    * hashing.
    *
    * SINGLE-PASS layout: the fingerprint aggregate feeds one
    * groupBy(simhash) that carries each fingerprint's rep-id LIST; bank
    * rows keep the list attached, so confirmed fingerprint pairs expand
    * to rep pairs by exploding the two lists row-locally — no re-join of
    * the fingerprint table (which previously re-ran the corpus aggregate
    * per consumer).
    *
    * SKEW ARMOR ([[collapseExact]] first): fingerprints are computed over
    * DISTINCT texts only, so the per-fingerprint id list holds one entry
    * per distinct text — exact-duplicate mass (the 10⁶-copy boilerplate
    * hazard) can no longer inflate a single aggregation buffer. Post-
    * collapse, same-fingerprint groups only collect DIFFERENT texts that
    * collide on all 64 bits, which under uniform hashing is a handful of
    * near-identical texts, not a corpus fraction. Same-text (hamming-0)
    * doc pairs re-enter as the diagonal of the expansion joins — streamed,
    * never held in one buffer (see the pair-expansion contract on
    * [[expandRepPairs]]); every doc has a fingerprint (an empty text still
    * hashes its one empty token), so the diagonal is unconditional.
    */
  val simhashPairs64: QueryDef = q(
    "d09_simhash_hamming64",
    s"""WITH $simhash64Ctes,
       |d AS (SELECT DISTINCT simhash FROM fps64),
       |close_fp AS (
       |  SELECT a.simhash AS f1, b.simhash AS f2
       |  FROM d a JOIN d b
       |    ON bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3)
       |SELECT fa.doc_id AS doc_a, fb.doc_id AS doc_b,
       |       bit_count(CAST(xor(fa.simhash, fb.simhash) AS BIGINT)) AS hamming
       |FROM close_fp
       |JOIN fps64 fa ON fa.simhash = f1
       |JOIN fps64 fb ON fb.simhash = f2
       |WHERE fa.doc_id < fb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d).select("doc_id", "text")
    val collapsed = collapseExact(base)
    val g = fpGroups(collapsed.select(col("rep_id").as("doc_id"), col("text")))
    def banks(fpCol: String, prefix: String): Column = explode(array(
      (0 until 4).map(k => struct(lit(k).as(s"${prefix}k"),
        shiftright(col(fpCol), k * 16).bitwiseAND(lit(65535L))
          .as(s"${prefix}v"))): _*))
    val b1 = g.select(col("simhash").as("f1"), col("ids").as("ids1"),
      banks("simhash", "b").as("b"))
      .select(col("f1"), col("ids1"), col("b.bk"), col("b.bv"))
    val b2 = g.select(col("simhash").as("f2"), col("ids").as("ids2"),
      banks("simhash", "c").as("c"))
      .select(col("f2"), col("ids2"), col("c.ck"), col("c.cv"))
    // f1 <= f2 keeps one orientation of each fingerprint pair (equality =
    // the hamming-0 self-match); multi-bank agreement would duplicate a
    // pair, so the join keeps only the FIRST agreeing bank — "every bank
    // before bk differs" is derivable from the fingerprints themselves,
    // which makes the dedup a codegen'd predicate instead of an aggregate
    def bankv(f: Column, j: Int): Column =
      shiftright(f, j * 16).bitwiseAND(lit(65535L))
    val firstAgreeingBank = (0 until 4).map { j =>
      (col("bk") === j) && (0 until j)
        .map(i => bankv(col("f1"), i) =!= bankv(col("f2"), i))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val cand = b1.hint("merge")
      .join(b2, col("bk") === col("ck") && col("bv") === col("cv") &&
        col("f1") <= col("f2") && firstAgreeingBank)
      .filter(bit_count(col("f1").bitwiseXOR(col("f2"))) <= 3)
    // row-local REP expansion: explode both (short, per-distinct-text)
    // lists; within an equal-fingerprint group each unordered pair appears
    // twice, so keep x < y there; across fingerprints each pair appears
    // once. Same-text doc pairs are the diagonal (hamming 0 by identity).
    val repPairs = cand
      .select(col("f1"), col("f2"), explode(col("ids1")).as("x"), col("ids2"))
      .select(col("f1"), col("f2"), col("x"), explode(col("ids2")).as("y"))
      .filter(col("f1") =!= col("f2") || col("x") < col("y"))
      .select(col("x").as("r1"), col("y").as("r2"),
        bit_count(col("f1").bitwiseXOR(col("f2"))).cast("long").as("hamming"))
    val diag = collapsed.filter(col("n_copies") >= 2)
      .select(col("rep_id").as("r1"), col("rep_id").as("r2"),
        lit(0L).as("hamming"))
    expandRepPairs(repPairs.union(diag), repMap(base, collapsed), Seq("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact word-trigram Jaccard over inverted-index candidates: docs share
    * at least one trigram shingle (document frequency ≤ 50 to bound hub
    * fan-out); pairs with J ≥ 0.2 survive. Integer set sizes → the final
    * double division is exact-operand and deterministic.
    */
  val ngramJaccard: QueryDef = q(
    "d05_dedup_ngram_jaccard",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
      |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
      |        FROM w),
      |df AS (SELECT s, count(*) AS c FROM tri GROUP BY s),
      |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |         FROM tri a
      |         JOIN df ON df.s = a.s AND df.c <= 50
      |         JOIN tri b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
      |       inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
      |FROM cand
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    jaccardPairs(Tables.parallel(Tables.documents(s, d).select("doc_id", "text")),
        0.2, 50)
      .orderBy("doc_a", "doc_b")
  }

  /** d18: near-sub-duplicate pairs by overlap coefficient — the
    * containment-style companion to d05. Same df-capped inverted-index
    * candidate scaffold ([[pairScaffold]], shared subtree with d05/d07 so
    * a composed curation run plans it once); the score divides by the
    * SMALLER set, so a short doc embedded in a long one is caught at
    * ~1.0 where Jaccard dilutes it below threshold. 100 TB shape is
    * identical to d05's (provably ≤ dfCap² fan-out per shingle, no list
    * state).
    */
  val overlapContainment: QueryDef = q(
    "d18_overlap_containment",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
      |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
      |        FROM w),
      |df AS (SELECT s, count(*) AS c FROM tri GROUP BY s),
      |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |         FROM tri a
      |         JOIN df ON df.s = a.s AND df.c <= 50
      |         JOIN tri b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
      |       inter * 1.0 / least(sa.n, sb.n) AS overlap
      |FROM cand
      |JOIN sz sa ON sa.doc_id = doc_a
      |JOIN sz sb ON sb.doc_id = doc_b
      |WHERE inter * 1.0 / least(sa.n, sb.n) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    overlapPairs(Tables.parallel(Tables.documents(s, d).select("doc_id", "text")),
        0.5, 50)
      .orderBy("doc_a", "doc_b")
  }

  /** The d05 oracle's CTE prefix, reused by d07 (which clusters the same
    * confirmed pair set).
    */
  private val pairCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tri AS (SELECT DISTINCT doc_id,
      |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
      |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
      |        FROM w),
      |df AS (SELECT s, count(*) AS c FROM tri GROUP BY s),
      |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
      |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |         FROM tri a
      |         JOIN df ON df.s = a.s AND df.c <= 50
      |         JOIN tri b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2),
      |conf AS (SELECT doc_a, doc_b FROM cand
      |         JOIN sz sa ON sa.doc_id = doc_a
      |         JOIN sz sb ON sb.doc_id = doc_b
      |         WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.2)""".stripMargin

  /** Duplicate clusters as an oracle-checked query: connected components
    * over the exhaustive Jaccard pair graph (doc_a < doc_b, J ≥ 0.2 —
    * exactly d05's pair set), each doc labeled with its component's
    * smallest doc_id.
    *
    * The engine side runs the distributed min-label-propagation +
    * pointer-jumping loop of [[connectedComponents]] (O(log diameter)
    * rounds of equi-joins); the oracle states the same fixpoint as a
    * recursive-CTE transitive closure — tractable for DuckDB at gate
    * scale, quadratic-in-component-size at 100 TB, which is precisely why
    * the engine does label propagation instead.
    */
  /** Duplicate-cluster table from the EXHAUSTIVE pair graph (the d07
    * pipeline as a public library op): df-capped Jaccard pairs → adaptive
    * connected components. Returns `(doc_id, cluster)` for every document
    * with at least one near-duplicate; singletons absent by construction.
    * Deterministic-complete where [[duplicateClusters]] (the LSH variant)
    * trades recall for a linear scan. A curation pipeline materializes ONE
    * cluster table and feeds both [[keepCanonical]] and any removal/audit
    * pass — recomputing the pair graph per consumer is the d14-standalone-
    * query shape, fine for one query, wrong in a pipeline.
    */
  def jaccardClusters(docs: DataFrame, jaccardThreshold: Double,
      dfCap: Int = 50): DataFrame =
    connectedComponents(jaccardPairs(docs, jaccardThreshold, dfCap))

  /** Quality-aware CANONICAL selection over a PRECOMPUTED cluster table:
    * within each cluster, rank by `quality` (descending, doc_id
    * tie-break — deterministic under retries) and keep the top member.
    * Returns `clusters ⋈ docs` with every `docs` column plus `keep`.
    *
    * `docs` carries whatever columns `quality` references (length, a t12
    * classifier margin, an LM fluency score…); `clusters` is
    * `(doc_id, cluster)` — typically a materialized [[duplicateClusters]]
    * output, so selection costs ONE window over cluster-bounded
    * partitions and zero pair-graph recomputation. Cluster sizes are
    * bounded by the pair graph's components, never the corpus, so the
    * window never sees a corpus-scale partition.
    */
  def keepCanonical(docs: DataFrame, clusters: DataFrame,
      quality: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(quality.desc, col("doc_id"))
    clusters.join(docs, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
  }

  val dupClusters: QueryDef = q(
    "d07_dup_clusters",
    s"""WITH RECURSIVE $pairCtes,
       |und AS (SELECT doc_a AS a, doc_b AS b FROM conf
       |        UNION ALL SELECT doc_b, doc_a FROM conf),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT und.a, reach.r FROM und JOIN reach ON reach.doc_id = und.b)
       |SELECT doc_id, min(r) AS cluster FROM reach
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    jaccardClusters(
      Tables.parallel(Tables.documents(s, d).select("doc_id", "text")), 0.2, 50)
      .orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION as a removal pipeline: drop every corpus
    * doc whose contaminated-5-gram fraction exceeds `threshold` (0.0 drops
    * on any shared shingle — the conservative eval-hygiene default).
    * Returns the surviving rows of `docs` with their original columns.
    *
    * Same scale shape as the d10 probe: benchmark shingles are distinct-
    * hashed and broadcast; the corpus streams scan → shingle-explode →
    * broadcast-join → per-doc conditional aggregate → anti-join back on
    * doc_id. The corpus shuffles once, keyed on doc_id, only to carry the
    * drop verdicts.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.0): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(if(size(ws) < 5, array(),
          |  transform(sequence(1, size(ws)-4),
          |    i -> concat(ws[i-1],' ',ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3]))))""".stripMargin))
        .as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val bench = grams(benchmark.select(col("doc_id"), col("text")))
      .select(col("h").as("bh")).distinct()
    val verdicts = grams(docs.select(col("doc_id"), col("text")))
      .join(broadcast(bench), col("h") === col("bh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("bh")).as("n_hit"))
      .filter(col("n_hit") * lit(1.0) / col("n_shingles") > threshold)
      .select(col("doc_id"))
    docs.join(verdicts, Seq("doc_id"), "left_anti")
  }

  /** Benchmark-contamination check (the decontamination pass every
    * training pipeline runs before eval): corpus docs sharing any
    * 5-gram word shingle with the benchmark set (stand-in: doc_id < 50),
    * with the contaminated-shingle fraction per doc.
    *
    * Scale shape: the benchmark shingle table is the SMALL dimension —
    * distinct-hashed and broadcast — while the corpus streams through a
    * scan → shingle-explode → broadcast-hash-join → per-doc count, so the
    * 100 TB corpus never shuffles for the probe (the only exchange is the
    * per-doc aggregate, keyed on doc_id). Shingles travel as xxhash64
    * longs (same documented collision posture as d05).
    */
  val contamination: QueryDef = q(
    "d10_contamination",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest(list_transform(range(1, greatest(len(ws)-4, 0)+1),
      |          i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2]||' '||ws[CAST(i AS INT)+3]||' '||ws[CAST(i AS INT)+4])) AS s
      |      FROM w),
      |bench AS (SELECT DISTINCT s FROM g WHERE doc_id < 50),
      |corpus AS (SELECT doc_id, s FROM g WHERE doc_id >= 50),
      |sz AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id),
      |hits AS (SELECT doc_id, count(*) AS n_contaminated
      |         FROM corpus JOIN bench USING (s) GROUP BY doc_id)
      |SELECT doc_id, n_contaminated, n_shingles,
      |       n_contaminated * 1.0 / n_shingles AS contamination
      |FROM hits JOIN sz USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.parallel(
      Tables.documents(s, d).select("doc_id", "text"))
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(if(size(ws) < 5, array(),
          |  transform(sequence(1, size(ws)-4),
          |    i -> concat(ws[i-1],' ',ws[i],' ',ws[i+1],' ',ws[i+2],' ',ws[i+3]))))""".stripMargin))
        .as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    val bench = g.filter(col("doc_id") < 50).select(col("h").as("bh")).distinct()
    // ONE corpus pass: left-join the broadcast benchmark set to flag each
    // shingle, then a single conditional aggregate computes total and
    // contaminated counts together (two independent aggregates would scan
    // and re-shingle the corpus twice)
    val corpus = g.filter(col("doc_id") >= 50)
    corpus.join(broadcast(bench), col("h") === col("bh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("bh")).as("n_contaminated"))
      .filter(col("n_contaminated") > 0)
      .select(col("doc_id"), col("n_contaminated"), col("n_shingles"),
        (col("n_contaminated") * lit(1.0) / col("n_shingles"))
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** d14: quality-aware CANONICAL selection within duplicate clusters —
    * what a curation pipeline actually does with d07's components. The
    * min-doc_id representative the plain dedup keeps is arbitrary;
    * production pipelines keep the BEST member of each near-dup cluster
    * (here: the longest text, the standard keep-the-most-complete-copy
    * heuristic — any integer quality column slots into the same rank,
    * e.g. t12's `score_micro`). Deterministic end to end: the rank orders
    * by (n_chars DESC, doc_id), so ties cannot flap between engines or
    * retries.
    *
    * Scale shape: clustering is d07's (df-capped pair generation +
    * adaptive CC); the selection window partitions by CLUSTER — cluster
    * sizes are bounded by the pair graph's components, not the corpus, so
    * the window never sees a corpus-scale partition.
    */
  val canonicalKeep: QueryDef = q(
    "d14_canonical_keep",
    s"""WITH RECURSIVE $pairCtes,
       |und AS (SELECT doc_a AS a, doc_b AS b FROM conf
       |        UNION ALL SELECT doc_b, doc_a FROM conf),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT und.a, reach.r FROM und JOIN reach ON reach.doc_id = und.b),
       |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |ln AS (SELECT doc_id, length(text) AS n_chars FROM documents)
       |SELECT c.doc_id, c.cluster, l.n_chars,
       |       (row_number() OVER (PARTITION BY c.cluster
       |                           ORDER BY l.n_chars DESC, c.doc_id)) = 1 AS keep
       |FROM cl c JOIN ln l ON l.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val clusters = jaccardClusters(Tables.parallel(docs), 0.2, 50)
    keepCanonical(
      docs.select(col("doc_id"), length(col("text")).as("n_chars")),
      clusters, col("n_chars"))
      .select("doc_id", "cluster", "n_chars", "keep")
      .orderBy("doc_id")
  }

  /** d15: sorted-neighborhood dedup with edit-distance confirmation — the
    * classic SNM blocking strategy (Hernández & Stolfo, SIGMOD '95) that
    * LSH families don't cover: sort within a cheap block key (here the
    * 16-char prefix, which is exactly how templated boilerplate clusters),
    * compare each doc only against its next `w`=2 neighbors in sort order,
    * and confirm candidates with exact Levenshtein distance ≤ 20.
    *
    * Scale shape: candidate generation is ONE hash shuffle on the block
    * key + a per-block window — O(w·n) comparisons total instead of the
    * O(n²) of all-pairs edit distance, and the quadratic-cost Levenshtein
    * kernel runs only on the w·n candidate pairs, never the cross product.
    * Block sizes are bounded by the prefix cardinality (no corpus-scale
    * window partitions); a production multi-pass SNM re-runs the same
    * plan with rotated sort keys.
    */
  val editDistNeighborhood: QueryDef = q(
    "d15_editdist_snm",
    """WITH d AS (
      |  SELECT doc_id, text, substr(text, 1, 16) AS blk FROM documents),
      |w AS (
      |  SELECT doc_id, text,
      |         lead(doc_id, 1) OVER win AS id1, lead(text, 1) OVER win AS t1,
      |         lead(doc_id, 2) OVER win AS id2, lead(text, 2) OVER win AS t2
      |  FROM d WINDOW win AS (PARTITION BY blk ORDER BY text, doc_id)),
      |cand AS (
      |  SELECT doc_id, text, id1 AS nid, t1 AS ntext FROM w WHERE id1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, text, id2, t2 FROM w WHERE id2 IS NOT NULL),
      |conf AS (
      |  SELECT least(doc_id, nid) AS doc_a, greatest(doc_id, nid) AS doc_b,
      |         levenshtein(text, ntext) AS dist
      |  FROM cand)
      |SELECT doc_a, doc_b, dist FROM conf
      |WHERE dist <= 20
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val win = Window.partitionBy(col("blk")).orderBy(col("text"), col("doc_id"))
    val me = struct(col("doc_id"), col("text"))
    Tables.parallel(Tables.documents(s, d))
      .select(col("doc_id"), col("text"),
        substring(col("text"), 1, 16).as("blk"))
      .select(me.as("a"),
        lead(me, 1).over(win).as("n1"), lead(me, 2).over(win).as("n2"))
      .select(col("a"), explode(array(col("n1"), col("n2"))).as("b"))
      .filter(col("b").isNotNull)
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        levenshtein(col("a.text"), col("b.text")).as("dist"))
      .filter(col("dist") <= 20)
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-SOURCE corpus overlap: estimated AND exact shingle-set Jaccard
    * for every source pair — the dataset-curation question "how much of
    * source B is already in source A" (dedup-before-mix planning,
    * contamination triage between crawls).
    *
    * Two independent measurements per pair:
    *   - `est_jaccard`: agreement of per-source MERGED MinHash signatures.
    *     MinHash is a mergeable sketch — min composes — so the per-source
    *     signature is ONE hash aggregate over the corpus (O(numSigs)
    *     state per source, no pairwise work until the K×K signature join,
    *     K = #sources). This is the number a 100 TB run keeps refreshing:
    *     cost is a corpus scan, never a corpus join.
    *   - `jaccard`: the exact value the estimate converges to, from
    *     distinct (source, shingle) pairs: per-shingle self-join fans out
    *     at most K² per distinct shingle (K is small by construction —
    *     sources are crawls/feeds, not documents), and per-source sizes
    *     are count aggregates. Calibration at audit scale; the estimate
    *     alone at full scale.
    */
  def sourceOverlap(docs: DataFrame, numSigs: Int = 16): DataFrame = {
    val sig = minhashSigsKeyed(docs.select(col("source"), col("text")),
      numSigs, "source")
    val tri = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("source"), col("ws"), explode(expr(
        "if(size(ws) < 3, array(), sequence(1, size(ws)-2))")).as("i"))
      .select(col("source"),
        expr("concat(ws[i-1], ' ', ws[i], ' ', ws[i+1])").as("s"))
      .distinct()
    val sz = tri.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = tri.as("ta")
      .join(tri.as("tb"),
        col("tb.s") === col("ta.s") && col("ta.source") < col("tb.source"))
      .groupBy(col("ta.source").as("src_a"), col("tb.source").as("src_b"))
      .agg(count(lit(1)).as("i"))
    val sa = sig.select(col("source").as("src_a") +:
      (0 until numSigs).map(k => col(s"m$k").as(s"a$k")): _*)
    val sb = sig.select(col("source").as("src_b") +:
      (0 until numSigs).map(k => col(s"m$k").as(s"b$k")): _*)
    val agree = (0 until numSigs)
      .map(k => when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
      .reduce(_ + _)
    sa.join(sb, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), agree.as("agree"))
      .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        (col("agree").cast("double") / numSigs).as("est_jaccard"),
        (coalesce(col("i"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L)))).as("jaccard"))
  }

  /** d16: the source-overlap audit over the real corpus, both measures,
    * every source pair. 16 signature slots = 4 md5 digests per shingle.
    */
  val sourceOverlapAudit: QueryDef = {
    val nSigs = 16
    val sigCols = (0 until nSigs).map { k =>
      val pos = (k % 4) * 8 + 1
      s"min(substr(h${k / 4}, $pos, 8)) AS m$k"
    }.mkString(", ")
    val digests = (0 until nSigs / 4).map {
      case 0 => "md5(s) AS h0"
      case 1 => "md5('s:'||s) AS h1"
      case j => s"md5('s$j:'||s) AS h$j"
    }.mkString(", ")
    val agreeSql = (0 until nSigs)
      .map(k => s"(CASE WHEN sa.m$k = sb.m$k THEN 1 ELSE 0 END)")
      .mkString(" + ")
    q("d16_source_overlap",
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         |tri AS (SELECT DISTINCT source,
         |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
         |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
         |        FROM w),
         |hs AS (SELECT source, s, $digests FROM tri),
         |sig AS (SELECT source, $sigCols FROM hs GROUP BY source),
         |sz AS (SELECT source, count(*) AS n FROM tri GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
         |          FROM tri a JOIN tri b ON b.s = a.s AND a.source < b.source
         |          GROUP BY 1, 2),
         |pairs AS (SELECT sa.source AS src_a, sb.source AS src_b,
         |            $agreeSql AS agree
         |          FROM sig sa JOIN sig sb ON sa.source < sb.source)
         |SELECT p.src_a AS src_a, p.src_b AS src_b,
         |       CAST(p.agree AS DOUBLE) / $nSigs AS est_jaccard,
         |       CAST(COALESCE(i.i, 0) AS DOUBLE)
         |         / (za.n + zb.n - COALESCE(i.i, 0)) AS jaccard
         |FROM pairs p
         |JOIN sz za ON za.source = p.src_a
         |JOIN sz zb ON zb.source = p.src_b
         |LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
         |ORDER BY p.src_a, p.src_b""".stripMargin) { (s, d) =>
      sourceOverlap(
        Tables.parallel(Tables.documents(s, d).select(col("source"), col("text"))),
        nSigs)
        .orderBy("src_a", "src_b")
    }
  }

  /** d21: IDF-WEIGHTED Jaccard verification of the LSH candidates — the
    * rare-term-aware confirm step. Raw trigram Jaccard (d05/d11) treats
    * "the quick brown" and a shared serial number alike; weighting each
    * DISTINCT shared word by `floor(1e6·N/df)` makes overlap on rare
    * vocabulary dominate, which is what a curation pipeline actually
    * wants to confirm before dropping a document. Every operand is an
    * exact integer (idf units cap at 1e6·N ≈ 4.5e11 at sf3, per-doc sums
    * well inside 2^53), so the similarity is ONE double division —
    * bit-identical across engines, no sqrt, no decimal conversion.
    *
    * Scale shape: idf is a VOCAB-sized table (AQE broadcasts it); the
    * only corpus-scale moves are the term explode and the per-doc
    * weight aggregate; the pair-term intersection joins touch |pairs|
    * rows. Doc-level like d11 (its oracle states doc-level); a skewed
    * corpus feeds this the [[collapseExact]] representatives.
    *
    * Oracle note: `cand` is MATERIALIZED. Inlined, DuckDB cannot
    * estimate the md5-derived candidate count (250 at sf0.1), orders
    * the `inter` joins term-first, and the wterm⋈wterm leg explodes
    * quadratically in common-word df — the r11 sf0.1 oracle DNF
    * (>300 s where 4.8 s suffices once the fence pins cand's size).
    */
  val idfJaccard: QueryDef = q(
    "d21_idf_jaccard",
    s"""WITH $minhashOracleCtes,
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a
       |         JOIN bands b ON a.band_idx = b.band_idx
       |                     AND a.band_val = b.band_val
       |                     AND a.doc_id < b.doc_id),
       |wterm AS (SELECT DISTINCT doc_id, unnest(ws) AS t FROM w),
       |nn AS (SELECT count(*) AS n FROM documents),
       |idf AS (SELECT t, CAST(1000000 * nn.n // count(*) AS BIGINT) AS iw
       |        FROM wterm, nn GROUP BY t, nn.n),
       |docw AS (SELECT doc_id, CAST(sum(iw) AS BIGINT) AS tw
       |         FROM wterm JOIN idf USING (t) GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, CAST(sum(idf.iw) AS BIGINT) AS iw
       |          FROM cand c
       |          JOIN wterm ta ON ta.doc_id = c.doc_a
       |          JOIN wterm tb ON tb.doc_id = c.doc_b AND tb.t = ta.t
       |          JOIN idf ON idf.t = ta.t
       |          GROUP BY c.doc_a, c.doc_b)
       |SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
       |       COALESCE(i.iw, 0) AS inter_w,
       |       wa.tw + wb.tw - COALESCE(i.iw, 0) AS union_w,
       |       CAST(COALESCE(i.iw, 0) AS DOUBLE)
       |         / (wa.tw + wb.tw - COALESCE(i.iw, 0)) AS sim
       |FROM cand c JOIN docw wa ON wa.doc_id = c.doc_a
       |            JOIN docw wb ON wb.doc_id = c.doc_b
       |LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |ORDER BY c.doc_a, c.doc_b""".stripMargin) { (s, d) =>
    val base = Tables.parallel(Tables.documents(s, d).select("doc_id", "text"))
    val cand = lshCandidates(base)
    val wterm = base.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("t"))
    val nn = base.agg(count(lit(1)).as("n"))
    val idf = wterm.groupBy("t").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nn))
      .select(col("t"), expr("CAST(1000000 * n div df AS BIGINT)").as("iw"))
    val docw = wterm.join(idf, "t").groupBy("doc_id")
      .agg(sum(col("iw")).as("tw"))
    val inter = cand
      .join(wterm.select(col("doc_id").as("doc_a"), col("t")), "doc_a")
      .join(wterm.select(col("doc_id").as("doc_b"), col("t").as("t2")),
        Seq("doc_b"))
      .filter(col("t") === col("t2"))
      .join(idf, "t")
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("iw")).as("iiw"))
    cand
      .join(docw.select(col("doc_id").as("doc_a"), col("tw").as("wa")), "doc_a")
      .join(docw.select(col("doc_id").as("doc_b"), col("tw").as("wb")), "doc_b")
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("iiw"), lit(0L)).as("inter_w"),
        (col("wa") + col("wb") - coalesce(col("iiw"), lit(0L))).as("union_w"))
      .withColumn("sim",
        col("inter_w").cast("double") /
          (col("union_w")).cast("double"))
      .orderBy("doc_a", "doc_b")
  }

  /** p18: LEAKAGE-SAFE train/val/test split — the p03 deterministic hash
    * split keyed on the near-dup CLUSTER instead of the document, so two
    * near-duplicates can never straddle train and test (the eval-leakage
    * vector a doc-keyed split leaves open; Dodge et al. 2021 measure the
    * damage). Each doc's group key is its d07 cluster representative
    * (COALESCE to its own id for unclustered docs); the split is a pure
    * function of that key, so it is stable under retries, reshards, and
    * corpus appends that do not touch the cluster. Lives in Dedup (not
    * Sampling) because the grouping is the dedup module's clustering;
    * the p14 group-split covers the metadata-key variant.
    *
    * Scale shape: d07's candidate scaffold + adaptive CC produce the
    * (tiny) cluster table; docs LEFT-join it on doc_id — the only
    * corpus-scale move — and the split itself is a row-local md5.
    */
  /** p18's split law from a PRECOMPUTED cluster table — the artifact
    * consumer path (see [[writeClusters]]): docs LEFT-join the cluster
    * table on doc_id (the only corpus-scale move), the split is a
    * row-local md5 of the group key. Identical output to the inline p18
    * pipeline by construction (ClusterArtifactSpec pins the hash
    * equality); engine cost from an artifact is join-only — no shingle
    * explode, no pair join, no CC rounds.
    */
  def splitByCluster(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val cl = clusters.select(col("doc_id").as("cdoc"), col("cluster"))
    docs.join(cl, col("doc_id") === col("cdoc"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("grp"))
      .withColumn("split", expr(
        """CASE WHEN substr(md5(CAST(grp AS STRING)), 1, 2) < 'cd' THEN 'train'
          |     WHEN substr(md5(CAST(grp AS STRING)), 1, 2) < 'e6' THEN 'val'
          |     ELSE 'test' END""".stripMargin))
  }

  /** Materialize a `(doc_id, cluster)` table as the corpus snapshot's
    * CLUSTER ARTIFACT — the production seam the r10 review asked for:
    * clustering (pair generation + CC, the expensive part) runs ONCE per
    * snapshot, and every consumer ([[splitByCluster]] for p18,
    * [[keepCanonical]] for d14, removal/audit passes) JOINS the artifact
    * instead of re-deriving components inline. Plain parquet through
    * Spark's committer (atomic publish); schema pinned on both ends.
    */
  def writeClusters(clusters: DataFrame, path: String): Unit = {
    require(clusters.columns.sorted.sameElements(Array("cluster", "doc_id")),
      s"cluster artifact schema must be (doc_id, cluster), " +
        s"got (${clusters.columns.mkString(", ")})")
    clusters.write.mode("overwrite").parquet(path)
  }

  /** Load a [[writeClusters]] artifact, schema-checked. */
  def loadClusters(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(df.columns.sorted.sameElements(Array("cluster", "doc_id")),
      s"$path is not a cluster artifact: expected (doc_id, cluster), " +
        s"got (${df.columns.mkString(", ")})")
    df.select(col("doc_id"), col("cluster"))
  }

  val leakageSafeSplit: QueryDef = q(
    "p18_leakage_safe_split",
    s"""WITH RECURSIVE $pairCtes,
       |und AS (SELECT doc_a AS a, doc_b AS b FROM conf
       |        UNION ALL SELECT doc_b, doc_a FROM conf),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT und.a, reach.r FROM und JOIN reach ON reach.doc_id = und.b),
       |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |grp AS (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS grp
       |        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)
       |SELECT doc_id, grp,
       |  CASE WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
       |       WHEN substr(md5(CAST(grp AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM grp
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.parallel(Tables.documents(s, d).select("doc_id", "text"))
    splitByCluster(docs, jaccardClusters(docs, 0.2, 50))
      .orderBy("doc_id")
  }

  /** d26: EMPIRICAL LSH recall audit — the measured S-curve of the d03
    * banding against exact ground truth, the number a 100 TB operator
    * needs before trusting the planner's theoretical curve on THEIR
    * corpus (shingle-size and length distributions shift the effective
    * curve; [[planBanding]] integrates the ideal one).
    *
    * Ground truth is d05's df-capped inverted-index pair set (every pair
    * sharing a ≤50-df trigram — the engine's exact lane, linear at any
    * corpus size), bucketed by floor(10·J) in exact integer arithmetic
    * (`(10·i) div (union)` — no float threshold anywhere), left-joined
    * against the d03 band-join candidates. Per bucket: truth mass, caught
    * mass, empirical recall, and the planner's predicted capture
    * probability 1−(1−s⁴)² = 2s⁴−s⁸ at the bucket midpoint — evaluated
    * in exact integer arithmetic over s = p/20 (p = min(2b+1, 20)) with
    * ONE double division, so both engines agree bit-for-bit. The expected
    * reading: high buckets ≈ 1.0 recall (the d03 contract), low buckets
    * tracking the S-curve's tail.
    */
  val lshRecallAudit: QueryDef = {
    val rows = SIGS / BANDS
    val bandSelects = (0 until BANDS).map { b =>
      val parts = (0 until rows).map(r => s"m${b * rows + r}").mkString("||")
      s"SELECT doc_id, $b AS band_idx, md5($parts) AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    val sigCols = (0 until SIGS).map { k =>
      val src = s"h${k / 4 + 1}"
      val pos = (k % 4) * 8 + 1
      s"min(substr($src, $pos, 8)) AS m$k"
    }.mkString(", ")
    q("d26_lsh_recall_audit",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |tri AS (SELECT DISTINCT doc_id,
         |          unnest(list_transform(range(1, greatest(len(ws)-2, 0)+1),
         |            i -> ws[CAST(i AS INT)]||' '||ws[CAST(i AS INT)+1]||' '||ws[CAST(i AS INT)+2])) AS s
         |        FROM w),
         |df AS (SELECT s, count(*) AS c FROM tri GROUP BY s),
         |sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM tri a
         |          JOIN df ON df.s = a.s AND df.c <= 50
         |          JOIN tri b ON a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |tr AS (SELECT doc_a, doc_b, bucket FROM (
         |         SELECT doc_a, doc_b, (10 * i) // (sa.n + sb.n - i) AS bucket
         |         FROM inter JOIN sz sa ON sa.doc_id = doc_a
         |                    JOIN sz sb ON sb.doc_id = doc_b)
         |       WHERE bucket >= 1),
         |hs AS (SELECT doc_id, md5(s) AS h1, md5('s:'||s) AS h2 FROM tri),
         |sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS ca, b.doc_id AS cb
         |         FROM bands a
         |         JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |                     AND a.doc_id < b.doc_id),
         |j AS (SELECT t.bucket, count(*) AS n_pairs, count(c.ca) AS n_caught
         |      FROM tr t LEFT JOIN cand c ON c.ca = t.doc_a AND c.cb = t.doc_b
         |      GROUP BY t.bucket),
         |pp AS (SELECT bucket, n_pairs, n_caught,
         |         least(2 * bucket + 1, 20) AS pm FROM j)
         |SELECT bucket, n_pairs, n_caught,
         |  n_caught * 1.0 / n_pairs AS recall,
         |  CAST(2 * pm*pm*pm*pm * 160000 - pm*pm*pm*pm*pm*pm*pm*pm AS DOUBLE)
         |    / 25600000000.0 AS predicted
         |FROM pp ORDER BY bucket""".stripMargin) { (s, d) =>
      val docs = Tables.parallel(
        Tables.documents(s, d).select("doc_id", "text"))
      val truth = pairScaffold(docs, 50)
        .select(col("doc_a"), col("doc_b"),
          expr("(10 * inter) div (n_a + n_b - inter)").as("bucket"))
        .filter(col("bucket") >= 1)
      val cand = lshCandidates(docs)
        .select(col("doc_a").as("ca"), col("doc_b").as("cb"),
          lit(1).as("hit"))
      val pm = least(lit(2L) * col("bucket") + 1L, lit(20L))
      truth
        .join(cand,
          col("doc_a") === col("ca") && col("doc_b") === col("cb"), "left")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"), count(col("hit")).as("n_caught"))
        .select(col("bucket"), col("n_pairs"), col("n_caught"),
          (col("n_caught").cast("double") / col("n_pairs").cast("double"))
            .as("recall"),
          ((lit(2L) * pm * pm * pm * pm * lit(160000L) -
            pm * pm * pm * pm * pm * pm * pm * pm).cast("double") /
            lit(2.56e10)).as("predicted"))
        .orderBy("bucket")
    }
  }

  /** t22: DEDUP SAVINGS report — what near-dup dedup is worth, in the
    * currency that matters to a training run: tokens. Per source: docs
    * and whitespace tokens before dedup, the mass the d07 cluster chain's
    * keep-min policy drops, and the dropped fraction. This is the row a
    * data lead reads before paying for a dedup pass at 100 TB — and the
    * after-the-fact audit that the pass did what the planner promised.
    *
    * Scale shape: the cluster chain is d07's (in production read from the
    * materialized artifact — [[loadClusters]] — instead of recomputed);
    * the report itself is ONE documents scan with a row-local token
    * count, a left join against the (small) drop set, and a per-source
    * map-side-combined aggregate. Exact integer token sums; the one
    * division is exact-operand.
    */
  val dedupSavings: QueryDef = q(
    "t22_dedup_savings",
    s"""WITH RECURSIVE $pairCtes,
       |und AS (SELECT doc_a AS a, doc_b AS b FROM conf
       |        UNION ALL SELECT doc_b, doc_a FROM conf),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT a, a FROM und
       |  UNION
       |  SELECT und.a, reach.r FROM und JOIN reach ON reach.doc_id = und.b),
       |cl AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |drops AS (SELECT doc_id FROM cl WHERE doc_id <> cluster),
       |toks AS (SELECT doc_id, source,
       |           len(regexp_extract_all(text, '\\S+')) AS t
       |         FROM documents),
       |agg AS (SELECT source,
       |          count(*) AS n_docs,
       |          count(d.doc_id) AS n_dropped,
       |          CAST(sum(t) AS BIGINT) AS tokens_total,
       |          CAST(coalesce(sum(t) FILTER (WHERE d.doc_id IS NOT NULL), 0)
       |               AS BIGINT) AS tokens_dropped
       |        FROM toks LEFT JOIN drops d ON d.doc_id = toks.doc_id
       |        GROUP BY source)
       |SELECT source, n_docs, n_dropped, tokens_total, tokens_dropped,
       |       tokens_dropped * 1.0 / tokens_total AS pct_tokens_dropped
       |FROM agg ORDER BY source""".stripMargin) { (s, d) =>
    val docs = Tables.parallel(
      Tables.documents(s, d).select("doc_id", "source", "text"))
    val drops = jaccardClusters(docs.select("doc_id", "text"), 0.2, 50)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("drop_id"))
    docs
      .select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("t"))
      .join(broadcast(drops), col("doc_id") === col("drop_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("drop_id")).as("n_dropped"),
        sum(col("t")).as("tokens_total"),
        sum(when(col("drop_id").isNotNull, col("t")).otherwise(lit(0L)))
          .as("tokens_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("tokens_total"), col("tokens_dropped"),
        (col("tokens_dropped").cast("double") /
          col("tokens_total").cast("double")).as("pct_tokens_dropped"))
      .orderBy("source")
  }

  def defs: Seq[QueryDef] =
    Seq(exact, prefixKey, minhashLsh, simhash, ngramJaccard, dupClusters,
      simhashPairs, simhashPairs64, contamination, minhashEstimate,
      canonicalKeep, editDistNeighborhood, sourceOverlapAudit,
      overlapContainment, lshPlanned, minhashCharLsh, lshCharPlanned,
      charBandAudit, leakageSafeSplit, idfJaccard, lshRecallAudit,
      dedupSavings)
}
