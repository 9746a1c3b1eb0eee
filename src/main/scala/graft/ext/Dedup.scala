package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.PersistedIndex

/** Deduplication operators for training-data pipelines (SURVEY §2.9 E1 +
  * driver mandate): exact, fingerprint, MinHash-LSH, n-gram Jaccard.
  *
  * Scale shape: every near-dup path is
  *   per-row signature (narrow, codegen'd) → band explode → one shuffle on
  *   the band key → candidate pairs → exact verify on candidates only.
  * Nothing here is O(n²) on the full corpus.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Dedup")

  /** Drop ledger from a [[capOversizedBands]] pass. */
  final case class BandCapStats(droppedBands: Long, droppedRows: Long)

  /** Default per-band-value cardinality bound for the LSH band self-joins.
    * A band value shared by more than this many documents is degenerate
    * (empty/boilerplate text collapsing into one bucket — at 100 TB the
    * one spot where a banded join goes quadratic); members beyond any
    * plausible near-dup cluster size are better served by the exact
    * [[byFingerprint]] path, which handles identical content in ONE
    * hash aggregation. 100k members ⇒ ~5·10⁹ candidate pairs from a
    * single band value — already past what any verify stage should pay. */
  val DefaultMaxBandSize: Int = 100000

  /** Bound the per-band-value group cardinality before a band self-join:
    * count members per band value (one extra aggregation on the key the
    * join was about to shuffle on anyway), DROP the oversized bands
    * entirely, and surface the decision — returned as [[BandCapStats]]
    * and logged, never silent. Dropping (rather than salting) is the
    * right semantics: pairs inside a degenerate band are not near-dup
    * SIGNAL, they are boilerplate collapse, and the quadratic candidate
    * set would drown the verify stage. `maxBandSize = Int.MaxValue`
    * disables the pass entirely (no counting job). */
  private[graft] def capOversizedBands(banded0: DataFrame, bandCol: String,
                                       maxBandSize: Int, opName: String)
      : (DataFrame, BandCapStats) = {
    require(maxBandSize > 0, s"maxBandSize must be positive: $maxBandSize")
    if (maxBandSize == Int.MaxValue) return (banded0, BandCapStats(0L, 0L))
    // materialize the banded frame ONCE: the counting pass, the anti-join,
    // and the caller's band self-join all read these narrow (id, band)
    // rows instead of recomputing the signature pipeline per consumer —
    // the self-join alone used to compute signatures twice (both sides),
    // so the counting pass comes out net-free
    val banded = banded0.localCheckpoint()
    val over = banded.groupBy(col(bandCol)).agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") > maxBandSize)
      .localCheckpoint() // tiny (oversized bands only); read twice below
    val row = over.agg(count(lit(1)).as("b"),
      coalesce(sum("__bn"), lit(0L)).as("r")).first()
    val stats = BandCapStats(row.getLong(0), row.getLong(1))
    if (stats.droppedBands == 0L) (banded, stats)
    else {
      log.warn(s"$opName: dropped ${stats.droppedBands} oversized band " +
        s"value(s) covering ${stats.droppedRows} rows (maxBandSize=" +
        s"$maxBandSize); candidates within those bands are NOT generated")
      (banded.join(broadcast(over.select(col(bandCol))), Seq(bandCol), "left_anti"),
        stats)
    }
  }

  /** Exact dedup on arbitrary columns — built-in hash groupBy. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Streaming exact dedup at ingest: drops re-deliveries of the same key
    * arriving within the watermark horizon. `dropDuplicatesWithinWatermark`
    * bounds the dedup state by the event-time delay — a plain streaming
    * `dropDuplicates` keeps every key seen FOREVER, which at training-
    * pipeline ingest rates is an unbounded-state leak. Keys re-sent after
    * the horizon are admitted again (at-least-once upstream + idempotent
    * keyed sink downstream absorbs those, as in the batch merge). */
  def streamingDedup(stream: DataFrame, keyCols: Seq[String], tsCol: String,
                     delay: String): DataFrame =
    stream.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming SIGNATURE-level near-dedup at ingest: drops documents whose
    * simhash64 collides with one seen inside the watermark horizon. The
    * signature is over the `\s+` token sequence, so whitespace/formatting
    * variants always collapse to one row. This is signature EQUALITY, not
    * a hamming radius — and simhash equality is a similarity heuristic in
    * both directions: a short document's single-token edit flips bits
    * (survives), while a LONG document's single-token edit often moves no
    * bit-vote past zero and collapses too (margins grow ~√n_tokens).
    * Treat it as "drop near-identical revisions at ingest"; radius-r
    * streaming dedup needs a band-keyed stateful join, and exact-threshold
    * dedup is the batch [[minhashNearDups]] path. State is one signature
    * per horizon window — bounded, like [[streamingDedup]]. */
  def streamingNearDedup(stream: DataFrame, textCol: String, tsCol: String,
                         delay: String): DataFrame =
    stream.withColumn("__sig", TextAnalysis.simhash64(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Exact-content dedup keeping the smallest-id row per normalized-content
    * fingerprint: a single hash aggregation (`min_by` of the whole row on
    * the id) — one shuffle, no keeper join. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(struct(cols.map(col).toIndexedSeq: _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.$c").as(c)).toIndexedSeq: _*)
  }

  /** Incremental-drop admission filter: keep only rows of `newDocs` whose
    * content fingerprint ([[graft.ext.TextAnalysis.fingerprint]] — md5 of
    * whitespace-normalized lowercased text) does not already exist in
    * `base` — "dedup today's crawl against the corpus", the daily
    * admission gate that makes exact dedup O(drop) instead of re-running
    * over the full corpus.
    *
    * Shape: base is projected to its DISTINCT fingerprints only (narrow
    * 128-bit keys), then one left-anti equi-join keyed on the fingerprint
    * — a single shuffle on a uniform hash key, no skew possible. Does NOT
    * dedup `newDocs` against itself (compose with [[byFingerprint]] first
    * when the drop may contain internal duplicates). */
  def incrementalDedup(newDocs: DataFrame, base: DataFrame,
                       textCol: String): DataFrame = {
    val baseFp = base
      .select(TextAnalysis.fingerprint(col(textCol)).as("__bfp")).distinct()
    // null-SAFE anti-join (<=>): fingerprint(NULL text) is NULL, and the
    // family treats null texts as equal content (byFingerprint groups
    // them, corpusDiff reads two nulls as `unchanged`) — a plain
    // equi-join would re-admit a null-text doc on every drop forever
    // even when the base already holds one
    newDocs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(baseFp, col("__fp") <=> col("__bfp"), "left_anti")
      .drop("__fp")
  }

  /** Build the reusable corpus-membership bloom artifact: a serialized
    * [[org.apache.spark.util.sketch.BloomFilter]] over
    * `xxhash64(fingerprint(text))` of `base`. One distributed aggregation
    * (public `DataFrameStatFunctions.bloomFilter`, tree-merged partials),
    * no shuffle of the corpus itself. The bytes are a durable artifact:
    * build once when the corpus version is cut, persist next to it, reuse
    * across every subsequent admission batch — the 100 TB story is
    * "re-scan the corpus once per version, not once per drop".
    *
    * Sizing: ~`-1.44 · log2(fpp)` bits/item (≈9.6 at fpp 0.01), so 1e9
    * items at 1% ≈ 1.2 GB. Keep fpp honest rather than tiny: every false
    * positive only costs one row in the exact confirm join. */
  def fingerprintBloom(base: DataFrame, textCol: String,
                       expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val filter = base
      .select(xxhash64(TextAnalysis.fingerprint(col(textCol))).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    out.toByteArray
  }

  /** [[incrementalDedup]] with a bloom pre-filter: EXACTLY the same result
    * (bloom misses are proofs of non-membership; bloom hits — true dups
    * plus fpp·|new| false positives — are resolved by the same exact
    * anti-join), but only the hit slice ever reaches the join's shuffle.
    * With a daily drop that is mostly novel content, the shuffle input
    * drops from |new| to ≈|true dups|, and the base side of the join is
    * still only its distinct fingerprints.
    *
    * The filter bytes ride the plan as a constant (task binaries are
    * broadcast, so executors fetch them once per stage); build them with
    * [[fingerprintBloom]] — the key expression must match bit-for-bit.
    *
    * Shape note: `newDocs` is scanned twice (miss branch ∪ hit branch) —
    * two cheap columnar scans in exchange for removing the miss slice
    * from the shuffle; cache `newDocs` first when it is not a file scan. */
  def incrementalDedupBloom(newDocs: DataFrame, base: DataFrame,
                            textCol: String, bloomBytes: Array[Byte]): DataFrame = {
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    val flagged = newDocs
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__maybe",
        // a NULL fingerprint (null text) nulls the bloom test, and both
        // filter branches would then DROP the row entirely; coalesce to
        // "might be a member" so the exact null-safe anti-join below
        // decides — keeping this path row-identical to incrementalDedup
        coalesce(call_function("bloom_might_contain", lit(bloomBytes),
          xxhash64(col("__fp"))), lit(true)))
    val definiteKeeps = flagged.filter(!col("__maybe")).drop("__maybe")
    val candidates = flagged.filter(col("__maybe")).drop("__maybe")
    val baseFp = base
      .select(TextAnalysis.fingerprint(col(textCol)).as("__bfp")).distinct()
    // unionByName, NOT positional union: an anti-join can reorder the
    // output columns, so the positional form would silently zip doc
    // columns against the fingerprint; join is null-SAFE like
    // incrementalDedup's (null texts are equal content)
    definiteKeeps
      .unionByName(candidates.join(baseFp, col("__fp") <=> col("__bfp"),
        "left_anti"))
      .drop("__fp")
  }

  /** Snapshot DIFF between two corpus versions keyed on `idCol` — the
    * corpus-versioning primitive (what changed between two crawls /
    * pipeline runs): per id, `added` (only in `next`), `removed` (only in
    * `prev`), `modified` (in both, content fingerprint differs) or
    * `unchanged`. Content identity is [[TextAnalysis.fingerprint]] — the
    * same whitespace-normalized md5 the whole dedup family keys on, so a
    * reformatted-but-identical doc reads `unchanged`.
    *
    * Shape: each side projects to (id, 128-bit fingerprint) map-side —
    * text never shuffles — then ONE id-keyed full outer join; at 100 TB
    * both sides shuffle narrow fixed-width rows, and two snapshots
    * bucketed on the id column co-locate entirely (zero shuffle). The
    * fingerprint compare is null-safe: two null texts are `unchanged`,
    * null vs text is `modified`.
    *
    * @return idCol, status */
  def corpusDiff(prev: DataFrame, next: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val p = prev.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__pfp"), lit(1).as("__inp"))
    val n = next.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__nfp"), lit(1).as("__inn"))
    p.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__inp").isNull, lit("added"))
          .when(col("__inn").isNull, lit("removed"))
          .when(col("__pfp") <=> col("__nfp"), lit("unchanged"))
          .otherwise(lit("modified")).as("status"))
  }

  /** PRIORITY union of two corpus versions — the merge step of corpus
    * versioning ([[corpusDiff]]'s complement, the "base wins" admission
    * rule): keep exactly one row per distinct content fingerprint across
    * base ∪ fresh, preferring the BASE copy when both corpora carry the
    * same content (re-crawls must not displace the already-curated row —
    * provenance, splits, and downstream caches key on the original id),
    * and the min-id row among same-priority duplicates (deterministic,
    * the [[byFingerprint]] keeper rule).
    *
    * Scale shape: each side projects map-side to (id, 128-bit
    * fingerprint, priority) — text never shuffles — then ONE
    * fingerprint-keyed `min_by` aggregation (partial maps combine
    * map-side; the struct ordering (priority, id) is total so the keeper
    * is unique). At 100 TB this is the same narrow-row shuffle as
    * [[corpusDiff]]; no join at all.
    *
    * @return idCol, origin ('base' | 'fresh') — the surviving rows */
  def unionWithPriority(base: DataFrame, fresh: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // id type is PRESERVED (the [[corpusDiff]] contract — string-keyed
    // corpora must not silently null out under a numeric cast); a type
    // mismatch between the two sides fails loudly in unionByName
    val b = base.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"),
      lit(0).as("__pri"))
    val f = fresh.select(col(idCol),
      TextAnalysis.fingerprint(col(textCol)).as("__fp"),
      lit(1).as("__pri"))
    b.unionByName(f)
      .groupBy("__fp")
      .agg(min_by(struct(col(idCol), col("__pri")),
        struct(col("__pri"), col(idCol))).as("__k"))
      .select(col(s"__k.$idCol").as(idCol),
        when(col("__k.__pri") === 0, lit("base")).otherwise(lit("fresh"))
          .as("origin"))
  }

  /** Edit-distance near-dup pairs via two-key prefix/suffix BLOCKING —
    * the record-linkage metric the token-set family (Jaccard/containment/
    * minhash) cannot express: Levenshtein counts character EDITS, so a
    * corrupted crawl variant (OCR noise, encoding damage, small in-place
    * edits) scores close even when its token sets diverge. Candidates
    * are pairs sharing the first OR last `blockLen` characters: a single
    * edit span cannot touch both ends of a text longer than
    * `2·blockLen + maxDist`, so coverage is exact for one contiguous
    * edit and heuristic beyond (documented recall trade — full coverage
    * is the all-pairs product nothing at 100 TB should pay).
    *
    * Shape: each doc emits ≤ 2 (block-key, id, text) rows; one key-keyed
    * self equi-join (never all-pairs), a cheap `|len(a)−len(b)| ≤ maxDist`
    * necessary-condition filter BEFORE the edit distance, then the
    * threshold form `levenshtein(a, b, maxDist)` — O(len·maxDist) per
    * pair instead of O(len²), the banded DP cutoff — evaluated map-side.
    * The narrow (a, b, dist) output deduplicates pairs that met on both
    * keys AFTER scoring, so text never re-shuffles. Degenerate blocks
    * (boilerplate heads/tails) are dropped-with-ledger by the same
    * [[capOversizedBands]] pass as the LSH joins.
    *
    * @return a_id, b_id, dist (a < b, dist ≤ maxDist) */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 4, blockLen: Int = 8,
                        maxBlock: Int = DefaultMaxBandSize): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    require(blockLen > 0, s"blockLen must be positive: $blockLen")
    val base = docs
      .select(col(idCol), col(textCol).as("__t"),
        length(col(textCol)).as("__len"))
      .filter(col("__t").isNotNull)
    val pre = base.select(col(idCol), col("__t"), col("__len"),
      concat(lit("p:"), col("__t").substr(lit(1), lit(blockLen))).as("__bk"))
    val suf = base.filter(col("__len") >= blockLen)
      .select(col(idCol), col("__t"), col("__len"),
        concat(lit("s:"), col("__t")
          .substr(col("__len") - (blockLen - 1), lit(blockLen))).as("__bk"))
    val (keyed, _) = capOversizedBands(pre.unionByName(suf), "__bk",
      maxBlock, "editDistancePairs")
    val a = keyed.select(col("__bk"), col(idCol).as("a_id"),
      col("__t").as("__ta"), col("__len").as("__la"))
    val b = keyed.select(col("__bk"), col(idCol).as("b_id"),
      col("__t").as("__tb"), col("__len").as("__lb"))
    a.join(b, Seq("__bk"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("a_id"), col("b_id"),
        expr(s"levenshtein(__ta, __tb, $maxDist)").as("__d"))
      .filter(col("__d") >= 0)
      .select(col("a_id"), col("b_id"), col("__d").cast("long").as("dist"))
      .distinct()
  }

  /** Word-level shingles (n-grams of tokens) as distinct strings. */
  def shingles(textCol: Column, n: Int = 3): Column = {
    val t = TextAnalysis.tokens(textCol)
    array_distinct(
      when(size(t) < n, array(concat_ws(" ", t)))
        .otherwise(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + 1, lit(n))))))
  }

  /** Native (codegen'd, single-pass) twin of [[shingles]] — bit-identical
    * output, ~an order of magnitude less per-row cost (no per-window slice
    * allocation, no interpreted O(k²) distinct). Requires
    * graft.functions.GraftFunctions.register on the session. */
  def shinglesNative(textCol: Column, n: Int = 3): Column =
    call_function("shingles", textCol, lit(n))

  private def shingleCol(textCol: Column, n: Int, native: Boolean): Column =
    if (native) shinglesNative(textCol, n) else shingles(textCol, n)

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) over distinct
    * word-shingle sets — the ASYMMETRIC duplication signal Jaccard misses.
    * A short document quoted wholesale inside a long one has containment 1
    * but Jaccard |A∩B|/|A∪B| ≈ |short|/|long| → a 20-token press quote
    * inside a 2000-token article scores J ≈ 0.01 and sails through every
    * Jaccard threshold; containment catches exactly this (the dedup rule
    * for quote farms, syndication wrappers, and scraped-page chrome around
    * a shared body).
    *
    * Scale shape: never all-pairs. One shingle explode feeds (a) per-doc
    * set sizes and (b) the inverted-index self-join ON THE SHINGLE (only
    * docs sharing a shingle ever meet — the [[graft.ext.TextSimilarity]]
    * join), with per-pair intersection counts as one (a, b)-keyed hash
    * aggregation. The quadratic hazard is a stopword-grade shingle's
    * posting list (|postings|² pair rows from one gram) — bounded by
    * `maxDf` exactly like the TF-IDF join: shingles in more than maxDf
    * docs are dropped BEFORE the join, the `Counted` variant returns how
    * many (zero ⟺ exact containment over full sets). Unlike TF-IDF's
    * near-zero-weight stopwords, a dropped shingle here can only LOWER a
    * pair's measured containment — the cap is conservative (never
    * fabricates a duplicate), and a 3-token shingle in >100k documents is
    * boilerplate by definition.
    *
    * Determinism: shared and the set sizes are exact integers; the ratio
    * is one double division rounded at 6 dp — identical in any engine.
    *
    * @return a_id, b_id, shared, n_a, n_b, containment — pairs with
    *         containment ≥ `minContainment`, a_id < b_id */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       minContainment: Double, n: Int = 3,
                       maxDf: Long = DefaultMaxBandSize,
                       nativeShingles: Boolean = false): DataFrame =
    containmentPairsCounted(docs, idCol, textCol, minContainment, n, maxDf,
      nativeShingles)._1

  /** [[containmentPairs]] plus the number of shingles dropped by the
    * `maxDf` posting-list cap (zero ⟺ exact). */
  def containmentPairsCounted(docs: DataFrame, idCol: String, textCol: String,
                              minContainment: Double, n: Int = 3,
                              maxDf: Long = DefaultMaxBandSize,
                              nativeShingles: Boolean = false)
      : (DataFrame, Long) = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1]: $minContainment")
    require(maxDf > 0, s"maxDf must be positive: $maxDf")
    val capped = maxDf != Long.MaxValue
    val withSh = docs
      .select(col(idCol).as("__doc"),
        shingleCol(col(textCol), n, nativeShingles).as("__sh"))
      .filter(col("__sh").isNotNull)
      .localCheckpoint() // sizes + posting explode share one computation
    val sizes = withSh.select(col("__doc"),
      size(col("__sh")).cast("long").as("__n"))
    val posts = withSh.select(col("__doc"), explode(col("__sh")).as("__g"))
    val (pruned, dropped) = if (capped) {
      val dfreq = posts.groupBy("__g").agg(count(lit(1)).as("__df"))
        .localCheckpoint() // read twice: drop count + kept join
      val d = dfreq
        .agg(coalesce(sum(when(col("__df") > maxDf, 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      // NOT broadcast (the TextSimilarity rationale): kept is nearly the
      // full shingle vocabulary; posts is already shuffled on the gram
      (posts.join(dfreq.filter(col("__df") <= maxDf).select("__g"), "__g"), d)
    } else (posts, 0L)
    val shared = pruned.select(col("__doc").as("a_id"), col("__g"))
      .join(pruned.select(col("__doc").as("b_id"), col("__g")), "__g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    val out = shared
      .join(sizes.select(col("__doc").as("a_id"), col("__n").as("n_a")), "a_id")
      .join(sizes.select(col("__doc").as("b_id"), col("__n").as("n_b")), "b_id")
      .withColumn("containment",
        round(col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("shared").cast("long").as("shared"),
        col("n_a"), col("n_b"), col("containment"))
    (out, dropped)
  }

  /** The SAMPLED scale path for [[containmentPairs]] — the production
    * form for corpora where even the maxDf-capped inverted-index join is
    * too much pair mass (containment is output-quadratic under heavy
    * duplication by construction; see ScaleStress's e6l curve). Only
    * shingles whose md5 hex prefix is all-zero participate: a
    * deterministic 1/16^hexPrefixLen slice of the GRAM SPACE, identical
    * in any engine (the [[graft.ext.TextAnalysis.charNgramDupFractionSampled]]
    * pattern), so the estimator itself is strictly oracle-gated — exact
    * within the slice, never a probabilistic sketch. Posting lists,
    * per-doc set sizes, and the pair join all shrink by the sample rate;
    * the estimate is |A∩B∩S| / min(|A∩S|, |B∩S|) over the sampled space
    * S. Docs with no sampled shingle drop out (they cannot join anyway);
    * a pair whose sampled intersection is empty never surfaces — both
    * engines drop it identically.
    *
    * `hashedKeys` composes the e6g2 switch onto the slice: the md5
    * sample predicate stays cross-engine-deterministic, but sampled gram
    * instances shuffle/join as 8-byte xxhash64 payloads.
    *
    * @return a_id, b_id, shared_sampled, n_a_sampled, n_b_sampled,
    *         containment_est — pairs with estimate ≥ `minContainment`,
    *         a_id < b_id */
  def containmentPairsSampled(docs: DataFrame, idCol: String, textCol: String,
                              minContainment: Double, n: Int = 3,
                              maxDf: Long = DefaultMaxBandSize,
                              hexPrefixLen: Int = 1,
                              nativeShingles: Boolean = false,
                              hashedKeys: Boolean = false,
                              minSampled: Long = 1L): DataFrame =
    containmentPairsSampledCounted(docs, idCol, textCol, minContainment, n,
      maxDf, hexPrefixLen, nativeShingles, hashedKeys, minSampled)._1

  /** [[containmentPairsSampled]] plus the number of SAMPLED shingles
    * dropped by the `maxDf` posting-list cap (zero ⟺ exact over the
    * slice). */
  def containmentPairsSampledCounted(docs: DataFrame, idCol: String,
                                     textCol: String, minContainment: Double,
                                     n: Int = 3,
                                     maxDf: Long = DefaultMaxBandSize,
                                     hexPrefixLen: Int = 1,
                                     nativeShingles: Boolean = false,
                                     hashedKeys: Boolean = false,
                                     minSampled: Long = 1L)
      : (DataFrame, Long) = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment must be in (0,1]: $minContainment")
    require(maxDf > 0, s"maxDf must be positive: $maxDf")
    require(hexPrefixLen > 0 && hexPrefixLen <= 8,
      s"hexPrefixLen must be in [1,8]: $hexPrefixLen")
    require(minSampled >= 1, s"minSampled must be >= 1: $minSampled")
    val zeros = "0" * hexPrefixLen
    // materialize the slice once: sizes and postings both read it, and the
    // explode + md5 over the FULL gram frame is the dominant map-side cost
    val sampled = docs
      .select(col(idCol).as("__doc"),
        explode(shingleCol(col(textCol), n, nativeShingles)).as("__raw"))
      .filter(substring(md5(col("__raw")), 1, hexPrefixLen) === zeros)
      .select(col("__doc"),
        (if (hashedKeys) xxhash64(col("__raw")) else col("__raw")).as("__g"))
      .localCheckpoint()
    val sizes = sampled.groupBy("__doc").agg(count(lit(1)).as("__n"))
    val capped = maxDf != Long.MaxValue
    val (pruned, dropped) = if (capped) {
      val dfreq = sampled.groupBy("__g").agg(count(lit(1)).as("__df"))
        .localCheckpoint()
      val d = dfreq
        .agg(coalesce(sum(when(col("__df") > maxDf, 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      (sampled.join(dfreq.filter(col("__df") <= maxDf).select("__g"), "__g"), d)
    } else (sampled, 0L)
    val shared = pruned.select(col("__doc").as("a_id"), col("__g"))
      .join(pruned.select(col("__doc").as("b_id"), col("__g")), "__g")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_sampled"))
    val out = shared
      .join(sizes.select(col("__doc").as("a_id"),
        col("__n").as("n_a_sampled")), "a_id")
      .join(sizes.select(col("__doc").as("b_id"),
        col("__n").as("n_b_sampled")), "b_id")
      .withColumn("containment_est",
        round(col("shared_sampled").cast("double") /
          least(col("n_a_sampled"), col("n_b_sampled")).cast("double"), 6))
      // variance knob: an estimate over a tiny sampled denominator is
      // noisy (1/1 shared sampled gram reads as containment 1.0) — a
      // production pass raises minSampled to demand statistical support;
      // the gate keeps the default 1 so the oracle sees every pair
      .filter(least(col("n_a_sampled"), col("n_b_sampled")) >= minSampled)
      .filter(col("containment_est") >= minContainment)
      .select(col("a_id"), col("b_id"),
        col("shared_sampled").cast("long").as("shared_sampled"),
        col("n_a_sampled").cast("long").as("n_a_sampled"),
        col("n_b_sampled").cast("long").as("n_b_sampled"),
        col("containment_est"))
    (out, dropped)
  }

  /** k-permutation MinHash signature over shingles, per-row (no shuffle):
    * hash_i(s) = xxhash64(s, i); signature[i] = min over shingles.
    * Estimates Jaccard: P[sig_a[i]=sig_b[i]] = J(a,b).
    *
    * `nativeShingles = true` (the production switch every gate entry uses)
    * also routes the signature itself through the native single-pass
    * kernel (graft.functions.MinHashSig): the HOF fold below evaluates
    * INTERPRETED, re-hashing the shingle bytes k times and allocating two
    * k-long arrays per shingle; the kernel hashes each shingle's bytes
    * ONCE and derives all k permutations from that base — bit-identical
    * output (equivalence swept in ExtOpsSpec). The HOF form remains as the
    * readable spec twin. */
  def minhashSignature(textCol: Column, k: Int = 32, shingleN: Int = 3,
                       nativeShingles: Boolean = false): Column =
    if (nativeShingles)
      call_function("minhash_sig", shinglesNative(textCol, shingleN), lit(k))
    else aggregate(
      shingleCol(textCol, shingleN, native = false),
      array_repeat(lit(Long.MaxValue), k),
      (acc: Column, s: Column) =>
        zip_with(acc,
          transform(sequence(lit(0), lit(k - 1)), i => xxhash64(s, i)),
          (a: Column, h: Column) => least(a, h)))

  /** The band explode shared by every LSH path (self-join and cross-table):
    * b band hashes of r signature values each, one row per (id, band).
    * ONE definition so the band hashing can never diverge between the
    * single-table and join forms. */
  private def bandExplode(sig: DataFrame, idCol: String,
                          k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    sig.withColumn("band", explode(array((0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64(concat_ws(",", slice(col("__sig"), b * r + 1, r))).as("band_val"))
    }: _*))).select(col(idCol), col("band"))
  }

  /** (# agreeing minhash coordinates)/k — the unbiased Jaccard estimator
    * used as the post-band pre-verify filter. Shared definition. */
  private def sigAgreementEst(a: Column, b: Column, k: Int): Column =
    size(filter(zip_with(a, b, (x: Column, y: Column) => x === y),
      (m: Column) => m)).cast("double") / k

  /** round(|∩| / |∪|, 6) over two shingle arrays — the exact-verify
    * measure. Shared definition. */
  private def jaccardExpr(a: Column, b: Column): Column =
    round(size(array_intersect(a, b)).cast("double") / size(array_union(a, b)), 6)

  /** Band-join candidate pairs from a (id, __sig) signature frame: band
    * explode, cap degenerate band values ([[capOversizedBands]] — the
    * 100 TB hot-band guard), self-join per band, distinct pairs — the
    * shared LSH step of [[minhashCandidates]] and [[minhashNearDups]]. */
  private def bandCandidates(sig: DataFrame, idCol: String,
                             k: Int, bands: Int,
                             maxBandSize: Int): (DataFrame, BandCapStats) = {
    val (banded, stats) = capOversizedBands(
      bandExplode(sig, idCol, k, bands), "band", maxBandSize,
      "minhash bandCandidates")
    val a = banded.select(col(idCol).as("a_id"), col("band"))
    val b = banded.select(col(idCol).as("b_id"), col("band"))
    (a.join(b, a("band") === b("band") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct(), stats)
  }

  /** MinHash-LSH candidate pairs: signature → band join. With k=32, b=8,
    * r=4 a Jaccard-0.8 pair is caught with p = 1-(1-0.8^4)^8 ≈ 0.986.
    * Verify candidates with [[jaccardVerify]]. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                        maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    minhashCandidatesCounted(df, idCol, textCol, k, bands, shingleN,
      maxBandSize)._1

  /** [[minhashCandidates]] plus the hot-band drop ledger — pipelines
    * composing candidates + their own verify detect cap truncation here. */
  def minhashCandidatesCounted(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                               maxBandSize: Int = DefaultMaxBandSize)
      : (DataFrame, BandCapStats) = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    bandCandidates(
      df.select(col(idCol), minhashSignature(col(textCol), k, shingleN).as("__sig")),
      idCol, k, bands, maxBandSize)
  }

  /** Full MinHash near-dup cascade:
    *   signatures → band candidates → signature-agreement estimate filter →
    *   exact Jaccard verify ≥ threshold.
    * The estimate stage ((# agreeing minhash coords)/k, an unbiased Jaccard
    * estimator) costs one k-long array comparison per candidate and guts
    * the exact-verify set — the difference between O(candidates·k) and
    * O(candidates·|tokens|) on band-collision-heavy corpora. `estSlack`
    * keeps pairs whose estimate is within that margin below threshold so
    * estimator variance (σ ≈ 1/√k) doesn't drop true positives. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, k: Int = 32, bands: Int = 8,
                      shingleN: Int = 3, estSlack: Double = 0.2,
                      nativeShingles: Boolean = false,
                      maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    minhashNearDupsCounted(docs, idCol, textCol, threshold, k, bands,
      shingleN, estSlack, nativeShingles, maxBandSize)._1

  /** [[minhashNearDups]] plus the hot-band drop ledger: the returned
    * [[BandCapStats]] is how a pipeline DETECTS that candidate generation
    * was truncated by the cap (zero ⟺ complete) — the log line alone is
    * not a programmatic signal. */
  def minhashNearDupsCounted(docs: DataFrame, idCol: String, textCol: String,
                             threshold: Double, k: Int = 32, bands: Int = 8,
                             shingleN: Int = 3, estSlack: Double = 0.2,
                             nativeShingles: Boolean = false,
                             maxBandSize: Int = DefaultMaxBandSize)
      : (DataFrame, BandCapStats) = {
    // validate BEFORE the eager signature materialization below — a bad
    // (k, bands) pair must fail instantly, not after a full corpus pass
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // signatures materialized ONCE: the band explode, the cap's counting
    // pass, and BOTH estimate-join sides below read the narrow (id, k-long
    // array) rows instead of re-running the shingle→minhash pipeline per
    // consumer (it appears in four plan subtrees)
    val sig = docs.select(col(idCol),
      minhashSignature(col(textCol), k, shingleN, nativeShingles).as("__sig"))
      .localCheckpoint()
    val (pairs, stats) = bandCandidates(sig, idCol, k, bands, maxBandSize)
    val est = pairs
      .join(sig.select(col(idCol).as("a_id"), col("__sig").as("a_sig")), "a_id")
      .join(sig.select(col(idCol).as("b_id"), col("__sig").as("b_sig")), "b_id")
      .withColumn("est", sigAgreementEst(col("a_sig"), col("b_sig"), k))
      .filter(col("est") >= threshold - estSlack)
      .select("a_id", "b_id")
    (jaccardVerify(est, docs, idCol, textCol, shingleN, nativeShingles)
      .filter(col("jaccard") >= threshold), stats)
  }

  /** Cross-table MinHash-LSH near-dup JOIN — entity linking / corpus-to-
    * corpus matching ("which scraped docs duplicate a canonical source"):
    * every (left, right) pair whose exact shingle-set Jaccard meets
    * `threshold`, found via band collisions across the two tables — the
    * two-sided form of [[minhashNearDups]], never a cartesian.
    *
    * Execution shape: one signature pass per side (checkpointed, narrow),
    * band explode per side with the hot-band cap applied independently to
    * each (a degenerate band value on EITHER side would make that band's
    * cross product quadratic), equi-join on the band key, estimate filter,
    * exact verify. Exact verify means NO false positives ever; recall per
    * pair is 1-(1-J^r)^b, and pairs with identical shingle sets (J = 1)
    * are caught with probability 1 — identical signatures collide in
    * every band — so a `threshold = 1.0` join is exhaustively exact.
    *
    * @return (l_id, r_id, jaccard) */
  def minhashJoin(left: DataFrame, leftId: String,
                  right: DataFrame, rightId: String,
                  textCol: String, threshold: Double, k: Int = 32,
                  bands: Int = 8, shingleN: Int = 3, estSlack: Double = 0.2,
                  nativeShingles: Boolean = false,
                  maxBandSize: Int = DefaultMaxBandSize): DataFrame =
    minhashJoinCounted(left, leftId, right, rightId, textCol, threshold, k,
      bands, shingleN, estSlack, nativeShingles, maxBandSize)._1

  /** [[minhashJoin]] plus the two per-side hot-band ledgers (left, right)
    * — the programmatic signal that candidate generation was truncated. */
  def minhashJoinCounted(left: DataFrame, leftId: String,
                         right: DataFrame, rightId: String,
                         textCol: String, threshold: Double, k: Int = 32,
                         bands: Int = 8, shingleN: Int = 3,
                         estSlack: Double = 0.2,
                         nativeShingles: Boolean = false,
                         maxBandSize: Int = DefaultMaxBandSize)
      : (DataFrame, BandCapStats, BandCapStats) = {
    // validate BEFORE the two eager signature materializations below
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    def sigOf(df: DataFrame, id: String, out: String) =
      df.select(col(id).as(out),
        minhashSignature(col(textCol), k, shingleN, nativeShingles).as("__sig"))
        .localCheckpoint()
    def bandedOf(sig: DataFrame, out: String) =
      capOversizedBands(bandExplode(sig, out, k, bands), "band", maxBandSize,
        s"minhashJoin $out side")
    val ls = sigOf(left, leftId, "l_id")
    val rs = sigOf(right, rightId, "r_id")
    val (lBanded, lStats) = bandedOf(ls, "l_id")
    val (rBanded, rStats) = bandedOf(rs, "r_id")
    val cand = lBanded.join(rBanded, Seq("band"))
      .select("l_id", "r_id").distinct()
    val est = cand
      .join(ls.select(col("l_id"), col("__sig").as("l_sig")), "l_id")
      .join(rs.select(col("r_id"), col("__sig").as("r_sig")), "r_id")
      .withColumn("est", sigAgreementEst(col("l_sig"), col("r_sig"), k))
      .filter(col("est") >= threshold - estSlack)
      .select("l_id", "r_id")
    val lt = left.select(col(leftId).as("l_id"),
      shingleCol(col(textCol), shingleN, nativeShingles).as("l_toks"))
    val rt = right.select(col(rightId).as("r_id"),
      shingleCol(col(textCol), shingleN, nativeShingles).as("r_toks"))
    val out = est.join(lt, "l_id").join(rt, "r_id")
      .withColumn("jaccard", jaccardExpr(col("l_toks"), col("r_toks")))
      .filter(col("jaccard") >= threshold)
      .select("l_id", "r_id", "jaccard")
    (out, lStats, rStats)
  }

  /** Cross-corpus contamination (train/benchmark decontamination): for
    * every doc in `corpus`, the count and fraction of its distinct n-gram
    * shingles that also appear ANYWHERE in `benchmark` — the standard
    * n-gram-collision test run before training on scraped data.
    *
    * Scale shape, single-pass: benchmark shingles are exploded DISTINCT
    * (benchmark ≪ corpus — broadcast them); the corpus explodes ONCE,
    * carrying its per-doc shingle count through the explode, broadcast-
    * LEFT-joins the benchmark set, and re-aggregates per doc. One explode,
    * one broadcast join, one shuffle on doc_id — the corpus is never
    * collected, never self-joined, never re-scanned for the denominators
    * (shingles() always emits ≥ 1 element, so no doc is lost). */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 3,
                    nativeShingles: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // The shingle ARRAY is materialized in its own projection BELOW the
    // explode and the count reads the retained array: putting
    // size(shingles(text)) in the same select as explode(shingles(text))
    // plans the size above the Generate, recomputing the whole shingle set
    // once per EXPLODED ROW instead of once per doc — measured 30× slower
    // on the sf0.1 corpus.
    // explode_outer: a NULL text yields a NULL shingle array, which a plain
    // explode would silently DROP from the output — the doc must instead
    // surface with null stats (matching SQL-semantics oracles, where the
    // denominators go NULL but the row survives the left join)
    val withSh = corpus.select(col(idCol),
      shingleCol(col(textCol), shingleN, nativeShingles).as("__sha"))
    val corpusEx = withSh.select(col(idCol),
      size(col("__sha")).cast("long").as("n_shingles"),
      explode_outer(col("__sha")).as("__sh"))
    val benchShingles = benchmark
      .select(explode(shingleCol(col(textCol), shingleN, nativeShingles))
        .as("__sh")).distinct()
      .withColumn("__hit", lit(1L))
    corpusEx.join(broadcast(benchShingles), Seq("__sh"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("contaminated"))
      .withColumn("contamination",
        round(col("contaminated").cast("double") / col("n_shingles"), 6))
      .select(col(idCol), col("n_shingles"), col("contaminated"),
        col("contamination"))
  }

  /** PER-BENCHMARK-ITEM contamination: every (corpus doc, benchmark doc)
    * pair whose exact distinct-shingle Jaccard meets `threshold` — the
    * "drop any doc near-duplicating an eval EXAMPLE" rule, with the
    * matched example attributed. [[contamination]]'s pooled fraction
    * cannot express this: a doc sharing common shingles across MANY
    * benchmark items pools a high fraction without near-duplicating any
    * single one, and a verbatim copy of one eval example among a large
    * benchmark pools a LOW fraction of the union — the pairwise form is
    * the published decontamination contract (per-example n-gram overlap).
    *
    * Exact by construction, not LSH: the benchmark side is SMALL (eval
    * sets are thousands of examples, the corpus is the 100 TB side), so
    * the exploded benchmark shingles broadcast and recall is 1 — no
    * banding probability to reason about. Scale shape: corpus explodes
    * ONCE carrying its per-doc set size; the INNER broadcast join keeps
    * only shingles the benchmark contains (the overwhelming corpus
    * majority flows straight to nothing); one hash aggregation on
    * (doc, bench) pairs that actually share a shingle. Never all-pairs,
    * never a corpus self-join. NULL-text docs on either side have no
    * shingles and cannot match — correctly absent from a matches-only
    * output (contrast [[contamination]], which keeps them with null
    * stats because it profiles EVERY doc). */
  def contaminationPairs(corpus: DataFrame, idCol: String,
                         benchmark: DataFrame, benchIdCol: String,
                         textCol: String, shingleN: Int = 3,
                         threshold: Double = 0.8,
                         nativeShingles: Boolean = false,
                         metric: String = "jaccard"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold — 0 would emit every " +
        "pair sharing a single common shingle")
    // `containment` scores |A∩B| / |B| — the fraction of the benchmark
    // EXAMPLE's shingles the doc contains. A full eval example embedded in
    // a 10× longer page has J ≈ 0.1 (sails under any Jaccard threshold)
    // but containment 1.0 — the same asymmetric signal
    // [[containmentPairs]] argues for in dedup, aimed at the benchmark
    require(metric == "jaccard" || metric == "containment",
      s"metric must be 'jaccard' or 'containment', got '$metric'")
    require(benchIdCol != idCol,
      s"benchmark id column must differ from the corpus one ('$idCol') — " +
        "the output carries both; rename one side first")
    import org.apache.spark.sql.functions.broadcast
    // shingle array materialized BELOW the explode (the [[contamination]]
    // plan note: size() beside explode() recomputes the set per exploded
    // row — measured 30× slower)
    val withSh = corpus.select(col(idCol),
      shingleCol(col(textCol), shingleN, nativeShingles).as("__sha"))
    val corpusEx = withSh.select(col(idCol),
      size(col("__sha")).cast("long").as("__na"),
      explode(col("__sha")).as("__sh"))
    val benchSh = benchmark.select(col(benchIdCol),
      shingleCol(col(textCol), shingleN, nativeShingles).as("__shb"))
    val benchEx = benchSh.select(col(benchIdCol),
      size(col("__shb")).cast("long").as("__nb"),
      explode(col("__shb")).as("__sh"))
    val scoreCol = metric // the output column carries the metric's name
    val denom =
      if (metric == "jaccard") col("__na") + col("__nb") - col("__inter")
      else col("__nb")
    corpusEx.join(broadcast(benchEx), Seq("__sh"))
      .groupBy(col(idCol), col(benchIdCol), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__inter")) // shingles are distinct per doc →
                                        // one row per shared shingle = |A∩B|
      .withColumn(scoreCol,
        round(col("__inter").cast("double") / denom, 6))
      .filter(col(scoreCol) >= threshold)
      .select(col(idCol), col(benchIdCol),
        col("__inter").as("shared_shingles"), col(scoreCol))
  }

  /** Exact shingle-set Jaccard between candidate id pairs — the verify
    * stage after LSH banding, in the same shingle space the signatures
    * were built from (`shingleN = 1` → word sets). `pairs` has
    * (a_id, b_id); result adds `jaccard`. */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingleN: Int = 1,
                    nativeShingles: Boolean = false): DataFrame = {
    val toks = docs.select(col(idCol),
      shingleCol(col(textCol), shingleN, nativeShingles).as("__toks"))
    pairs
      .join(toks.select(col(idCol).as("a_id"), col("__toks").as("a_toks")), "a_id")
      .join(toks.select(col(idCol).as("b_id"), col("__toks").as("b_toks")), "b_id")
      .withColumn("jaccard", jaccardExpr(col("a_toks"), col("b_toks")))
      .drop("a_toks", "b_toks")
  }

  /** All-pairs word-set Jaccard over a bounded id range — the small-sf
    * oracle twin of minhashCandidates+jaccardVerify (exact, token-indexed
    * join rather than cross join: explode distinct tokens, equi-join on
    * token, count intersections, derive union sizes). */
  def unigramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                          threshold: Double): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("token"))
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = toks.select(col("doc_id").as("a_id"), col("token"))
      .join(toks.select(col("doc_id").as("b_id"), col("token")), "token")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // --------------------------------------------------- persisted MinHash index
  //
  // The build-once artifact for CONTINUOUS near-dedup admission: signature
  // computation (shingling + k hashes over full text) is the expensive
  // term of every minhashJoin, and re-running it over a 100 TB base for
  // every incoming crawl batch is the scale killer. The index persists the
  // base's signatures and band rows ONCE; a probe computes signatures only
  // for the BATCH, broadcasts its band rows onto the streamed base band
  // table, and exact-verifies the survivors against caller-supplied text.
  // The text-dedup analog of the ANN family's build/append/probe split
  // (e2s/e2v): k/bands/shingleN/hashing are frozen in the MinHash stamp
  // (PersistedIndex) and every append/probe re-derives them from it — a
  // caller cannot diverge.

  final case class MinhashIndexParams(k: Int, bands: Int, shingleN: Int,
                                      native: Boolean, maxBandSize: Int)

  private def mhParams(spark: org.apache.spark.sql.SparkSession,
                       dir: String): MinhashIndexParams = {
    val s = PersistedIndex.read(spark, dir, PersistedIndex.MinHash)
    MinhashIndexParams(s.int("k"), s.int("bands"), s.int("shingleN"),
      s.bool("native"), s.int("maxBandSize"))
  }

  private def mhSigs(docs: DataFrame, idCol: String, textCol: String,
                     p: MinhashIndexParams): DataFrame =
    docs.select(col(idCol).as("__id"),
      minhashSignature(col(textCol), p.k, p.shingleN, p.native).as("__sig"))

  /** Build the persisted index at `dir`: `sigs/` (id, signature) and
    * `bands/` (id, band) parquet, params stamp written LAST — its
    * presence is the commit marker, so a crashed build reads as absent.
    * Returns the base side's hot-band cap ledger. */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 32, bands: Int = 8,
                        shingleN: Int = 3, nativeShingles: Boolean = true,
                        maxBandSize: Int = DefaultMaxBandSize): BandCapStats = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val spark = docs.sparkSession
    val p = MinhashIndexParams(k, bands, shingleN, nativeShingles, maxBandSize)
    PersistedIndex.commit(spark, dir,
        PersistedIndex.minhash(k, bands, shingleN, nativeShingles, maxBandSize)) {
      if (nativeShingles) graft.functions.GraftFunctions.register(spark)
      val sigs = mhSigs(docs, idCol, textCol, p).localCheckpoint()
      val (banded, stats) = capOversizedBands(
        bandExplode(sigs, "__id", k, bands), "band", maxBandSize,
        "buildMinhashIndex")
      sigs.write.mode("overwrite").parquet(s"$dir/sigs")
      banded.select(col("__id"), col("band.band_id").as("band_id"),
          col("band.band_val").as("band_val"))
        .write.mode("overwrite").parquet(s"$dir/bands")
      stats
    }
  }

  /** Append a new batch to a committed index under its FROZEN params.
    * The id column's type must match the index (a silent parquet schema
    * mix would corrupt later probes — checked against the stored sigs).
    * Caller guarantees id disjointness, as with every append-only corpus
    * feed (replayed ids are the fingerprint family's job to drop).
    *
    * Crash contract: BANDS append before SIGS, and a failed append is
    * RETRIED. Bands-without-sigs (crash between the writes) is inert —
    * such candidates drop at the probe's inner signature join — and the
    * retry completes the batch; the retry's duplicate band rows dedupe in
    * the probe's DISTINCT candidate step, and its duplicate sig rows
    * dedupe in the probe's per-id signature dedup. The failure direction
    * is always "batch not yet searchable", never wrong pairs. */
  def minhashIndexAppend(spark: org.apache.spark.sql.SparkSession,
                         dir: String, newDocs: DataFrame, idCol: String,
                         textCol: String): BandCapStats = {
    val p = mhParams(spark, dir)
    if (p.native) graft.functions.GraftFunctions.register(spark)
    val storedIdType = spark.read.parquet(s"$dir/sigs").schema("__id").dataType
    val newIdType = newDocs.schema(idCol).dataType
    if (storedIdType != newIdType)
      throw graft.core.GraftError.InvalidConfig(
        s"index id type is ${storedIdType.simpleString} but the batch's " +
          s"$idCol is ${newIdType.simpleString} — a mixed-schema append " +
          "would corrupt later probes")
    val sigs = mhSigs(newDocs, idCol, textCol, p).localCheckpoint()
    val (banded, stats) = capOversizedBands(
      bandExplode(sigs, "__id", p.k, p.bands), "band", p.maxBandSize,
      "minhashIndexAppend")
    banded.select(col("__id"), col("band.band_id").as("band_id"),
        col("band.band_val").as("band_val"))
      .write.mode("append").parquet(s"$dir/bands")
    sigs.write.mode("append").parquet(s"$dir/sigs")
    stats
  }

  /** Probe a batch against the index: batch signatures/bands computed
    * under the index's frozen params, batch band rows BROADCAST onto the
    * streamed base band table (the base never shuffles), signature-
    * agreement prefilter, then exact Jaccard verify against caller-
    * supplied text on both sides (the index stores no text). Returns
    * (base_id, q_id, jaccard) with jaccard ≥ threshold.
    *
    * @param baseText the base corpus (idCol + textCol) for the verify
    *                 join — column-pruned to two columns; only candidate
    *                 ids' texts are ever shuffled. */
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession,
                        dir: String, queries: DataFrame, queryIdCol: String,
                        textCol: String, baseText: DataFrame,
                        baseIdCol: String, threshold: Double,
                        estSlack: Double = 0.2): DataFrame =
    minhashIndexProbeCounted(spark, dir, queries, queryIdCol, textCol,
      baseText, baseIdCol, threshold, estSlack)._1

  /** [[minhashIndexProbe]] with the hot-band cap LEDGER returned (the
    * family's *Counted convention): a boilerplate-heavy probe batch can
    * collapse past maxBandSize and have its candidate generation
    * truncated — the log line alone is not a programmatic signal, so
    * pipelines that must alert on truncated admission dedup call this
    * form. The stats sum BOTH cap sites (query bands + matched-base
    * re-cap). */
  def minhashIndexProbeCounted(spark: org.apache.spark.sql.SparkSession,
                        dir: String, queries: DataFrame, queryIdCol: String,
                        textCol: String, baseText: DataFrame,
                        baseIdCol: String, threshold: Double,
                        estSlack: Double = 0.2): (DataFrame, BandCapStats) = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val p = mhParams(spark, dir)
    if (p.native) graft.functions.GraftFunctions.register(spark)
    val qSigs = mhSigs(queries, queryIdCol, textCol, p)
      .withColumnRenamed("__id", "q_id").localCheckpoint()
    // query-side broadcast guard: every hint below frames data that scales
    // with the INGEST BATCH (qSigs, banded query rows, candidate pairs) —
    // counted on the checkpointed frame (no extra source scan), dropped
    // above the bound so an oversized batch shuffle-joins instead of
    // OOMing the driver (ProbeBroadcast; guide §3.1)
    val bcast = ProbeBroadcast.broadcastSafe(spark, "minhashIndexProbe",
      qSigs.count())
    val (qBanded0, qStats) = capOversizedBands(
      bandExplode(qSigs.withColumnRenamed("q_id", "__id"), "__id",
        p.k, p.bands), "band", p.maxBandSize, "minhashIndexProbe")
    val qBanded = qBanded0.select(col("__id").as("q_id"),
      col("band.band_id").as("band_id"), col("band.band_val").as("band_val"))
    val baseBands = spark.read.parquet(s"$dir/bands")
    // the stored band table was capped PER GENERATION (build + each
    // append), so a band value can accumulate past maxBandSize across
    // appends — re-cap the MATCHED slice here (only rows colliding with
    // the query's band values are counted, so the guard costs one window
    // over the matched subset, not a shuffle of the base table)
    val matched = baseBands
      .join(ProbeBroadcast.hint(
        qBanded.select("band_id", "band_val").distinct(), bcast),
        Seq("band_id", "band_val"))
      .withColumn("band", struct(col("band_id"), col("band_val")))
    val (matchedCapped, bStats) = capOversizedBands(matched, "band",
      p.maxBandSize, "minhashIndexProbe base side")
    val cand = matchedCapped
      .join(ProbeBroadcast.hint(qBanded, bcast), Seq("band_id", "band_val"))
      .select(col("__id").as("base_id"), col("q_id")).distinct()
    // per-id dedup: a retried append may have written a doc's signature
    // twice; without this the est join fans out per duplicate row. The
    // dedup must not shuffle the FULL base sigs table per probe (the
    // "base never shuffles" contract): stream the sigs scan through a
    // broadcast join with the small candidate-pair set and dedupe only
    // MATCHED rows — duplicate sig rows are value-identical by
    // construction, so any survivor carries the right signature.
    val baseSigs = spark.read.parquet(s"$dir/sigs")
      .select(col("__id").as("base_id"), col("__sig").as("b_sig"))
    // est feeds BOTH the base-text prefilter and the verify join below;
    // localCheckpoint materializes the candidate-pair-sized frame ONCE so
    // the whole candidate-generation prefix — sigs scan, band join,
    // matched-slice dedup — runs once per probe (Catalyst does NOT dedupe
    // the two consumer subtrees by itself: the r18 plan dump carried zero
    // ReusedExchange and TWO sigs scans), and both consumers read
    // IDENTICAL survivor rows (the dropDuplicates pick is arbitrary per
    // evaluation; one evaluation means one pick)
    val est = baseSigs
      .join(ProbeBroadcast.hint(cand, bcast), "base_id")
      .dropDuplicates("base_id", "q_id")
      .join(ProbeBroadcast.hint(
        qSigs.select(col("q_id"), col("__sig").as("q_sig")), bcast), "q_id")
      .withColumn("est", sigAgreementEst(col("b_sig"), col("q_sig"), p.k))
      .filter(col("est") >= threshold - estSlack)
      .select("base_id", "q_id")
      .localCheckpoint()
    // shingle only the CANDIDATE ids' base texts: shingling the whole
    // corpus per probe is an O(base) CPU pass the probe contract says
    // must not exist (the candidate ids prefilter is broadcast-sized)
    val bt = baseText.select(col(baseIdCol).as("base_id"), col(textCol))
      .join(ProbeBroadcast.hint(est.select("base_id").distinct(), bcast),
        "base_id")
      .select(col("base_id"),
        shingleCol(col(textCol), p.shingleN, p.native).as("b_toks"))
    val qt = queries.select(col(queryIdCol).as("q_id"),
      shingleCol(col(textCol), p.shingleN, p.native).as("q_toks"))
    val out = est.join(bt, "base_id").join(qt, "q_id")
      .withColumn("jaccard", jaccardExpr(col("b_toks"), col("q_toks")))
      .filter(col("jaccard") >= threshold)
      .select("base_id", "q_id", "jaccard")
    (out, BandCapStats(qStats.droppedBands + bStats.droppedBands,
      qStats.droppedRows + bStats.droppedRows))
  }
}
