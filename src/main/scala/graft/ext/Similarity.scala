package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistedIndex

/** Similarity search over embedding columns (SURVEY §2.9 E2 + driver
  * mandate): brute-force cosine top-k as the exactness baseline, and a
  * deterministic random-hyperplane LSH bucketing as the scale path.
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate`) over `ArrayType(FloatType)` cast to double — codegen'd,
  * per-row, no UDFs. Sums accumulate in index order, so results are
  * bit-stable across engines and partitionings.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.ext.Similarity")

  /** dot(a, b) with a double accumulator in index order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x: Column, y: Column) =>
      x.cast("double") * y.cast("double")),
      lit(0.0), (acc: Column, v: Column) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against one query vector: broadcast-free
    * (the query is a literal array in the plan), one narrow map + a
    * TakeOrdered — O(n·d) work, no shuffle of the embedding column.
    * Exact; the baseline an ANN variant is measured against. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(embeddings, idCol, col(vecCol), q, k)
  }

  /** Brute-force squared-L2 top-k (ascending) — the exact twin the PQ/ADC
    * probe is recall-gated against (PQ approximates L2, not cosine). */
  def bruteForceTopKL2(embeddings: DataFrame, idCol: String, vecCol: String,
                       query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val l2 = aggregate(
      zip_with(transform(col(vecCol), x => x.cast("double")), q,
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    embeddings.select(col(idCol), round(l2, 6).as("l2"))
      // asc_nulls_LAST: a NULL or dim-mismatched vector yields l2 = NULL,
      // and Spark's default NULLS FIRST would hand it a top-k slot —
      // poisoning the very oracle the PQ probes are recall-gated against
      .orderBy(col("l2").asc_nulls_last, col(idCol).asc)
      .limit(k)
  }

  /** Matryoshka-style coarse-to-fine top-k: score every vector on only the
    * first `prefixDim` components (MRL-trained embeddings front-load
    * information, so the prefix is a cheap proxy), keep the best `kPrime`
    * by prefix cosine, then exact-rerank that shortlist on the FULL vector.
    * Per-row work in the scan drops from O(d) to O(prefixDim); the full-d
    * cosine runs on kPrime rows only. Both stages are distributed top-ks
    * (TakeOrderedAndProject — k rows cross the wire, never the corpus) and
    * both orders carry the 6-dp-rounded DECIMAL score + id tie-break, so
    * the shortlist boundary is deterministic across engines and retries.
    * Exactness contract: recall vs brute force depends on how front-loaded
    * the embedding actually is (kPrime is the knob); the OPERATOR is
    * deterministic regardless — the e2y gate pins the two-stage semantics
    * itself, not a recall bound. */
  def prefixRerankTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                       query: Seq[Float], k: Int, kPrime: Int,
                       prefixDim: Int): DataFrame = {
    require(prefixDim > 0 && prefixDim <= query.length,
      s"prefixDim must be in [1, ${query.length}], got $prefixDim")
    require(kPrime >= k, s"kPrime ($kPrime) must be >= k ($k)")
    val qPre = array(query.take(prefixDim).map(v => lit(v.toDouble)): _*)
    val qFull = array(query.map(v => lit(v.toDouble)): _*)
    val pre = embeddings.select(col(idCol), col(vecCol),
        round(cosine(slice(col(vecCol), 1, prefixDim), qPre), 6)
          .cast("decimal(18,6)").as("pcos"))
      .orderBy(col("pcos").desc, col(idCol).asc)
      .limit(kPrime)
    pre.select(col(idCol),
        round(cosine(col(vecCol), qFull), 6).cast("double").as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Brute-force top-k via the codegen'd native expression
    * (graft.functions.CosineSimilarity) — one fused loop per row instead of
    * the three-pass zip_with/aggregate composition; identical results. */
  def bruteForceTopKNative(embeddings: DataFrame, idCol: String, vecCol: String,
                           query: Seq[Float], k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val qLit = query.map(v => s"${v}F").mkString("array(", ", ", ")")
    embeddings
      .withColumn("cos",
        round(expr(s"cosine_sim($vecCol, cast($qLit as array<float>))"), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Reciprocal-rank FUSION of retriever shortlists — the hybrid-retrieval
    * combiner (lexical BM25 ∪ dense cosine is the canonical pair): each
    * retriever contributes `1/(k0 + rank)` for the ids on ITS shortlist,
    * contributions sum per id, and the fused top-k is returned. Rank-based
    * (not score-based) fusion needs no score calibration between signal
    * types — the reason RRF is the default hybrid combiner.
    *
    * Shape: each shortlist is already a distributed top-k
    * (TakeOrderedAndProject upstream — k rows, never corpus-sized), so
    * the per-list ranking window runs on a k-row frame; lists union into
    * one (id, contribution) stream and ONE id-keyed aggregation fuses
    * them. Contributions are 12-dp rounded + DECIMAL-summed — with ≥ 3
    * lists a double sum's grouping order could wobble the last bit; the
    * decimal sum is order-free.
    *
    * @param shortlists (top-k frame, score column name) per retriever —
    *                   each frame holds `idCol` + the score column
    * @return idCol, rrf_score, n_lists (how many shortlists carried the id)
    */
  def rrfFuse(shortlists: Seq[(DataFrame, String)], idCol: String,
              k0: Int = 60, topK: Int = 20): DataFrame = {
    require(shortlists.nonEmpty, "rrfFuse needs at least one shortlist")
    require(k0 > 0, s"k0 must be positive: $k0")
    val contribs = shortlists.map { case (df, scoreCol) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol).desc, col(idCol).asc)
      df.select(col(idCol),
        round(lit(1.0) / (lit(k0) + row_number().over(w)), 12)
          .cast("decimal(18,12)").as("__rc"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum(col("__rc")).cast("double").as("rrf_score"),
        count(lit(1)).cast("long").as("n_lists"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** One query of a bounded batch shard (the only thing ever collected to
    * the driver on the exact-batch paths): id, vector, label. */
  final case class VecQuery(qId: Long, vec: Seq[Float], label: Int)

  /** Cap on the literal query shard of the exact-batch paths: beyond this
    * the per-row explode cost dominates and the right tool is the indexed
    * [[annProbeBatch]]/[[ivfProbeBatch]] (which broadcast-join instead). */
  val MaxBatchQueries: Int = 1024

  /** Shared exact multi-query top-k: the bounded query shard becomes a
    * LITERAL array exploded into each corpus row (no join operator at all —
    * nothing for a planner to turn into a nested loop), `keep` filters the
    * (corpus row, query) pairs, then a TWO-PHASE top-k: per-(query,
    * input-partition) row_number over the narrow (q_id, id, cos)
    * projection, survivors (≤ Q·P·k rows) re-ranked per query. The wide
    * vector column never shuffles, and no reducer ever sees more than one
    * input-partition's worth of one query's scores — the naive
    * window-on-q_id form funnels the WHOLE corpus through Q reducers. */
  private def batchTopK(corpus: DataFrame, idCol: String, vecCol: String,
                        queries: Seq[VecQuery], k: Int,
                        keep: Column, carry: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive: $k")
    require(queries.nonEmpty, "query shard is empty")
    require(queries.size <= MaxBatchQueries,
      s"query shard (${queries.size}) exceeds $MaxBatchQueries — use the " +
        "indexed batch probes (annProbeBatch/ivfProbeBatch) for large fleets")
    // the id is cast to long for the native aggregate's (double, bigint)
    // signature; a non-integral id (e.g. a string doc key) would cast to
    // NULL and silently vanish from every result — reject it loudly
    corpus.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"batch top-k requires an integral id column; '$idCol' is $other " +
          "(map your key to a long — e.g. xxhash64 — before the call)")
    }
    // ONE Literal node for the whole shard: an array(struct(lit, array(lit×
    // dim), lit)) composition builds Q·dim Catalyst expression nodes
    // (~790k at the 1024-query cap on 768-dim vectors) and every analyzer
    // rule re-traverses them — typedlit folds the shard into a single
    // ArrayData constant the plan carries by reference
    val qarr = typedLit(queries.map(q => (q.qId, q.vec.map(_.toDouble), q.label)))
      .cast("array<struct<q_id:bigint,qv:array<double>,q_label:int>>")
    val scored = corpus
      .select(col("*"), explode(qarr).as("__q"))
      .filter(keep)
      .select(Seq(col("__q.q_id").as("q_id"),
        col(idCol).cast("long").as("__cid"),
        round(cosine(col(vecCol), col("__q.qv")), 6).as("cos")) ++
        carry.map(col): _*)
    if (carry.isEmpty) {
      // preferred path: the native bounded-buffer aggregate
      // (graft.functions.TopKPairs) is map-side combinable — each map task
      // ships ≤ k pairs per query instead of its whole score stream, so
      // the ONE exchange carries Q·maps·k rows, not Q·N. Same
      // (cos desc, id asc) total order as the window twin below —
      // bit-identical output (asserted in ExtOpsSpec).
      graft.functions.GraftFunctions.register(corpus.sparkSession)
      scored
        .groupBy("q_id")
        .agg(expr(s"topk_pairs(cos, __cid, $k)").as("__top"))
        .select(col("q_id"), posexplode(col("__top")))
        .select(col("q_id"), col("col.id").as(idCol), col("col.ord").as("cos"),
          (col("pos") + 1).cast("long").as("rk"))
    } else {
      // carry columns ride the narrow rows through a TWO-PHASE window
      // top-k: per-(query, input-partition) rank bounds every reducer's
      // input, then ≤ Q·P·k survivors re-rank per query — never the whole
      // corpus through Q reducers.
      val parted = scored.withColumn("__part", spark_partition_id())
      val w1 = Window.partitionBy("q_id", "__part")
        .orderBy(col("cos").desc, col("__cid").asc)
      val w2 = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("__cid").asc)
      parted
        .withColumn("__r", row_number().over(w1)).filter(col("__r") <= k)
        .withColumn("rk", row_number().over(w2)).filter(col("rk") <= k)
        .select(Seq(col("q_id"), col("__cid").as(idCol), col("cos"),
          col("rk").cast("long").as("rk")) ++ carry.map(col): _*)
    }
  }

  /** Exact batch top-k: for every query in the bounded shard, the exact
    * cosine top-k over the corpus (the multi-query [[bruteForceTopK]] —
    * one corpus scan for the whole shard instead of one per query).
    * @return (q_id, idCol, cos, rk) */
  def bruteForceTopKBatch(corpus: DataFrame, idCol: String, vecCol: String,
                          queries: Seq[VecQuery], k: Int): DataFrame =
    batchTopK(corpus, idCol, vecCol, queries, k, lit(true))

  /** Hard-negative mining: for each query (an anchor with a label), the
    * top-k most-cosine-similar corpus vectors with a DIFFERENT label — the
    * "semantically close but wrong" examples contrastive training wants.
    * The anchor itself shares its own label, so it is excluded for free.
    * Exact ([[batchTopK]] shape); recall-free by construction.
    * @return (q_id, idCol, cos, rk) */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: Seq[VecQuery],
                    k: Int): DataFrame =
    batchTopK(corpus, idCol, vecCol, queries, k,
      col(labelCol) =!= col("__q.q_label"))

  /** kNN label assignment (label propagation): for each query vector, the
    * majority label among its k nearest (cosine) corpus vectors — how a
    * labeled seed set extends onto an unlabeled drop. Exact neighbors via
    * [[batchTopK]] (the corpus label rides the narrow shuffle rows), then
    * one hash aggregation per (query, label) and a `max_by` argmax —
    * majority ties break to the smallest label, so the output is a total
    * function of the data on any engine.
    * @return (q_id, pred_label, votes) */
  def knnClassify(corpus: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queries: Seq[VecQuery],
                  k: Int): DataFrame =
    batchTopK(corpus, idCol, vecCol, queries, k, lit(true),
      carry = Seq(labelCol))
      .groupBy(col("q_id"), col(labelCol)).agg(count(lit(1)).as("votes"))
      .groupBy(col("q_id"))
      // one max over the ordering struct yields BOTH outputs — two
      // parallel aggregates would have to keep their ordering expressions
      // bit-identical forever or votes stops matching pred_label
      .agg(max(struct(col("votes").as("votes"),
          (-col(labelCol)).as("__nl"), col(labelCol).as("label")))
        .as("__w"))
      .select(col("q_id"), col("__w.label").as("pred_label"),
        col("__w.votes").cast("long").as("votes"))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 of the index pair, scaled to [-1, 1]. Seeded — stable across
    * runs/executors with no RNG state (SURVEY §7.3 determinism). */
  private def planeComponent(plane: Int, d: Column, seed: Int): Column =
    (xxhash64(lit(plane), d, lit(seed)).cast("double") / lit(Long.MaxValue.toDouble))

  /** Sign-random-projection signature: bit_p = (dot(v, plane_p) >= 0).
    * Vectors with small angle agree on most bits; bucket = the packed
    * signature. nPlanes buckets the corpus into ~2^nPlanes cells. */
  def lshBucket(vecCol: Column, dim: Int, nPlanes: Int = 12,
                seed: Int = 42): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vecCol, sequence(lit(0), lit(dim - 1)),
          (x: Column, i: Column) =>
            x.cast("double") * planeComponent(p, i, seed)),
        lit(0.0), (acc: Column, v: Column) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** ANN top-k, in-memory form: restrict the cosine scan to buckets whose
    * signature is within `probeHamming` bits of the query's bucket
    * (multi-probe LSH). This form still scans the corpus to compute buckets;
    * it is the semantics baseline for [[annProbe]], the indexed form that
    * reads only matching bucket partitions. */
  def annTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, dim: Int, nPlanes: Int = 12,
              probeHamming: Int = 2, seed: Int = 42): DataFrame = {
    val withBucket = embeddings.withColumn("bucket",
      lshBucket(col(vecCol), dim, nPlanes, seed))
    val qDf = embeddings.sparkSession.range(1).select(
      lshBucket(array(query.map(v => lit(v.toDouble)): _*), dim, nPlanes, seed)
        .as("qbucket"))
    val qBucket = qDf.first().getLong(0)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(
      withBucket.filter(
        bit_count(col("bucket").bitwiseXOR(lit(qBucket))) <= probeHamming),
      idCol, col(vecCol), q, k)
  }

  // ------------------------------------------------------------ ANN indexes
  //
  // Both ANN variants split into build (once, paid offline) and probe (per
  // query, reads only matching partitions). The index IS the storage layout:
  // the bucket/cell column becomes the parquet partition key, so a probe's
  // equi-filter turns into directory-level partition pruning — at 100 TB a
  // query touches nProbe cells (or a hamming ball of buckets), never the
  // corpus. Training/bucketing never runs in the query path.

  /** Build-if-absent for every index kind under its content-addressed
    * [[cacheKey]] (package-visible: TextAnalysis caches its
    * benchmark-gram set the same way). */
  private[ext] def ensureCached(kind: String, source: DataFrame, params: String)
                          (build: String => Unit): String =
    PersistedIndex.buildOnce(source.sparkSession, kind,
      cacheKey(kind, source, params))(build)

  /** The shared probe tail: exact cosine against the query literal,
    * rounded, deterministic tie-break, distributed top-k. One definition
    * so ranking semantics cannot fork across probe variants. */
  private def cosineTopK(candidates: DataFrame, idCol: String, vec: Column,
                         qLit: Column, k: Int): DataFrame =
    candidates
      .withColumn("cos", round(cosine(vec, qLit), 6))
      .select(col(idCol), col("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)

  /** Content-addressed cache key for a derived index: the
    * source's actual input files — path, length AND modification time, so a
    * corpus rewritten in place under the same file names re-keys — plus the
    * build params, so a different corpus or parameterization never reuses a
    * stale index. Non-file-backed frames (empty `inputFiles`) have no
    * content identity to key on and are rejected: callers that own index
    * lifecycle pass an explicit dir to the build/probe pair instead.
    *
    * Granularity caveat: mtime resolution is filesystem-dependent (1 s on
    * many local filesystems), so an in-place rewrite within the same mtime
    * tick that also preserves byte length is indistinguishable and reuses
    * the old index. Spark's own writers never do this (fresh part-file
    * names per job); only an external same-name same-length same-second
    * overwrite can hit it — callers doing that should pass an explicit
    * indexDir and rebuild. */
  private def cacheKey(kind: String, source: DataFrame, params: String): String = {
    val files = source.inputFiles.sorted
    require(files.nonEmpty,
      s"$kind index cache needs a file-backed source (inputFiles is empty); " +
        "pass an explicit indexDir and call the build*/probe* pair directly")
    // the semantic hash of the canonicalized plan joins the key: a FILTERED
    // frame reports the same inputFiles as its unfiltered parent, and
    // without the plan in the key `ensure*(emb.filter(...))` would silently
    // reuse the full-corpus index — a wrong-answer trap, not a perf bug.
    // Canonicalization normalizes expression ids, so the hash is stable for
    // the same logical query; a plan-shape change merely re-keys (a safe
    // spurious rebuild, never a stale reuse).
    val planKey = source.queryExecution.logical.canonicalized.semanticHash()
    val conf = source.sparkSession.sparkContext.hadoopConfiguration
    // stats batched per PARENT directory (one listStatus each), not one
    // getFileStatus RPC per file — this sits on the probe path, and a
    // 100 TB corpus has tens of thousands of part files
    val byParent = files.groupBy(f => new Path(f).getParent)
    val stats: Map[String, (Long, Long)] = byParent.iterator.flatMap {
      case (parent, fs2) =>
        val names = fs2.map(f => new Path(f).getName).toSet
        parent.getFileSystem(conf).listStatus(parent).iterator
          .filter(st => names.contains(st.getPath.getName))
          .map(st => (parent.toString + "/" + st.getPath.getName,
            (st.getLen, st.getModificationTime)))
    }.toMap
    val fingerprints = files.map { f =>
      val p = new Path(f)
      val (len, mtime) = stats.getOrElse(p.getParent.toString + "/" + p.getName, {
        val st = p.getFileSystem(conf).getFileStatus(p) // race fallback
        (st.getLen, st.getModificationTime)
      })
      s"$f:$len:$mtime"
    }
    fingerprints.mkString(",") + "|" + planKey + "|" + params
  }

  /** Materialize the LSH bucket as the storage layout: embeddings written
    * partitioned by `bucket`. Build once; [[annProbe]] reads only the
    * hamming-ball partitions. */
  def buildLshIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, dim: Int, nPlanes: Int = 8,
                    seed: Int = 42): Unit = {
    require(nPlanes <= 20, s"nPlanes=$nPlanes would mean 2^$nPlanes partition dirs")
    PersistedIndex.commit(embeddings.sparkSession, indexDir,
        PersistedIndex.lsh(dim, nPlanes, seed)) {
      embeddings.select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), dim, nPlanes, seed).cast("int").as("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(indexDir)
    }
  }

  /** Build-if-absent into the content-addressed cache; returns the dir. */
  def ensureLshIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nPlanes: Int = 8, seed: Int = 42): String =
    ensureCached("lsh", embeddings, s"$idCol|$vecCol|$dim|$nPlanes|$seed")(
      buildLshIndex(embeddings, idCol, vecCol, _, dim, nPlanes, seed))

  /** INCREMENTAL maintenance for a [[buildLshIndex]] layout: the bucket is
    * a pure function of the vector (no trained state at all), so ingest is
    * one narrow map + an append to the touched bucket partitions. Unlike
    * [[ivfIndexAppend]] there is no drift — the planes are seeded
    * constants — so an appended LSH index is EXACTLY the index a full
    * rebuild would produce, modulo file layout. */
  def lshIndexAppend(spark: SparkSession, indexDir: String,
                     newVectors: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nPlanes: Int = 8, seed: Int = 42): Unit = {
    // bucketing with other planes than the build files vectors where no
    // probe looks
    PersistedIndex.check(spark, indexDir, "append",
      PersistedIndex.lsh(dim, nPlanes, seed))
    val idxFields = spark.read.parquet(indexDir).schema.fieldNames.toSet
    require(!idxFields.contains("__codes"),
      s"$indexDir is a QUANTIZED layout — float append would corrupt it")
    require(idxFields.contains(idCol) && idxFields.contains(vecCol),
      s"$indexDir schema (${idxFields.mkString(",")}) does not match " +
        s"($idCol, $vecCol)")
    newVectors.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), dim, nPlanes, seed).cast("int").as("bucket"))
      .write.mode(SaveMode.Append).partitionBy("bucket").parquet(indexDir)
  }

  /** All bucket values within `radius` sign-flips of `center`: the
    * multi-probe set, enumerated driver-side (C(nPlanes, ≤radius) values —
    * a scalar-sized list, like the watermark reads). */
  private[graft] def hammingBall(center: Long, nPlanes: Int, radius: Int): Seq[Int] = {
    val masks = scala.collection.mutable.ArrayBuffer(0L)
    def go(start: Int, left: Int, acc: Long): Unit = {
      var p = start
      while (p < nPlanes) {
        masks += (acc | (1L << p))
        if (left > 1) go(p + 1, left - 1, acc | (1L << p))
        p += 1
      }
    }
    if (radius > 0) go(0, radius, 0L)
    masks.toSeq.map(m => (center ^ m).toInt)
  }

  /** Probe a [[buildLshIndex]] layout: hamming ball enumerated driver-side,
    * scan reads ONLY those bucket partitions (partition pruning — assert
    * `PartitionFilters` in the plan), exact cosine top-k on candidates. */
  def annProbe(spark: SparkSession, indexDir: String, idCol: String,
               vecCol: String, query: Seq[Float], k: Int, dim: Int,
               nPlanes: Int = 8, probeHamming: Int = 2,
               seed: Int = 42): DataFrame = {
    // foreign planes would enumerate a hamming ball over the wrong bucket
    // space and return quietly near-empty neighbors
    PersistedIndex.check(spark, indexDir, "probe",
      PersistedIndex.lsh(dim, nPlanes, seed))
    val qBucket = spark.range(1).select(
      lshBucket(array(query.map(v => lit(v.toDouble)): _*), dim, nPlanes, seed))
      .first().getLong(0)
    val probes = hammingBall(qBucket, nPlanes, probeHamming)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(
      spark.read.parquet(indexDir).filter(col("bucket").isin(probes: _*)),
      idCol, col(vecCol), q, k)
  }

  /** Batch ANN over a [[buildLshIndex]] layout: hamming-ball probes for
    * EVERY query row in one plan (the LSH twin of [[ivfProbeBatch]]). The
    * ball's XOR masks are query-independent — C(nPlanes, ≤radius) literals
    * — so each query computes its bucket in-plan and explodes to
    * bucket⊕mask; the (query, bucket) frame broadcasts onto the index
    * (corpus never shuffles) and the equi-join on the partition column
    * lets dynamic partition pruning restrict the scan to probed buckets. */
  def annProbeBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
                    qIdCol: String, idCol: String, vecCol: String, k: Int,
                    dim: Int, nPlanes: Int = 8, probeHamming: Int = 2,
                    seed: Int = 42): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // foreign planes would enumerate a hamming ball over the wrong bucket
    // space and return quietly near-empty neighbors
    PersistedIndex.check(spark, indexDir, "probe",
      PersistedIndex.lsh(dim, nPlanes, seed))
    val masks = hammingBall(0L, nPlanes, probeHamming) // center 0 → raw masks
    val masksLit = array(masks.map(lit): _*)
    val probed = queries
      .select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"),
        lshBucket(col(vecCol), dim, nPlanes, seed).cast("int").as("__qb"))
      .select(col("q_id"), col("__qv"),
        explode(transform(masksLit, m => m.bitwiseXOR(col("__qb"))))
          .as("bucket"))
    val index = spark.read.parquet(indexDir)
    index.join(broadcast(probed), Seq("bucket"))
      .withColumn("cos", round(cosine(col(vecCol), col("__qv")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol).asc)))
      .filter(col("rk") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("rk").cast("long").as("rk"))
  }

  /** Build the IVF (inverted-file) index ONCE: fit the k-means coarse
    * quantizer, write (id, vec) partitioned by `__cell`, persist the tiny
    * centroid table beside the data (`_centroids` — underscore-prefixed, so
    * scans of the index ignore it). The training pass is paid here, never
    * per query. Seeded — deterministic across runs. */
  def buildIvfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, nLists: Int = 16,
                    seed: Long = 42L, metaCols: Seq[String] = Nil): Unit = {
    val (assigned0, centers) = fitCells(embeddings, vecCol, nLists, seed)
    // materialized once: the partitioned write and the cell-stats baseline
    // both read the assignment (recomputing the scan + KMeans transform
    // per consumer would double the build's dominant cost).
    // metaCols ride INSIDE the cell files so a filtered probe pushes its
    // metadata predicate into the pruned scan (PushedFilters beside the
    // __cell PartitionFilters) — the "search within a date range" shape;
    // without them a filtered probe would need a join back to the corpus.
    val assigned = assigned0.select(
        (col(idCol) +: metaCols.map(col)) ++ Seq(col(vecCol), col("__cell")): _*)
      .localCheckpoint()
    assigned
      .write.mode(SaveMode.Overwrite).partitionBy("__cell").parquet(indexDir)
    writeCentroids(embeddings.sparkSession, indexDir, centers)
    writeCellStats(assigned, vecCol, centers, indexDir)
  }

  /** Shared coarse-quantizer fit for the IVF builds: returns the input
    * with `__cell` assigned plus the centroid matrix. The training pass is
    * paid once at build time, never per query. */
  private def fitCells(embeddings: DataFrame, vecCol: String, nLists: Int,
                       seed: Long): (DataFrame, Array[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = embeddings.withColumn("__v",
      array_to_vector(col(vecCol).cast("array<double>")))
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setFeaturesCol("__v").setPredictionCol("__cell")
      .fit(vecs)
    (model.transform(vecs), model.clusterCenters.map(_.toArray))
  }

  /** Persist the tiny centroid table beside the cells (`_centroids` —
    * underscore-prefixed, so scans of the index ignore it). */
  private def writeCentroids(spark: SparkSession, indexDir: String,
                             centers: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centers.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(indexDir + "/_centroids")
  }

  /** Build-time per-cell assignment-quality baseline, persisted beside the
    * centroids as `_cellstats` (underscore-prefixed — index scans ignore
    * it): (cell, n, mean_dist), mean_dist being the mean L2 distance of
    * the cell's build-time members to their assigned centroid.
    * [[ivfIndexAppend]] compares every appended batch against this to
    * surface coarse-quantizer drift — without it recall decays silently as
    * the data distribution walks away from the frozen centroids. */
  private def writeCellStats(assigned: DataFrame, vecCol: String,
                             centers: Array[Array[Double]],
                             indexDir: String): Unit = {
    val centArr = array(centers.map(c => array(c.map(lit): _*)): _*)
    assigned
      .withColumn("__d", sqrt(aggregate(
        zip_with(col(vecCol), element_at(centArr, col("__cell") + 1),
          (x: Column, y: Column) =>
            (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (a: Column, v: Column) => a + v)))
      .groupBy(col("__cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n"), avg("__d").as("mean_dist"))
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(indexDir + "/_cellstats")
  }

  /** The persisted `_centroids` table as ONE in-plan literal
    * (array<struct<cell, cv>>) — scalar-sized, like the watermark reads.
    * Shared by the batch probe and the incremental append so the two can
    * never disagree on what the quantizer is. */
  /** Driver-side read of the tiny `_centroids` table (scalar-sized). */
  private def readCentroids(spark: SparkSession,
                            indexDir: String): Seq[(Int, Seq[Double])] = {
    val cents = spark.read.parquet(indexDir + "/_centroids").collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getSeq[Double](r.fieldIndex("centroid")))).toSeq
    require(cents.nonEmpty, s"no _centroids under $indexDir — not an IVF index")
    cents
  }

  private def centroidsToLit(cents: Seq[(Int, Seq[Double])]): Column =
    array(cents.map { case (cell, cv) =>
      struct(lit(cell).as("cell"), array(cv.map(lit): _*).as("cv"))
    }: _*)

  private def centroidsLit(spark: SparkSession, indexDir: String): Column =
    centroidsToLit(readCentroids(spark, indexDir))

  /** Ascending (L2 distance, cell) ranking of every centroid for `vec` in
    * one fused traversal — the shared nearest-cell math for batch probe
    * planning AND append assignment (one definition, no drift). */
  private def centroidDists(vec: Column, centLit: Column): Column =
    array_sort(transform(centLit, c => struct(
      aggregate(zip_with(vec, c.getField("cv"),
        (x: Column, y: Column) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (a: Column, v: Column) => a + v).as("d"),
      c.getField("cell").as("cell"))))

  /** Rank the persisted centroid list driver-side (scalar-sized) and
    * return the nProbe nearest cell ids — the shared probe planning step. */
  /** Driver-side twin of [[centroidDists]] for the single-query probes
    * (one query ⇒ no reason to launch a job): MUST keep the same ascending
    * (distance, cell) order, ties broken by cell id, so single-query
    * probes, batch probes, and append assignment all agree on cell
    * ranking. */
  private def nearestCells(spark: SparkSession, indexDir: String,
                           query: Seq[Float], nProbe: Int): IndexedSeq[Int] = {
    val q = query.map(_.toDouble).toArray
    spark.read.parquet(indexDir + "/_centroids")
      .collect()
      .map { r =>
        val c = r.getSeq[Double](r.fieldIndex("centroid"))
        // zip would silently TRUNCATE a dim mismatch and rank plausible-
        // but-wrong cells; the in-plan twin (centroidDists) nulls instead
        // — both are wrong answers, so fail loud before either
        require(c.length == q.length,
          s"query dimension ${q.length} does not match index dimension " +
            s"${c.length} at $indexDir")
        val d = c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
        (r.getInt(r.fieldIndex("cell")), d)
      }
      .sortBy { case (cell, d) => (d, cell) }
      .take(nProbe).map(_._1).toIndexedSeq
  }

  /** Build-if-absent into the content-addressed cache; returns the dir.
    * metaCols extend the cache key only when present, so pre-existing
    * metadata-free indexes stay cache hits. */
  def ensureIvfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                     nLists: Int = 16, seed: Long = 42L,
                     metaCols: Seq[String] = Nil): String = {
    val metaKey =
      if (metaCols.isEmpty) "" else s"|meta=${metaCols.mkString("+")}"
    ensureCached("ivf", embeddings, s"$idCol|$vecCol|$nLists|$seed$metaKey")(
      buildIvfIndex(embeddings, idCol, vecCol, _, nLists, seed, metaCols))
  }

  /** One cell's drift line in [[IvfAppendStats]]: the batch's mean
    * assigned-centroid distance against the build-time baseline for the
    * same cell. `baseN = 0` means the cell was empty at build time — any
    * mass landing there is itself a distribution-shift signal. */
  final case class IvfCellDrift(cell: Int, baseN: Long, baseMeanDist: Double,
                                appendN: Long, appendMeanDist: Double) {
    /** Batch/baseline mean-distance ratio; +∞ when there is no baseline
      * to compare against (empty or degenerate build-time cell). */
    def distRatio: Double =
      if (baseN > 0L && baseMeanDist > 0.0) appendMeanDist / baseMeanDist
      else Double.PositiveInfinity
  }

  /** The [[ivfIndexAppend]] drift ledger — the loud, programmatic signal
    * that the frozen coarse quantizer no longer fits the arriving data
    * (the [[graft.ext.Dedup.BandCapStats]] pattern: return the decision,
    * never log-and-swallow). Bounded: one line per touched cell, ≤ nLists.
    *
    *  - `distRatio` — batch-wide mean assigned-centroid distance over the
    *    build-time mean. Near 1.0 for in-distribution appends; grows as
    *    arriving vectors sit ever farther from every centroid.
    *  - `cellSkew` — (largest cell's share of the batch) × the number of
    *    cells the batch COULD have spread over, `min(appended, nCells)`;
    *    1.0 is perfectly uniform, the max means the whole batch fell in
    *    one cell (probes of that cell degrade toward brute force). The
    *    min() is the small-batch normalization: a 3-row append over 16
    *    cells has maxCellShare ≥ 1/3 no matter how healthy the quantizer
    *    is, so raw share × nCells would read ≥ 5.3 and fire the default
    *    4.0 threshold on every benign trickle append.
    *
    * `drifted()` folds both into the rebuild recommendation; thresholds
    * are caller-tunable because "how stale is too stale" is a recall-SLA
    * decision, not an index property. */
  final case class IvfAppendStats(appended: Long, nCells: Int,
                                  baseMeanDist: Double, appendMeanDist: Double,
                                  maxCellShare: Double,
                                  perCell: Seq[IvfCellDrift]) {
    def distRatio: Double =
      if (baseMeanDist > 0.0) appendMeanDist / baseMeanDist
      else if (appendMeanDist == 0.0) 1.0
      else Double.PositiveInfinity
    def cellSkew: Double = maxCellShare * math.min(appended, nCells.toLong)
    def drifted(maxDistRatio: Double = 1.5, maxSkew: Double = 4.0): Boolean =
      appended > 0L && (distRatio > maxDistRatio || cellSkew > maxSkew)
  }

  /** INCREMENTAL index maintenance: append a batch of new vectors to an
    * existing [[buildIvfIndex]] layout WITHOUT re-fitting the coarse
    * quantizer — the steady-state ingest path (a corpus that re-trains
    * KMeans per arriving shard isn't an index, it's a rebuild loop). The
    * persisted `_centroids` ride into the plan as one literal
    * (scalar-sized); each new vector ranks all centroids in one fused
    * traversal and lands in its nearest cell; the batch is appended to the
    * cell partitions it touches (dynamic partition overwrite is NOT used —
    * plain append never rewrites existing files).
    *
    * Returns the [[IvfAppendStats]] drift ledger, computed against the
    * build-time `_cellstats` baseline in one bounded aggregation over the
    * batch (≤ nLists rows collected — scalar-sized, like the centroid
    * reads). Centroids DO drift as the distribution shifts; this is the
    * signal to rebuild before recall decays silently. */
  def ivfIndexAppend(spark: SparkSession, indexDir: String,
                     newVectors: DataFrame, idCol: String,
                     vecCol: String): IvfAppendStats = {
    // guard the PAYLOAD schema, not just _centroids presence: a quantized
    // layout also persists centroids, and appending float rows into it
    // would give later probes null __codes → silently invisible vectors
    val idxFields = spark.read.parquet(indexDir).schema.fieldNames.toSet
    require(!idxFields.contains("__codes"),
      s"$indexDir is a QUANTIZED layout — float append would corrupt it; " +
        "use ivfIndexAppendQuantized instead")
    require(idxFields.contains(idCol) && idxFields.contains(vecCol),
      s"$indexDir schema (${idxFields.mkString(",")}) does not match " +
        s"($idCol, $vecCol)")
    // an index built with metaCols carries those columns IN the cell
    // files (the filtered-probe contract); an append that omitted them
    // would write rows whose metadata reads NULL under schema merge —
    // every filtered probe would silently never return appended vectors
    // (the same silent-invisibility class as the __codes guard above)
    val metaCols = (idxFields -- Set(idCol, vecCol, "__cell")).toSeq.sorted
    val missing = metaCols.filterNot(newVectors.columns.contains)
    require(missing.isEmpty,
      s"$indexDir carries metadata columns (${metaCols.mkString(", ")}) " +
        s"for filtered probes; the append batch lacks " +
        s"${missing.mkString(", ")} — appended vectors would read NULL " +
        "metadata and silently drop out of every filtered probe")
    val (assigned, nCells) =
      assignToCells(spark, indexDir, newVectors, idCol, vecCol, metaCols)
    assigned.drop("__d")
      .write.mode(SaveMode.Append).partitionBy("__cell").parquet(indexDir)
    driftStats(spark, indexDir, assigned, nCells, "ivfIndexAppend")
  }

  /** [[ivfIndexAppend]]'s twin for [[buildIvfIndexQuantized]] layouts:
    * assign to the frozen centroids, quantize the batch (the int8 grid is
    * PER-VECTOR — each row's mn/scale derive from that row alone, so
    * appended codes are exactly what a full rebuild would produce), append
    * to the touched cell partitions, return the same drift ledger. */
  def ivfIndexAppendQuantized(spark: SparkSession, indexDir: String,
                              newVectors: DataFrame, idCol: String,
                              vecCol: String): IvfAppendStats = {
    val idxFields = spark.read.parquet(indexDir).schema.fieldNames.toSet
    require(idxFields.contains("__codes"),
      s"$indexDir is a FLOAT layout — use ivfIndexAppend instead")
    require(idxFields.contains(idCol),
      s"$indexDir schema (${idxFields.mkString(",")}) does not carry $idCol")
    val (assigned, nCells) = assignToCells(spark, indexDir, newVectors, idCol, vecCol)
    quantizedPayload(assigned, idCol, vecCol, keep = Seq("__cell"))
      .write.mode(SaveMode.Append).partitionBy("__cell").parquet(indexDir)
    driftStats(spark, indexDir, assigned, nCells, "ivfIndexAppendQuantized")
  }

  /** Shared append front half: nearest-cell assignment from the persisted
    * centroids plus the assigned distance, materialized ONCE — the
    * partitioned write and the drift aggregation both read it (recomputing
    * the full centroid ranking per consumer would double the batch's
    * dominant cost). Fails loud when `_cellstats` is absent: appending
    * without a drift baseline is how recall decays silently. */
  private def assignToCells(spark: SparkSession, indexDir: String,
                            newVectors: DataFrame, idCol: String,
                            vecCol: String,
                            metaCols: Seq[String] = Nil): (DataFrame, Int) = {
    val statsPath = new Path(indexDir, "_cellstats")
    val statsFs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(statsFs.exists(statsPath),
      s"no _cellstats under $indexDir — the index predates the drift " +
        "baseline; rebuild before appending")
    // one driver-side centroid read serves both the in-plan ranking and
    // the ledger's quantizer cell count (no second parquet job)
    val cents = readCentroids(spark, indexDir)
    val dists = centroidDists(col(vecCol), centroidsToLit(cents))
    (newVectors
      .select((col(idCol) +: metaCols.map(col)) ++ Seq(col(vecCol),
        element_at(dists, 1).getField("cell").as("__cell"),
        sqrt(element_at(dists, 1).getField("d")).as("__d")): _*)
      .localCheckpoint(), cents.size)
  }

  /** Shared append back half: the bounded drift aggregation (≤ nLists rows
    * collected) compared against the build-time `_cellstats` baseline. */
  private def driftStats(spark: SparkSession, indexDir: String,
                         assigned: DataFrame, nCells: Int,
                         opName: String): IvfAppendStats = {
    val batch = assigned
      .groupBy(col("__cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("an"), avg("__d").as("ad"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getDouble(2)))).toMap
    val base = spark.read.parquet(indexDir + "/_cellstats").collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        (r.getLong(r.fieldIndex("n")), r.getDouble(r.fieldIndex("mean_dist")))))
      .toMap
    // nCells is the QUANTIZER's cell count (number of centroids), not the
    // count of non-empty build-time cells — a sparse build (3 of 16 cells
    // populated) must not deflate cellSkew below the firing threshold
    val appended = batch.valuesIterator.map(_._1).sum
    val perCell = batch.toSeq.sortBy(_._1).map { case (cell, (an, ad)) =>
      val (bn, bd) = base.getOrElse(cell, (0L, 0.0))
      IvfCellDrift(cell, bn, bd, an, ad)
    }
    val baseN = base.valuesIterator.map(_._1).sum
    val baseMean =
      if (baseN > 0L) base.valuesIterator.map { case (n, d) => n * d }.sum / baseN
      else 0.0
    val appendMean =
      if (appended > 0L) batch.valuesIterator.map { case (n, d) => n * d }.sum / appended
      else 0.0
    val maxShare =
      if (appended > 0L) batch.valuesIterator.map(_._1).max.toDouble / appended
      else 0.0
    val stats = IvfAppendStats(appended, nCells.max(1), baseMean, appendMean,
      maxShare, perCell)
    if (stats.drifted())
      log.warn(f"$opName($indexDir): drift signal — distRatio=" +
        f"${stats.distRatio}%.3f cellSkew=${stats.cellSkew}%.2f over " +
        s"$appended appended rows; consider rebuilding the index")
    stats
  }

  /** Probe a [[buildIvfIndex]] layout: rank the persisted centroid list
    * driver-side (scalar-sized), read ONLY the nProbe nearest cell
    * partitions, exact cosine top-k on candidates. No training stage.
    *
    * `filter` restricts candidates by metadata BEFORE the distance work —
    * it composes with the partition pruning: the predicate lands in the
    * pruned cells' parquet scan as PushedFilters (row-group min/max
    * pruning) beside the `__cell` PartitionFilters, so a selective
    * "within this label/date range" probe reads a fraction of even the
    * probed cells. The filtered columns must have been built into the
    * index via `metaCols` — filtering on an absent column fails loudly at
    * analysis (there is nothing to silently mis-filter). */
  def ivfProbe(spark: SparkSession, indexDir: String, idCol: String,
               vecCol: String, query: Seq[Float], k: Int,
               nProbe: Int = 4, filter: Option[Column] = None): DataFrame = {
    val probes = nearestCells(spark, indexDir, query, nProbe)
    val qLit = array(query.map(v => lit(v.toDouble)): _*)
    val cells = spark.read.parquet(indexDir)
      .filter(col("__cell").isin(probes: _*))
    cosineTopK(filter.fold(cells)(cells.filter), idCol, col(vecCol), qLit, k)
  }

  /** Batch ANN over a [[buildIvfIndex]] layout: top-k for EVERY query row
    * in one plan — the shape that dedups/links a whole incoming shard
    * against the corpus. The tiny centroid table rides in as one literal
    * (scalar-sized, like the single-probe ranking); each query ranks all
    * centroids in one fused pass and explodes to its nProbe nearest cells;
    * the (query, cell) frame is BROADCAST onto the index so the corpus
    * never shuffles, and the equi-join on the partition column lets
    * dynamic partition pruning restrict the scan to probed cells. Top-k
    * per query is a query-partitioned window (never global). */
  def ivfProbeBatch(spark: SparkSession, indexDir: String, queries: DataFrame,
                    qIdCol: String, idCol: String, vecCol: String, k: Int,
                    nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per query: L2 distance to every centroid in one traversal, ascending
    // (ties by cell id — deterministic), keep the nProbe nearest cells
    val dists = centroidDists(col(vecCol), centroidsLit(spark, indexDir))
    val probed = queries
      .select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"),
        explode(slice(dists, 1, nProbe)).as("__probe"))
      .select(col("q_id"), col("__qv"), col("__probe").getField("cell").as("__cell"))
    val index = spark.read.parquet(indexDir)
    val scored = index.join(broadcast(probed), Seq("__cell"))
      .withColumn("cos", round(cosine(col(vecCol), col("__qv")), 6))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col(idCol).asc)))
      .filter(col("rk") <= k)
      .select(col("q_id"), col(idCol), col("cos"), col("rk").cast("long").as("rk"))
  }

  /** Convenience one-shot IVF top-k: reuse (or build, only if absent) the
    * cached index, then probe — `KMeans.fit` never runs when the index
    * exists, so steady-state queries pay only the nProbe-partition read. */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, nLists: Int = 16, nProbe: Int = 4,
              seed: Long = 42L, indexDir: Option[String] = None): DataFrame = {
    val dir = indexDir.getOrElse(
      ensureIvfIndex(embeddings, idCol, vecCol, nLists, seed))
    ivfProbe(embeddings.sparkSession, dir, idCol, vecCol, query, k, nProbe)
  }

  /** INT8-QUANTIZED IVF variant: same coarse quantizer and cell layout as
    * [[buildIvfIndex]], but cells store per-vector int8 codes
    * (offset-shifted to `array<byte>` — true 1 byte/component, 4× less
    * scan IO than float32) plus the two dequantization scalars. The probe
    * ranks on DEQUANTIZED vectors; per QuantizeSpec the 8-bit grid moves
    * 64-dim cosines by ≲1e-2, so candidate ranking survives — pipelines
    * wanting exact final scores re-rank the returned top-k against the
    * float corpus (k rows, scalar-sized). */
  def buildIvfIndexQuantized(embeddings: DataFrame, idCol: String,
                             vecCol: String, indexDir: String,
                             nLists: Int = 16, seed: Long = 42L): Unit = {
    val (assigned0, centers) = fitCells(embeddings, vecCol, nLists, seed)
    val assigned = assigned0.select(col(idCol), col(vecCol), col("__cell"))
      .localCheckpoint() // see buildIvfIndex — two consumers, one pass
    quantizedPayload(assigned, idCol, vecCol, keep = Seq("__cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("__cell").parquet(indexDir)
    writeCentroids(embeddings.sparkSession, indexDir, centers)
    writeCellStats(assigned, vecCol, centers, indexDir)
  }

  /** Project the quantized index row payload: id + dequantization scalars
    * + offset-shifted 1-byte codes (+ `keep` passthrough columns). MUST
    * stay the exact inverse of [[dequantized]] — the single shared
    * definition keeps the byte-offset convention in lockstep across every
    * quantized index kind. Two-step select so the quantize struct is
    * materialized once, not once per extracted field. */
  private def quantizedPayload(df: DataFrame, idCol: String, vecCol: String,
                               keep: Seq[String]): DataFrame =
    df.select(Seq(col(idCol), Quantize.quantizeInt8(col(vecCol)).as("__q")) ++
        keep.map(col): _*)
      .select(Seq(col(idCol),
        col("__q.mn").as("__mn"), col("__q.scale").as("__scale"),
        transform(col("__q.codes"), c => (c - 128).cast("byte")).as("__codes")) ++
        keep.map(col): _*)

  /** Build-if-absent into the content-addressed cache; returns the dir. */
  def ensureIvfIndexQuantized(embeddings: DataFrame, idCol: String,
                              vecCol: String, nLists: Int = 16,
                              seed: Long = 42L): String =
    ensureCached("ivfq", embeddings, s"$idCol|$vecCol|$nLists|$seed")(
      buildIvfIndexQuantized(embeddings, idCol, vecCol, _, nLists, seed))

  /** Probe a [[buildIvfIndexQuantized]] layout: nProbe cell partitions
    * read (pruned), vectors dequantized in-plan, cosine top-k. */
  def ivfProbeQuantized(spark: SparkSession, indexDir: String, idCol: String,
                        query: Seq[Float], k: Int,
                        nProbe: Int = 4): DataFrame = {
    val probes = nearestCells(spark, indexDir, query, nProbe)
    val qLit = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(
      spark.read.parquet(indexDir).filter(col("__cell").isin(probes: _*)),
      idCol, dequantized, qLit, k)
  }

  /** INT8-QUANTIZED LSH variant: [[buildLshIndex]]'s bucket layout with
    * [[buildIvfIndexQuantized]]'s cell payload — 1-byte codes instead of
    * float vectors, hamming-ball probes ranked on dequantized vectors. */
  def buildLshIndexQuantized(embeddings: DataFrame, idCol: String,
                             vecCol: String, indexDir: String, dim: Int,
                             nPlanes: Int = 8, seed: Int = 42): Unit = {
    require(nPlanes <= 20, s"nPlanes=$nPlanes would mean 2^$nPlanes partition dirs")
    val bucketed = embeddings.withColumn("bucket",
      lshBucket(col(vecCol), dim, nPlanes, seed).cast("int"))
    PersistedIndex.commit(embeddings.sparkSession, indexDir,
        PersistedIndex.lsh(dim, nPlanes, seed)) {
      quantizedPayload(bucketed, idCol, vecCol, keep = Seq("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(indexDir)
    }
  }

  /** Build-if-absent into the content-addressed cache; returns the dir. */
  def ensureLshIndexQuantized(embeddings: DataFrame, idCol: String,
                              vecCol: String, dim: Int, nPlanes: Int = 8,
                              seed: Int = 42): String =
    ensureCached("lshq", embeddings, s"$idCol|$vecCol|$dim|$nPlanes|$seed")(
      buildLshIndexQuantized(embeddings, idCol, vecCol, _, dim, nPlanes, seed))

  /** Probe a [[buildLshIndexQuantized]] layout: hamming-ball partition
    * pruning as [[annProbe]], cosine on dequantized vectors. */
  def annProbeQuantized(spark: SparkSession, indexDir: String, idCol: String,
                        query: Seq[Float], k: Int, dim: Int,
                        nPlanes: Int = 8, probeHamming: Int = 2,
                        seed: Int = 42): DataFrame = {
    // foreign planes would enumerate a hamming ball over the wrong bucket
    // space and return quietly near-empty neighbors
    PersistedIndex.check(spark, indexDir, "probe",
      PersistedIndex.lsh(dim, nPlanes, seed))
    val qBucket = spark.range(1).select(
      lshBucket(array(query.map(v => lit(v.toDouble)): _*), dim, nPlanes, seed))
      .first().getLong(0)
    val probes = hammingBall(qBucket, nPlanes, probeHamming)
    val qLit = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(
      spark.read.parquet(indexDir).filter(col("bucket").isin(probes: _*)),
      idCol, dequantized, qLit, k)
  }

  /** In-plan reconstruction of a quantized row's vector. */
  private def dequantized: Column =
    transform(col("__codes"),
      c => col("__mn") + (c.cast("double") + 128.0) * col("__scale"))

  /** Exact re-rank: score a candidate id set against the FLOAT corpus and
    * return the exact-cosine top-k — the second stage of the quantize-then-
    * rerank pipeline (candidates from [[ivfProbeQuantized]] /
    * [[annProbeQuantized]] with k′ > k rank on the 8-bit grid; this
    * restores exact scores and exact order). The candidate set is
    * scalar-sized (k′ rows), so it BROADCASTS onto the corpus join — the
    * corpus never shuffles, and an id-sorted/bucketed corpus layout turns
    * the fetch into a pruned point-lookup scan. Shares [[cosineTopK]], so
    * the returned scores are bit-identical to [[bruteForceTopK]]'s. */
  def rerankExact(candidates: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, query: Seq[Float], k: Int): DataFrame = {
    val qLit = array(query.map(v => lit(v.toDouble)): _*)
    cosineTopK(corpus.join(broadcast(candidates.select(col(idCol))), Seq(idCol)),
      idCol, col(vecCol), qLit, k)
  }

  /** Quantized IVF probe with exact final scores: rank kPrime candidates
    * on the dequantized 8-bit grid (4× less scan IO), then [[rerankExact]]
    * the kPrime ids against the float corpus for the true top-k. With
    * full-coverage probes (nProbe = nLists) and kPrime comfortably above
    * k, the result EQUALS brute force exactly — the int8 grid moves
    * 64-dim cosines by ≲1e-2 (QuantizeSpec), so the true top-k always
    * sits inside the quantized top-kPrime at kPrime ≥ 5k. */
  def ivfProbeQuantizedReranked(spark: SparkSession, indexDir: String,
                                corpus: DataFrame, idCol: String,
                                vecCol: String, query: Seq[Float], k: Int,
                                kPrime: Int, nProbe: Int = 4): DataFrame = {
    require(kPrime >= k, s"kPrime ($kPrime) must be >= k ($k)")
    val cand = ivfProbeQuantized(spark, indexDir, idCol, query, kPrime, nProbe)
    rerankExact(cand, corpus, idCol, vecCol, query, k)
  }

  /** [[semanticDedup]]'s `nClusters` sentinel: size the k-means cell count
    * from the DISTINCT corpus at fit time (~1k vectors per cell, clamped
    * to [16, 4096]) instead of a caller-fixed k. */
  val AutoClusters: Int = -1

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023): cluster the
    * corpus with a k-means coarse quantizer, compare pairs only WITHIN each
    * cluster (exact cosine), connect the ≥-threshold pairs into components,
    * and keep the min-id member of each — "these k docs say the same thing;
    * keep one". The embedding-space complement of [[Dedup.minhashNearDups]]:
    * MinHash catches reworded COPIES (shingle overlap), this catches
    * semantic duplicates with zero lexical overlap.
    *
    * Scale shape: EXACT-duplicate vectors collapse FIRST — one hash
    * aggregation on the vector value picks a min-id representative per
    * distinct payload, and only representatives enter the k-means fit and
    * the pairwise stage. Replica-heavy corpora (the common real case:
    * mirrored shards, re-crawls, augmentation copies) otherwise make the
    * within-cell pair step quadratic in the duplication factor — measured
    * as a 6.8 s → 1593 s blowup on a ×50-replicated sf0.1 corpus before
    * this pass, 40× less pair work after (SCALE.md). Identical vectors are
    * semantic duplicates at ANY valid threshold (cos = 1), so collapsing
    * them early is semantics-preserving: members re-join their
    * representative's cluster at the end, and cluster labels are unchanged
    * (a representative is the min id of its exact group, so the min
    * representative in a component is the min member overall).
    *
    * After the collapse, the k-means fit is the only corpus-global step
    * (one pass, seeded, deterministic); pair generation is an equi-join on
    * the cell id carrying only (id, cell) — vectors join back by id for
    * the exact cosine on candidates, never riding the self-join.
    * Within-cluster comparison is the SemDeDup trade: pairs straddling a
    * cluster boundary are missed (raise nClusters for tighter cells, lower
    * it for recall). A degenerate cluster — a boilerplate blob collapsing
    * into one cell — would make its self-join quadratic, so cells pass
    * through [[Dedup.capOversizedBands]] (counted over DISTINCT vectors);
    * the `Counted` variant surfaces the drop ledger. Components come from
    * [[DupClusters.connectedComponents]] (O(log n) rounds,
    * converged-or-throw).
    *
    * @return the surviving rows of `embeddings` (one canonical per
    *         duplicate component, everything else untouched) */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nClusters: Int = 16, seed: Long = 42L,
                    maxIter: Int = 25,
                    maxClusterSize: Int = Dedup.DefaultMaxBandSize): DataFrame =
    semanticDedupCounted(embeddings, idCol, vecCol, threshold, nClusters,
      seed, maxIter, maxClusterSize)._1

  /** [[semanticDedup]] plus the oversized-cell drop ledger (the
    * programmatic cap-truncation signal, as in Dedup's Counted forms). */
  def semanticDedupCounted(embeddings: DataFrame, idCol: String,
                           vecCol: String, threshold: Double,
                           nClusters: Int = 16, seed: Long = 42L,
                           maxIter: Int = 25,
                           maxClusterSize: Int = Dedup.DefaultMaxBandSize)
      : (DataFrame, Dedup.BandCapStats) = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"threshold must be a cosine in (-1, 1]: $threshold")
    require(nClusters == AutoClusters || nClusters >= 2,
      s"nClusters must be >= 2 (KMeans) or AutoClusters: $nClusters")
    val base0 = embeddings.select(col(idCol), col(vecCol))
    // Degenerate rows — NULL vectors and zero-norm vectors — bypass the
    // whole pipeline as their own singletons: cosine is undefined for
    // them (NULL / zero norm), so the pair stage never merged them before
    // the exact-collapse existed, and collapsing identical zero vectors
    // would silently drop rows the threshold semantics always kept.
    // coalesce(true): a vector with NULL ELEMENTS yields a null norm —
    // cosine is undefined for it too, so it passes through as a singleton
    // rather than vanishing from both branches of the filter
    val isDegenerate = col(vecCol).isNull ||
      coalesce(aggregate(col(vecCol), lit(0.0),
        (a: Column, x: Column) => a + x.cast("double") * x.cast("double")) === 0.0,
        lit(true))
    // checkpointed like reps/memberRep: the final union re-reads it, and a
    // live source re-evaluated between the base and degenerate scans could
    // otherwise put a changed row in both branches or neither
    val degenerate = base0.filter(isDegenerate).select(col(idCol))
      .localCheckpoint()
    val base = base0.filter(!isDegenerate)
    // 0) exact collapse: min-id representative per DISTINCT vector value
    // (one hash agg on the payload; cos(exact twins) = 1 ≥ any valid
    // threshold given nonzero norms, so this is semantics-preserving —
    // see scaladoc). Both frames are read by several stages below —
    // checkpoint once.
    val reps = base.groupBy(col(vecCol))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col(vecCol))
      .localCheckpoint()
    val memberRep = base
      .join(reps.select(col(idCol).as("__rep"), col(vecCol)), Seq(vecCol))
      .select(col(idCol), col("__rep"))
      .localCheckpoint()
    // an all-degenerate corpus leaves nothing to cluster — KMeans.fit on
    // zero rows throws, and the contract ("degenerate rows pass through as
    // singletons") must hold for it too
    if (reps.isEmpty)
      return (embeddings.join(degenerate, Seq(idCol)), Dedup.BandCapStats(0L, 0L))
    // AutoClusters: size cells to the DISTINCT corpus (~1k vectors/cell,
    // clamped) — the within-cell pair stage is quadratic in cell size, so
    // a fixed k over a growing corpus silently degrades toward all-pairs
    // (the SCALE.md ×10 line). One count on the checkpointed reps frame.
    // The floor-16 clamp is itself capped at the representative count:
    // Spark ML KMeans requires k ≥ 2 and its behavior for k > n training
    // points is version-dependent, so a tiny distinct corpus (< 16 reps)
    // must not inherit the floor. A single-rep corpus skips KMeans
    // entirely — one cell holds everything and the pair stage is empty.
    // the k-vs-reps clamp applies to the EXPLICIT path too: KMeans with
    // k > n training points is the version-dependent condition the auto
    // path's comment guards against, and an explicit nClusters=16 over a
    // 5-distinct-vector corpus hits it just the same
    val repsCount = reps.count()
    val k =
      if (nClusters == AutoClusters)
        math.max(2L, math.min(
          math.max(16L, math.min(4096L, repsCount / 1000L)), repsCount)).toInt
      else math.max(2L, math.min(nClusters.toLong, repsCount)).toInt
    val (assigned, _) =
      if (repsCount < 2L)
        (reps.withColumn("__cell", lit(0)), Array.empty[Array[Double]])
      else fitCells(reps, vecCol, k, seed)
    val (cells, stats) = Dedup.capOversizedBands(
      assigned.select(col(idCol), col("__cell")), "__cell", maxClusterSize,
      "semanticDedup")
    val a = cells.select(col(idCol).as("a_id"), col("__cell"))
    val b = cells.select(col(idCol).as("b_id"), col("__cell"))
    // one cell per doc ⇒ each pair meets at most once; no distinct needed
    val cand = a.join(b, a("__cell") === b("__cell") && col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val va = reps.select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val vb = reps.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    // the candidate cosine is the hot loop (pairs × dim): float embeddings
    // ride the codegen'd native kernel (bit-identical to the HOF fold for
    // the embeddings contract — equal lengths, no null elements, spec'd in
    // CosineSimilaritySpec); other element types keep the HOF composition
    val cosPair = embeddings.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        graft.functions.GraftFunctions.register(embeddings.sparkSession)
        expr("cosine_sim(__va, __vb)")
      case _ => cosine(col("__va"), col("__vb"))
    }
    val pairs = cand.join(va, "a_id").join(vb, "b_id")
      .withColumn("cos", round(cosPair, 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id")
    val cc = DupClusters.clusters(reps.select(col(idCol)), idCol,
      pairs, "a_id", "b_id", maxIter)
    // expand representatives' components back over their exact groups:
    // a member's cluster is its representative's cluster, and the label
    // (min rep id) is already the min member id of the expanded cluster
    val canonical = memberRep
      .join(cc.select(col(idCol).as("__rep"), col("cluster_id")), Seq("__rep"))
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))
      .unionByName(degenerate) // singletons: untouched by dedup, kept
    (embeddings.join(canonical, Seq(idCol)), stats)
  }

  /** Deterministic pseudo-random plane matrix for the banded near-dup LSH,
    * generated DRIVER-side (splitmix64, seeded — stable across JVMs and
    * executors) and shipped as one array literal: m = bands·nPlanes planes ×
    * dim components in [-1, 1], flat row-major (plane j, component i at
    * j·dim + i). Hashing per (plane, component) inside the row expression —
    * what [[lshBucket]] does per plane — would recompute row-invariant
    * values dim·m times per ROW; the literal pays it once at plan time. */
  private[graft] def planeMatrix(dim: Int, m: Int, seed: Int): IndexedSeq[Double] = {
    var s = seed.toLong * 0x9E3779B97F4A7C15L
    def next(): Long = { // splitmix64
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    IndexedSeq.fill(m * dim)(next().toDouble / Long.MaxValue.toDouble)
  }

  /** Embedding near-dup pairs: banded multi-table LSH (the OR-construction,
    * like Dedup.bandCandidates) then exact cosine threshold on candidates —
    * the embedding-space analog of Dedup.minhashNearDups.
    *
    * `bands` independent nPlanes-plane signatures: a pair is a candidate
    * when ANY band's buckets collide, so recall at cosine c is
    * 1-(1-p^nPlanes)^bands with p = 1-θ/π — a single 8-plane table NEVER
    * catches a 0.9-pair differing in one sign bit; 4×8 bands catch a
    * cos≈0.998 twin with miss ~1e-4 and 8×8 at ~1e-7. Tune bands up /
    * nPlanes down for looser thresholds.
    *
    * Execution shape (100 TB): all bands·nPlanes projections come from ONE
    * `aggregate` traversal of the vector with a wide accumulator (bands
    * separate lshBucket trees would fall out of codegen — the SimHash
    * lesson); the band self-join carries only (id, band) — vectors do NOT
    * ride the ×bands explode; the exact verify joins them back by id, two
    * hash joins on the candidate set LSH has already gutted. */
  /** The one banded random-hyperplane projection both embedding near-dup
    * forms (self-join and cross-table join) band with: all bands·nPlanes
    * projections from ONE vector traversal, reassembled into per-band
    * sign-bit values — (outId, band) rows, vectors left behind. A single
    * definition so the two forms can never band differently. */
  private def hyperplaneBands(df: DataFrame, idCol: String, outId: String,
                              vecCol: String, dim: Int, nPlanes: Int,
                              bands: Int, seed: Int): DataFrame = {
    val m = bands * nPlanes
    val planes = array(planeMatrix(dim, m, seed).map(lit): _*) // folds to one Literal
    val projs = aggregate(
      zip_with(col(vecCol), sequence(lit(0), lit(dim - 1)),
        (x: Column, i: Column) => struct(x.cast("double").as("x"), i.as("i"))),
      array_repeat(lit(0.0), m),
      (acc: Column, e: Column) =>
        zip_with(acc, sequence(lit(0), lit(m - 1)),
          (a: Column, j: Column) =>
            a + e.getField("x") * element_at(planes, j * dim + e.getField("i") + 1)))
    val withProjs = df.select(col(idCol).as(outId), projs.as("__projs"))
    val bandStructs = (0 until bands).map { b =>
      val bits = (0 until nPlanes).map { p =>
        when(element_at(col("__projs"), b * nPlanes + p + 1) >= 0, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      struct(lit(b).as("band_id"), bits.as("band_val"))
    }
    withProjs.select(col(outId), explode(array(bandStructs: _*)).as("band"))
  }

  /** Cross-table embedding near-dup JOIN (semantic entity linking /
    * corpus-vs-benchmark decontamination): every (left, right) pair with
    * cosine ≥ `threshold`, via banded hyperplane collisions ACROSS the two
    * tables — the embedding analog of [[Dedup.minhashJoin]], never a
    * cartesian. Identical vectors project identically and collide in every
    * band, so exact twins are found with probability 1 (the planted-twin
    * gate is structural); noisy pairs at angle θ are caught with the
    * OR-construction probability 1-(1-(1-θ/π)^nPlanes)^bands. Exact
    * cosine verify ⇒ no false positives ever. Per-side hot-band caps, as
    * in the minhash join.
    * @return (l_id, r_id, cos) */
  def cosineJoin(left: DataFrame, leftId: String,
                 right: DataFrame, rightId: String, vecCol: String,
                 dim: Int, threshold: Double, nPlanes: Int = 8,
                 bands: Int = 4, seed: Int = 42,
                 maxBandSize: Int = Dedup.DefaultMaxBandSize): DataFrame =
    cosineJoinCounted(left, leftId, right, rightId, vecCol, dim, threshold,
      nPlanes, bands, seed, maxBandSize)._1

  /** [[cosineJoin]] plus the two per-side hot-band ledgers. */
  def cosineJoinCounted(left: DataFrame, leftId: String,
                        right: DataFrame, rightId: String, vecCol: String,
                        dim: Int, threshold: Double, nPlanes: Int = 8,
                        bands: Int = 4, seed: Int = 42,
                        maxBandSize: Int = Dedup.DefaultMaxBandSize)
      : (DataFrame, Dedup.BandCapStats, Dedup.BandCapStats) = {
    val (lBanded, lStats) = Dedup.capOversizedBands(
      hyperplaneBands(left, leftId, "l_id", vecCol, dim, nPlanes, bands, seed),
      "band", maxBandSize, "cosineJoin left side")
    val (rBanded, rStats) = Dedup.capOversizedBands(
      hyperplaneBands(right, rightId, "r_id", vecCol, dim, nPlanes, bands, seed),
      "band", maxBandSize, "cosineJoin right side")
    val cand = lBanded.join(rBanded, Seq("band"))
      .select("l_id", "r_id").distinct()
    val lv = left.select(col(leftId).as("l_id"), col(vecCol).as("__lv"))
    val rv = right.select(col(rightId).as("r_id"), col(vecCol).as("__rv"))
    (cand.join(lv, "l_id").join(rv, "r_id")
      .withColumn("cos", round(cosine(col("__lv"), col("__rv")), 6))
      .filter(col("cos") >= threshold)
      .select("l_id", "r_id", "cos"), lStats, rStats)
  }

  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                         dim: Int, threshold: Double, nPlanes: Int = 8,
                         bands: Int = 4, seed: Int = 42,
                         maxBandSize: Int = Dedup.DefaultMaxBandSize): DataFrame =
    cosineNearDupPairsCounted(embeddings, idCol, vecCol, dim, threshold,
      nPlanes, bands, seed, maxBandSize)._1

  /** [[cosineNearDupPairs]] plus the hot-band drop ledger (the
    * programmatic cap-truncation signal, as in Dedup's Counted forms). */
  def cosineNearDupPairsCounted(embeddings: DataFrame, idCol: String,
                                vecCol: String, dim: Int, threshold: Double,
                                nPlanes: Int = 8, bands: Int = 4,
                                seed: Int = 42,
                                maxBandSize: Int = Dedup.DefaultMaxBandSize)
      : (DataFrame, Dedup.BandCapStats) = {
    // hot-band guard (Dedup.capOversizedBands): a degenerate bucket — e.g.
    // millions of zero/boilerplate embeddings sharing one signature — would
    // make the self-join below quadratic inside that bucket; oversized band
    // values are dropped with a returned + logged ledger, never silently
    val (banded, stats) = Dedup.capOversizedBands(
      hyperplaneBands(embeddings, idCol, idCol, vecCol, dim, nPlanes, bands,
        seed),
      "band", maxBandSize, "cosineNearDupPairs")
    val la = banded.select(col(idCol).as("a_id"), col("band"))
    val rb = banded.select(col(idCol).as("b_id"), col("band"))
    val cand = la.join(rb, la("band") === rb("band") && col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val va = embeddings.select(col(idCol).as("a_id"), col(vecCol).as("__va"))
    val vb = embeddings.select(col(idCol).as("b_id"), col(vecCol).as("__vb"))
    (cand.join(va, "a_id").join(vb, "b_id")
      .withColumn("cos", round(cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos"), stats)
  }
}
