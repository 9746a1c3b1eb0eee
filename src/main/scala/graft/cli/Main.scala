package graft.cli

import graft.core.{GraftSession, GraftError}
import graft.sources.JdbcSource
import graft.sync.{SyncConfig, SyncEndpoint, SyncPipeline, SyncReport}

/** Thin command layer (SURVEY §3.1/§3.2, reference cli.py): `single` runs
  * one watermark-driven incremental sync, `continuous` polls every
  * `--delay` seconds (reference default 5, cli.py:72-74). Strict layering
  * kept from the reference (cli → api → engine): this file only parses
  * args, renders progress (M2), and maps errors to exit codes (M3:
  * typed GraftError → 2, engine/runtime failure → 1 — distinct,
  * scriptable codes).
  *
  * Endpoints are parquet directories or JDBC tables
  * (`jdbc:postgresql://host:port/db#table` — table after `#`, credentials
  * via `--source-user`/`--source-password` etc., never in the URL). For a
  * JDBC source, `--key` may be omitted: the primary key is reflected from
  * the catalog (S2), like the reference's autoload.
  *
  *   runMain graft.cli.Main single --source <parquet|jdbc:...#t> \
  *     --dest <parquet|jdbc:...#t> [--key K[,K2]] --watermark W [--cut N]
  *   runMain graft.cli.Main continuous ... [--delay 5] [--iterations N]
  *   runMain graft.cli.Main compact --dest <parquet dir> \
  *     [--target-bytes N] [--partition-by COL]
  *   runMain graft.cli.Main curate --source <parquet docs> --dest <parquet out> \
  *     [--id-col doc_id] [--text-col text] [--jaccard 0.8] \
  *     [--min-tokens N] [--max-tokens N]
  *   runMain graft.cli.Main neardup --source <parquet docs> --dest <parquet pairs> \
  *     [--mode minhash|simhash|exact|containment|containment-sampled] \
  *     [--id-col doc_id] [--text-col text] \
  *     [--jaccard 0.8]
  *   runMain graft.cli.Main semantic-dedup --source <parquet embeddings> \
  *     --dest <parquet survivors> [--id-col vec_id] [--vector-col embedding] \
  *     [--threshold 0.99]
  *   runMain graft.cli.Main quality --source <parquet docs> --dest <parquet out> \
  *     [--id-col doc_id] [--text-col text] [--min-tokens N] [--max-tokens N]
  *   runMain graft.cli.Main admit --source <parquet fresh docs> \
  *     --base <parquet corpus> --dest <parquet admitted> \
  *     [--bloom PATH] [--expected-items N] [--fpp 0.01] \
  *     [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main decontaminate --source <parquet corpus> \
  *     --benchmark <parquet eval docs> --dest <parquet clean docs> \
  *     [--mode shingle|span|jaccard|containment] [--report PATH] \
  *     [--ngram 3|16] [--max-contamination 0.0] [--jaccard 0.8] \
  *     [--threshold 0.99 for containment] [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main spans --source <parquet docs> --dest <parquet out> \
  *     [--id-col doc_id] [--text-col text] [--ngram 16]
  *   runMain graft.cli.Main layout --source <parquet> --dest <parquet dir> \
  *     --by COL[,COL2 for z-order] --key TIEBREAK[,K2] [--buckets 16]
  *   runMain graft.cli.Main mix --source <parquet docs> --dest <parquet out> \
  *     --by STRATACOL (--quota-tokens N | --alpha A --target-tokens N) \
  *     [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main dedup-lines --source <parquet docs> \
  *     --dest <parquet cleaned> [--min-docs 2] [--report PATH] \
  *     [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main dedup-spans --source <parquet docs> \
  *     --dest <parquet cleaned> [--min-span 0] [--ngram 16] \
  *     [--report PATH] [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main diff --source <parquet new> --base <parquet prev> \
  *     --dest <parquet statuses> [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main reconcile --source <parquet|jdbc:...#t> \
  *     --dest <parquet synced copy> --key K[,K2] [--report PATH] [--apply]
  *   runMain graft.cli.Main bpe-train --source <parquet docs> \
  *     --dest <parquet merge table> --merges N [--text-col text]
  *   runMain graft.cli.Main tokenize --source <parquet docs> \
  *     --base <parquet merge table> --dest <parquet counts> \
  *     [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main pipeline --source <parquet docs> \
  *     --benchmark <parquet eval docs> --dest <work dir> --by STRATACOL \
  *     (--quota-tokens N | --alpha A --target-tokens N) \
  *     [--min-span 24] [--min-docs 2] [--min-tokens N] [--max-tokens N] \
  *     [--max-contamination 0.0] [--shards 16] [--capacity 2048] \
  *     [--id-col doc_id] [--text-col text]
  *   runMain graft.cli.Main agg --source <parquet|jdbc:...#t> \
  *     --dest <rollup dir> --by GROUPCOL[,G2] --watermark W \
  *     [--value-col value | --value-col V1,V2 | --moments | --distinct C[,C2]] \
  *     [--cut N] [--partitioned] [--buckets 64] [--kbuckets M]
  *     (default cut assumes a QUIESCED source; for a concurrently
  *     appended source pass an explicit --cut — see runAgg's contract)
  */
object Main {

  private[cli] case class Args(cmd: String, source: String, dest: String,
                          keys: Seq[String], watermark: String,
                          cut: Option[Long], delay: Long, iterations: Int,
                          partitionBy: Option[String], progress: Boolean,
                          sourceUser: Option[String], sourcePassword: Option[String],
                          destUser: Option[String], destPassword: Option[String],
                          targetBytes: Option[Long],
                          idCol: String, textCol: String, jaccard: Double,
                          minTokens: Option[Long], maxTokens: Option[Long],
                          mode: String, vectorCol: String, threshold: Double,
                          base: String = "", benchmark: String = "",
                          bloom: Option[String] = None,
                          expectedItems: Option[Long] = None,
                          fpp: Double = 0.01, report: Option[String] = None,
                          ngramN: Int = 3, maxContamination: Double = 0.0,
                          by: String = "", buckets: Int = 16,
                          quotaTokens: Option[Long] = None,
                          targetTokens: Option[Long] = None,
                          alpha: Option[Double] = None,
                          minDocs: Int = 2,
                          minSpan: Int = 0,
                          applyChanges: Boolean = false,
                          merges: Int = 6,
                          shards: Int = 16,
                          capacity: Long = 2048L,
                          valueCol: String = "value",
                          partitioned: Boolean = false,
                          moments: Boolean = false,
                          distinctCols: Option[String] = None,
                          valueColSet: Boolean = false,
                          kbuckets: Int = 0,
                          minmax: Boolean = false,
                          tombstone: Option[String] = None,
                          contentCol: String = "content",
                          bands: Int = 4,
                          maxHamming: Int = 3)

  private val boolFlags =
    Set("progress", "apply", "partitioned", "moments", "minmax")

  private[cli] def parse(argv: Array[String]): Args = {
    if (argv.isEmpty || !Set("single", "continuous", "compact", "curate",
        "neardup", "semantic-dedup", "quality", "admit",
        "decontaminate", "spans", "layout", "mix",
        "dedup-lines", "dedup-spans", "diff", "reconcile",
        "bpe-train", "tokenize", "pipeline", "agg",
        "agg-read", "rebucket", "span-index",
        "dhash-index", "ahash-index").contains(argv(0)))
      throw GraftError.InvalidConfig("usage: graft (single|continuous) --source (PATH|jdbc:...#table) --dest (PATH|jdbc:...#table) [--key K[,K2]] --watermark W [--cut N] [--delay SEC] [--iterations N] [--partition-by COL] [--tombstone COL, CDC deletes] [--progress] [--source-user U] [--source-password P] [--dest-user U] [--dest-password P] | graft compact --dest PATH [--target-bytes N] [--partition-by COL] | graft curate --source PATH --dest PATH [--id-col doc_id] [--text-col text] [--jaccard 0.8] [--min-tokens N] [--max-tokens N] | graft neardup --source PATH --dest PATH [--mode minhash|simhash|exact|containment|containment-sampled] [--id-col doc_id] [--text-col text] [--jaccard 0.8] [--threshold 0.99 for containment modes] | graft semantic-dedup --source PATH --dest PATH [--id-col vec_id] [--vector-col embedding] [--threshold 0.99] | graft quality --source PATH --dest PATH [--id-col doc_id] [--text-col text] [--min-tokens N] [--max-tokens N] | graft admit --source PATH --base PATH --dest PATH [--bloom PATH] [--expected-items N] [--fpp 0.01] [--id-col doc_id] [--text-col text] | graft decontaminate --source PATH --benchmark PATH --dest PATH [--mode shingle|span|jaccard|containment] [--report PATH] [--ngram 3|16] [--max-contamination 0.0] [--jaccard 0.8] [--threshold 0.99 for containment] [--id-col doc_id] [--text-col text] | graft dedup-lines --source PATH --dest PATH [--min-docs 2] [--report PATH] [--id-col doc_id] [--text-col text] | graft dedup-spans --source PATH --dest PATH [--min-span 0] [--ngram 16] [--report PATH] [--id-col doc_id] [--text-col text] | graft diff --source PATH --base PATH --dest PATH [--id-col doc_id] [--text-col text] | graft reconcile --source (PATH|jdbc:...#table) --dest PATH --key K[,K2] [--report PATH] [--apply] | graft bpe-train --source PATH --dest PATH --merges N [--id-col doc_id] [--text-col text] | graft tokenize --source PATH --base MERGES_PATH --dest PATH [--id-col doc_id] [--text-col text] | graft spans --source PATH --dest PATH [--id-col doc_id] [--text-col text] [--ngram 16] | graft layout --source PATH --dest PATH --by COL[,COL2 for z-order] --key TIEBREAK[,K2] [--buckets 16] | graft mix --source PATH --dest PATH --by STRATACOL (--quota-tokens N | --alpha A --target-tokens N) [--id-col doc_id] [--text-col text] | graft pipeline --source PATH --benchmark PATH --dest WORKDIR --by STRATACOL (--quota-tokens N | --alpha A --target-tokens N) [--min-span 24] [--min-docs 2] [--min-tokens N] [--max-tokens N] [--max-contamination 0.0] [--shards 16] [--capacity 2048] [--id-col doc_id] [--text-col text] | graft agg --source (PATH|jdbc:...#table) --dest PATH --by GROUPCOL[,G2] --watermark W [--key K[,K2] last-writer-wins keyed lane] [--tombstone COL, keyed CDC deletes] [--value-col value | --value-col V1,V2 | --moments | --distinct C[,C2]] [--cut N] [--partitioned] [--buckets 64] [--kbuckets 4x-buckets, keyed state store] | graft agg-read --source ROLLUP_DIR --dest OUT_PARQUET [--mode plain|derived|distinct|minmax] [--by G[,G2] outer groups, composition modes only] [--value-col V, minmax only] | graft rebucket --dest PATH --buckets N [--kbuckets M, keyed layouts only] | graft span-index --mode build|append|probe --source PATH --dest (INDEX_DIR for build/append, OUT_PARQUET for probe) [--base INDEX_DIR, probe only] [--ngram 16] [--buckets 64] [--id-col doc_id] [--text-col text] | graft dhash-index --mode build|append|probe --source MEDIA_PARQUET --dest (INDEX_DIR for build/append, OUT_PARQUET for probe) [--base INDEX_DIR, probe only] [--bands 4] [--max-hamming 3, probe only] [--id-col media_id] [--content-col content] | graft ahash-index --mode build|append|probe --source MEDIA_PARQUET --dest (INDEX_DIR for build/append, OUT_PARQUET for probe) [--base INDEX_DIR, probe only] [--bands 4] [--max-hamming 3, probe only] [--id-col media_id] [--content-col content]. Note: agg and reconcile commit their watermark/state sidecars via atomic rename; object stores with no AbstractFileSystem binding (e.g. s3a) use a staged two-phase commit (.new twin written before the old sidecar is touched) so readers see a committed value at every crash point")
    val opts = scala.collection.mutable.Map.empty[String, String]
    var i = 1
    while (i < argv.length) {
      val k = argv(i)
      if (!k.startsWith("--"))
        throw GraftError.InvalidConfig(s"unexpected argument: $k")
      val name = k.drop(2)
      if (boolFlags.contains(name)) { opts(name) = "true"; i += 1 }
      else if (i + 1 >= argv.length)
        throw GraftError.InvalidConfig(s"option --$name requires a value")
      else { opts(name) = argv(i + 1); i += 2 }
    }
    def req(k: String) = opts.getOrElse(k,
      throw GraftError.InvalidConfig(s"missing required option --$k"))
    // numeric options are config surface: a bad value is the USER'S error
    // (exit 2 per M3), never a runtime failure
    def num(name: String, v: String, min: Long = Long.MinValue,
            max: Long = Long.MaxValue): Long = {
      val n = v.toLongOption.getOrElse(
        throw GraftError.InvalidConfig(s"--$name expects a number, got '$v'"))
      if (n < min)
        throw GraftError.InvalidConfig(s"--$name must be >= $min, got $n")
      if (n > max)
        throw GraftError.InvalidConfig(s"--$name must be <= $max, got $n")
      n
    }
    // compact is a dest-only maintenance verb (no source/key/watermark);
    // curate takes source+dest but no watermark
    val syncCmd = argv(0) == "single" || argv(0) == "continuous"
    if (argv(0) == "rebucket") req("buckets")
    Args(argv(0),
      if (argv(0) == "compact" || argv(0) == "rebucket")
        opts.getOrElse("source", "") else req("source"),
      req("dest"),
      opts.get("key").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil),
      if (syncCmd || argv(0) == "agg") req("watermark")
      else opts.getOrElse("watermark", ""),
      opts.get("cut").map(num("cut", _)),
      // max bound before ×1000: an absurd-but-parsed delay would wrap
      // negative and die at runtime (exit 1) instead of as config (exit 2)
      num("delay", opts.getOrElse("delay", "5"), min = 0,
        max = Long.MaxValue / 1000) * 1000,
      // max bound before toInt: a Long above Int.MaxValue would silently
      // wrap through toInt, defeating the exit-2 validation it sits inside
      num("iterations", opts.getOrElse("iterations", Int.MaxValue.toString),
        min = 1, max = Int.MaxValue).toInt,
      opts.get("partition-by"),
      opts.contains("progress"),
      opts.get("source-user"), opts.get("source-password"),
      opts.get("dest-user"), opts.get("dest-password"),
      opts.get("target-bytes").map(num("target-bytes", _, min = 1)),
      opts.getOrElse("id-col",
        if (argv(0) == "semantic-dedup") "vec_id"
        else if (argv(0) == "dhash-index" || argv(0) == "ahash-index")
          "media_id"
        else "doc_id"),
      opts.getOrElse("text-col", "text"),
      {
        val j = opts.getOrElse("jaccard", "0.8")
        val d = j.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
          s"--jaccard expects a number in (0,1], got '$j'"))
        if (d <= 0.0 || d > 1.0) throw GraftError.InvalidConfig(
          s"--jaccard must be in (0,1], got $d")
        d
      },
      opts.get("min-tokens").map(num("min-tokens", _, min = 0)),
      opts.get("max-tokens").map(num("max-tokens", _, min = 1)),
      {
        // --mode is verb-scoped: neardup picks its cascade, decontaminate
        // picks the overlap MEASURE (shingle tally vs merged span coverage)
        val (dflt, allowed) =
          if (argv(0) == "decontaminate")
            ("shingle", Set("shingle", "span", "jaccard", "containment"))
          else if (argv(0) == "agg-read")
            ("plain", Set("plain", "derived", "distinct", "minmax"))
          else if (argv(0) == "span-index" || argv(0) == "dhash-index" ||
                   argv(0) == "ahash-index")
            ("build", Set("build", "append", "probe"))
          else ("minhash", Set("minhash", "simhash", "exact",
            "containment", "containment-sampled"))
        val m = opts.getOrElse("mode", dflt)
        if (!allowed.contains(m))
          throw GraftError.InvalidConfig(
            s"--mode must be one of ${allowed.mkString(", ")}, got '$m'")
        m
      },
      opts.getOrElse("vector-col", "embedding"),
      {
        val t = opts.getOrElse("threshold", "0.99")
        val d = t.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
          s"--threshold expects a number in (0,1], got '$t'"))
        if (d <= 0.0 || d > 1.0) throw GraftError.InvalidConfig(
          s"--threshold must be in (0,1], got $d")
        d
      }) match {
      case a if a.minTokens.exists(mn => a.maxTokens.exists(_ < mn)) =>
        // a swapped range would silently quality-drop the whole corpus
        throw GraftError.InvalidConfig(
          s"--min-tokens (${a.minTokens.get}) must be <= --max-tokens (${a.maxTokens.get})")
      case a => a.copy(
        base = if (argv(0) == "admit" || argv(0) == "diff" ||
                   argv(0) == "tokenize") req("base")
               else opts.getOrElse("base", ""),
        benchmark = if (argv(0) == "decontaminate" ||
                        argv(0) == "pipeline") req("benchmark")
                    else opts.getOrElse("benchmark", ""),
        bloom = opts.get("bloom"),
        expectedItems =
          opts.get("expected-items").map(num("expected-items", _, min = 1)),
        fpp = {
          val v = opts.getOrElse("fpp", "0.01")
          val d = v.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
            s"--fpp expects a number in (0,1), got '$v'"))
          if (d <= 0.0 || d >= 1.0) throw GraftError.InvalidConfig(
            s"--fpp must be in (0,1), got $d")
          d
        },
        report = opts.get("report"),
        // span modes work in exact-substring windows (chars), shingle
        // decontamination in tokens — different natural defaults, one flag
        ngramN = num("ngram", opts.getOrElse("ngram",
          if (argv(0) == "spans" || argv(0) == "dedup-spans" ||
            argv(0) == "span-index" ||
            (argv(0) == "decontaminate" &&
              opts.get("mode").contains("span"))) "16" else "3"),
          min = 1, max = 64).toInt,
        by = if (argv(0) == "layout" || argv(0) == "mix" ||
                 argv(0) == "pipeline" || argv(0) == "agg") req("by")
             else opts.getOrElse("by", ""),
        // agg's partitioned rollup caps buckets where the engine does
        // (65536) and defaults to the documented 64; layout keeps 16
        buckets = num("buckets", opts.getOrElse("buckets",
            if (argv(0) == "agg" || argv(0) == "span-index") "64" else "16"),
          min = 1, max = if (argv(0) == "agg" || argv(0) == "rebucket" ||
            argv(0) == "span-index") 65536 else 1000000).toInt,
        // keyed-partitioned state bucket count; 0 = derive (4 × --buckets:
        // keys are finer-grained than groups)
        kbuckets = num("kbuckets", opts.getOrElse("kbuckets", "0"),
          min = 0, max = 65536).toInt,
        quotaTokens = opts.get("quota-tokens").map(num("quota-tokens", _, min = 1)),
        targetTokens = opts.get("target-tokens").map(num("target-tokens", _, min = 1)),
        minDocs = num("min-docs", opts.getOrElse("min-docs", "2"),
          min = 2, max = Int.MaxValue).toInt,
        // pipeline defaults to the Lee-et-al 24-char span floor (the e6i4
        // production form); the standalone dedup-spans verb keeps 0 (cut
        // every detected window) for backward compatibility
        minSpan = num("min-span", opts.getOrElse("min-span",
          if (argv(0) == "pipeline") "24" else "0"),
          min = 0, max = Int.MaxValue).toInt,
        applyChanges = opts.contains("apply"),
        merges = num("merges", opts.getOrElse("merges",
          if (argv(0) == "bpe-train") req("merges") else "6"),
          min = 1, max = 65536).toInt,
        shards = num("shards", opts.getOrElse("shards", "16"),
          min = 1, max = 1000000).toInt,
        capacity = num("capacity", opts.getOrElse("capacity", "2048"),
          min = 1),
        valueCol = opts.getOrElse("value-col", "value"),
        partitioned = opts.contains("partitioned"),
        moments = opts.contains("moments"),
        minmax = opts.contains("minmax"),
        tombstone = opts.get("tombstone"),
        contentCol = opts.getOrElse("content-col", "content"),
        // dHash bands must divide 64 and bound maxHamming from above for
        // exact pigeonhole recall — both are config surface (exit 2)
        bands = num("bands", opts.getOrElse("bands", "4"),
          min = 2, max = 64).toInt,
        maxHamming = num("max-hamming", opts.getOrElse("max-hamming", "3"),
          min = 0, max = 63).toInt,
        distinctCols = opts.get("distinct"),
        valueColSet = opts.contains("value-col"),
        alpha = opts.get("alpha").map { v =>
          val d = v.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
            s"--alpha expects a number in [0,1], got '$v'"))
          if (d < 0.0 || d > 1.0) throw GraftError.InvalidConfig(
            s"--alpha must be in [0,1], got $d")
          d
        },
        maxContamination = {
          val v = opts.getOrElse("max-contamination", "0.0")
          val d = v.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
            s"--max-contamination expects a number in [0,1], got '$v'"))
          if (d < 0.0 || d > 1.0) throw GraftError.InvalidConfig(
            s"--max-contamination must be in [0,1], got $d")
          d
        })
    }
  }

  private def render(r: SyncReport): Unit =
    println(f"synced ${r.candidateRows} rows in ${r.elapsedMs} ms " +
      f"(${r.rowsPerSec}%.0f rows/s), merge wrote ${r.rowsWritten} rows " +
      f"[watermark ${r.startingPoint.getOrElse("-")} → cut ${r.snapshotCut}]")

  def main(argv: Array[String]): Unit = {
    val exit = try {
      val a = parse(argv)
      val spark = GraftSession.local("graft-cli")
      try {
        a.cmd match {
          case "compact"        => runCompact(spark, a)
          case "curate"         => runCurate(spark, a)
          case "neardup"        => runNearDup(spark, a)
          case "semantic-dedup" => runSemanticDedup(spark, a)
          case "quality"        => runQuality(spark, a)
          case "admit"          => runAdmit(spark, a)
          case "decontaminate"  => runDecontaminate(spark, a)
          case "spans"          => runSpans(spark, a)
          case "layout"         => runLayout(spark, a)
          case "mix"            => runMix(spark, a)
          case "dedup-lines"    => runDedupLines(spark, a)
          case "dedup-spans"    => runDedupSpans(spark, a)
          case "diff"           => runDiff(spark, a)
          case "reconcile"      => runReconcile(spark, a)
          case "bpe-train"      => runBpeTrain(spark, a)
          case "pipeline"       => runPipeline(spark, a)
          case "tokenize"       => runTokenize(spark, a)
          case "agg"            => runAgg(spark, a)
          case "agg-read"       => runAggRead(spark, a)
          case "rebucket"       => runRebucket(spark, a)
          case "span-index"     => runSpanIndex(spark, a)
          case "dhash-index"    => runHashIndex(spark, a, audio = false)
          case "ahash-index"    => runHashIndex(spark, a, audio = true)
          case _                => runSync(spark, a)
        }
        0
      } finally spark.stop()
    } catch {
      // M3: config/connectivity errors (the user's fault) exit 2, anything
      // else (engine/runtime failure) exits 1 — distinct, scriptable codes.
      case e: GraftError => System.err.println(s"error: ${e.getMessage}"); 2
      case e: Exception  => System.err.println(s"error: ${e.getMessage}"); 1
    }
    if (exit != 0) sys.exit(exit)
  }

  /** Duplicated-span coverage (ext/TextAnalysis.dupSpanCoverage) as a CLI
    * verb: per-doc characters inside cross-document duplicated --ngram-char
    * substrings, merged into maximal intervals. Runs the hashed-key
    * production form (8-byte shuffle payloads); the oracle-gated exact
    * twin is `e6i_dup_span_coverage`. */
  private[cli] def runSpans(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.{avg, coalesce, col, count, lit, sum}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("spans applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    graft.ext.TextAnalysis.dupSpanCoverage(docs, a.idCol, a.textCol,
        n = a.ngramN, hashedKeys = true)
      .write.mode("overwrite").parquet(a.dest)
    // coalesce the summary scalars: avg/sum over an empty (or
    // all-NULL-frac) result are SQL NULL, and getDouble/getLong on NULL
    // would crash a command whose write already SUCCEEDED (the runDiff
    // rule)
    val s = spark.read.parquet(a.dest).agg(
      count(col(a.idCol)).as("docs"),
      coalesce(avg(col("dup_span_frac")), lit(0.0)).as("mean"),
      coalesce(sum((col("dup_span_frac") >= 0.5).cast("long")), lit(0L))
        .as("heavy")).first()
    println(f"span coverage ${a.source}: ${s.getLong(0)} docs, " +
      f"mean frac ${s.getDouble(1)}%.4f, ${s.getLong(2)} docs >= 0.5 " +
      s"-> ${a.dest}")
  }

  /** Line-level boilerplate removal (ext/TextAnalysis.dropDuplicatedLines)
    * as a CLI verb: drop every line occurrence whose trimmed value appears
    * in ≥ --min-docs distinct documents, keep every other column of the
    * doc row intact, and report how many line occurrences were removed.
    * `--report PATH` additionally writes the per-doc lineDupStats measure
    * the removal acts on. */
  private[cli] def runDedupLines(spark: org.apache.spark.sql.SparkSession,
                                 a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, explode, split, sum, trim}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("dedup-lines applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    val stats = graft.ext.TextAnalysis.lineDupStats(docs, a.idCol, a.textCol)
    a.report.foreach(p => stats.write.mode("overwrite").parquet(p))
    val cleaned = graft.ext.TextAnalysis.dropDuplicatedLines(
      docs, a.idCol, a.textCol, a.minDocs)
    // cleaned text replaces the original column; every other column rides
    // along untouched (one id-keyed join — the doc table is the big side)
    docs.drop(a.textCol).join(cleaned, Seq(a.idCol))
      .write.mode("overwrite").parquet(a.dest)
    // the printed DROP count is what the removal actually removed at
    // --min-docs (derived from the before/after line totals), never the
    // ≥2-docs stats measure — at --min-docs 5 the stats frame can show
    // heavy duplication that was deliberately NOT acted on
    val t = stats.agg(sum(col("n_lines")).as("lines"),
      sum(col("n_dup_lines")).as("dups")).first()
    // same line convention as lineDupStats (trimmed, empties excluded),
    // so the before/after difference is exactly the removed occurrences
    val keptLines = cleaned
      .select(explode(split(col(a.textCol), "\n")).as("__l"))
      .filter(trim(col("__l")) =!= "").count()
    val totalLines = Option(t.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    println(s"dedup-lines ${a.source}: $totalLines lines, " +
      s"${Option(t.get(1)).getOrElse(0L)} in >=2-doc duplicates (measure); " +
      s"dropped ${math.max(0L, totalLines - keptLines)} line occurrences " +
      s"at min-docs=${a.minDocs} -> ${a.dest}" +
      a.report.map(p => s", stats -> $p").getOrElse(""))
  }

  /** Duplicated-span removal (ext/TextAnalysis.removeDuplicatedSpans) as a
    * CLI verb — the exact-substring-dedup transform: cut every merged
    * cross-document duplicated island of ≥ --min-span chars (detected in
    * --ngram-char windows) out of the text, keep every other column of the
    * doc row intact. Runs the hashed-key production form; the oracle-gated
    * exact twins are `e6i3`/`e6i4`. `--report PATH` writes the full
    * per-doc removal frame (text_len, removed_chars, clean_text). */
  private[cli] def runDedupSpans(spark: org.apache.spark.sql.SparkSession,
                                 a: Args): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, sum}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("dedup-spans applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    val removed = graft.ext.TextAnalysis.removeDuplicatedSpans(
      docs, a.idCol, a.textCol, n = a.ngramN, minSpan = a.minSpan,
      hashedKeys = true)
    a.report.foreach(p => removed.write.mode("overwrite").parquet(p))
    // LEFT join + coalesce: removeDuplicatedSpans only emits rows whose
    // text is non-null, so an inner join here would silently drop
    // null-text docs from the cleaned corpus. Every doc row rides through
    // (null text stays null), matching dedup-lines' keep-every-row
    // contract and the docstring's keep-every-other-column promise.
    docs.join(removed.select(col(a.idCol), col("clean_text")),
        Seq(a.idCol), "left")
      .withColumn(a.textCol, coalesce(col("clean_text"), col(a.textCol)))
      .drop("clean_text")
      .write.mode("overwrite").parquet(a.dest)
    val t = removed.agg(sum(col("text_len")).as("chars"),
      sum(col("removed_chars")).as("removed")).first()
    println(s"dedup-spans ${a.source}: ${t.get(0)} chars, " +
      s"${t.get(1)} removed in duplicated spans (ngram=${a.ngramN}, " +
      s"min-span=${a.minSpan}) -> ${a.dest}" +
      a.report.map(p => s", report -> $p").getOrElse(""))
  }

  /** Corpus snapshot diff (ext/Dedup.corpusDiff) as a CLI verb: classify
    * every id across --base (previous version) and --source (new version)
    * as added/removed/modified/unchanged by content fingerprint, write the
    * per-id status frame, and print the summary counts a pipeline run
    * report wants. */
  private[cli] def runDiff(spark: org.apache.spark.sql.SparkSession,
                           a: Args): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:") ||
        a.base.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("diff applies to parquet paths")
    if (a.base.isEmpty)
      throw GraftError.InvalidConfig("missing required option --base")
    val prev = spark.read.parquet(a.base)
    val next = spark.read.parquet(a.source)
    val d = graft.ext.Dedup.corpusDiff(prev, next, a.idCol, a.textCol)
    d.write.mode("overwrite").parquet(a.dest)
    // coalesce: sum(...) over zero rows is NULL (both snapshots empty) —
    // the summary must print "0 ids", not NPE after a successful write.
    val s = spark.read.parquet(a.dest).agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("status") === "added", 1L).otherwise(0L)), lit(0L)).as("a"),
      coalesce(sum(when(col("status") === "removed", 1L).otherwise(0L)), lit(0L)).as("r"),
      coalesce(sum(when(col("status") === "modified", 1L).otherwise(0L)), lit(0L)).as("m"),
      coalesce(sum(when(col("status") === "unchanged", 1L).otherwise(0L)), lit(0L)).as("u"))
      .first()
    println(s"diff ${a.base} -> ${a.source}: ${s.getLong(0)} ids " +
      s"(${s.getLong(1)} added, ${s.getLong(2)} removed, " +
      s"${s.getLong(3)} modified, ${s.getLong(4)} unchanged) -> ${a.dest}")
  }

  /** DELETE reconciliation (sync/Reconcile) as a CLI verb: report (and
    * with `--apply`, drop) the destination keys an insert/update-only
    * watermark sync has orphaned — the repair pass for the delete blind
    * spot the reference shares (`session.py` syncs inserts/updates only).
    * Source AND destination may each be parquet or JDBC (the key-only
    * projection travels either way); `--apply` is a staged rewrite + swap
    * on a parquet destination and a batched keyed DELETE
    * (JdbcUpsertSink.deleteByKeys, one transaction per partition) on a
    * JDBC one. The --source must be a SNAPSHOT of live rows, never a
    * retained CDC/changelog feed — a log retains tombstoned keys as
    * ordinary key rows, so the pass would silently find zero orphans
    * and stop repairing (see [[graft.sync.Reconcile]]); CDC-fed
    * destinations get deletes in-band via --tombstone instead. */
  private[cli] def runReconcile(spark: org.apache.spark.sql.SparkSession,
                                a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    if (a.keys.isEmpty)
      throw GraftError.InvalidConfig("reconcile requires --key K[,K2]")
    // key-only projection on either kind of endpoint — the orphan pass
    // never moves wide rows (parquet prunes columns from footers, JDBC
    // pushes SELECT k FROM t)
    def readKeys(ep: graft.sync.SyncEndpoint) = ep match {
      case graft.sync.SyncEndpoint.ParquetDir(dir) =>
        spark.read.parquet(dir).select(a.keys.map(col): _*)
      case graft.sync.SyncEndpoint.JdbcTable(url, table, props) =>
        spark.read.jdbc(url,
          s"(SELECT ${a.keys.mkString(", ")} FROM $table) graft_rc", props)
    }
    val srcEp = graft.sync.SyncEndpoint.parse(a.source, a.sourceUser,
      a.sourcePassword)
    val destEp = graft.sync.SyncEndpoint.parse(a.dest, a.destUser,
      a.destPassword)
    val orphans = graft.sync.Reconcile.deletedKeys(
        readKeys(srcEp), readKeys(destEp), a.keys)
      .localCheckpoint() // consumed up to three times: report, count, apply
    a.report.foreach(p => orphans.write.mode("overwrite").parquet(p))
    val n = orphans.count()
    if (a.applyChanges) {
      val dropped = destEp match {
        case graft.sync.SyncEndpoint.ParquetDir(dir) =>
          graft.sync.Reconcile.applyDeletes(spark, dir, orphans, a.keys)._2
        case graft.sync.SyncEndpoint.JdbcTable(url, table, props) =>
          graft.sinks.JdbcUpsertSink.deleteByKeys(
            orphans, url, props, table, a.keys)
      }
      println(s"reconcile ${a.source} -> ${a.dest}: $n orphaned keys, " +
        s"dropped $dropped" +
        a.report.map(p => s", report -> $p").getOrElse(""))
    } else {
      println(s"reconcile ${a.source} -> ${a.dest}: $n orphaned keys " +
        s"(dest rows absent upstream; rerun with --apply to drop them)" +
        a.report.map(p => s", report -> $p").getOrElse(""))
    }
  }

  /** Batch IVM (sync/AggMaintenance) as a CLI verb: fold the source's
    * newest watermark slice into the grouped rollup at --dest. The slice
    * is [stored watermark, --cut) — or [source min, source max] bounds on
    * a cold start / absent --cut — so a cron-style re-invocation is the
    * whole maintenance loop: each run folds exactly the rows that arrived
    * since the last, a re-run of an already-folded cut is a reported
    * no-op, and the rollup always equals the one-shot groupBy (the a7
    * oracle contract). Source may be parquet or JDBC; the slice predicate
    * pushes down either way.
    *
    * CONCURRENCY CONTRACT — the default cut requires a QUIESCED source.
    * The default (srcMax+1) is derived in a bounds pass SEPARATE from the
    * slice scan; on a source being appended concurrently, rows committed
    * between the two reads with ts <= srcMax are nondeterministically
    * included, and any missed sit permanently below the advanced
    * watermark — a silent undercount the gap refusal cannot catch. For a
    * live source pass an explicit `--cut` at a boundary known complete
    * (the T2 snapshot-cut discipline); `reconcile` remains the repair
    * pass. (Holding the default back to [stored, srcMax) was considered
    * and rejected: it only protects monotone-commit appenders, and on a
    * source that stops growing the final tick would defer forever — the
    * cron loop would never converge to the one-shot groupBy.)
    *
    * `--partitioned` defaults to 64 buckets; a rollup built under a
    * DIFFERENT count must be invoked with its own `--buckets N` — the
    * params stamp refuses a mismatch loudly rather than mixing hash
    * spaces (the stamp records the build-time count; there is no silent
    * migration). */
  private[cli] def runAgg(spark: org.apache.spark.sql.SparkSession,
                          a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, min, max}
    val groupCols = a.by.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    if (groupCols.isEmpty)
      throw GraftError.InvalidConfig("agg requires --by GROUPCOL[,G2]")
    // v2 MOMENTS lane: `--moments`, or a comma-separated --value-col list,
    // maintains per-column (non-null count, exact sum, sum-of-squares,
    // min, max) so avg/variance derive without a history rescan; with
    // --partitioned it rides the bucket layout (applySlicePartitionedV2 —
    // per-entity statistics at billion-group scale).
    // v3 DISTINCT lane: `--distinct C[,C2]` maintains per-group HLL
    // distinct-count sketches instead (the only slice-maintainable
    // distinct count). The lane-conflict refusal runs BEFORE the
    // watermark-state early returns: an invalid flag set must fail on
    // every invocation, not only once new rows arrive.
    // lane selection keys off "more than one --value-col segment", so an
    // EMPTY segment (trailing comma: `--value-col x,`) must refuse rather
    // than be dropped — dropping it would silently run the v1 single-
    // column lane where the caller asked for a v2 multi-column rollup
    val valueColSegs = a.valueCol.split(",", -1).toSeq.map(_.trim)
    if (a.valueColSet && valueColSegs.exists(_.isEmpty))
      throw GraftError.InvalidConfig(
        s"--value-col '${a.valueCol}' contains an empty segment — name " +
          "each column exactly (a malformed list must not quietly build " +
          "a different rollup lane)")
    val valueCols = valueColSegs.filter(_.nonEmpty)
    val useV2 = a.moments || valueCols.size > 1
    val distinctCols = a.distinctCols
      .map(_.split(",", -1).toSeq.map(_.trim))
    distinctCols.filter(_.exists(_.isEmpty)).foreach { d =>
      throw GraftError.InvalidConfig(
        if (d.forall(_.isEmpty)) "--distinct was given but names no columns"
        else s"--distinct '${a.distinctCols.get}' contains an empty " +
          "segment — name each column exactly") }
    val useV3 = distinctCols.exists(_.nonEmpty)
    // any explicit value-lane flag beside --distinct refuses — a silently
    // ignored --value-col would build a different rollup than asked for
    if (useV3 && (a.moments || a.valueColSet))
      throw GraftError.InvalidConfig(
        "--distinct maintains sketches; --moments/--value-col maintains " +
          "sums or moments — one rollup holds one lane; run two rollups")
    // KEYED lane (--key): last-writer-wins rollup over a keyed mirror —
    // a re-arriving PK replaces its prior contribution. cnt/sum only
    // (min/max are not retractable), single value column, flat layout;
    // any other lane flag beside --key refuses rather than being ignored
    val useKeyed = a.keys.nonEmpty
    // keyed + distinct can never compose: HLL sketches are not
    // retractable, so a last-writer-wins distinct rollup has no
    // incremental form
    if (useKeyed && useV3)
      throw GraftError.InvalidConfig(
        "--key maintains the last-writer-wins keyed lane; --distinct " +
          "maintains HLL sketches, which cannot RETRACT a replaced key's " +
          "contribution. For an EXACT keyed distinct count, add the " +
          "distinct column to --by (the rollup's live (group, value) " +
          "pairs ARE the distinct set) and count rows per group at read " +
          "time")
    // --minmax is a teaching flag: no apply lane takes it, and the two
    // refusals say where min/max actually live. Keyed: the lanes refuse
    // to MAINTAIN extrema (a replaced key's old value cannot be
    // retracted from a running min/max without per-group value history),
    // but the a19/a20 composition makes them EXACT with no new
    // machinery. Append-only: v1 maintains min/max already.
    if (a.minmax && useKeyed)
      throw GraftError.InvalidConfig(
        "--key cannot maintain min/max directly (a replaced key's old " +
          "value is not retractable from a running extremum). EXACT " +
          "keyed min/max composes instead: append the value column to " +
          "--by (the rollup's live (group, value) pairs ARE the " +
          "mirror's value set, and a vacated value disappears with its " +
          "last key), keep a constant --value-col, and read with " +
          "readKeyedMinMax(outerGroups, valueColumn)")
    if (a.minmax)
      throw GraftError.InvalidConfig(
        "the append-only v1 lane maintains min/max already (cnt, " +
          "sum_val, min_val, max_val) — drop --minmax and read the " +
          "rollup; --minmax exists only to route keyed-lane callers to " +
          "the composition")
    // keyed MOMENTS ride the partitioned layout only (the production
    // shape; a flat keyed-moments rewrite would be O(mirror) per slice)
    if (useKeyed && (a.moments || valueCols.size > 1) && !a.partitioned)
      throw GraftError.InvalidConfig(
        "--key with --moments/multi-column --value-col is the keyed " +
          "moments lane, which is partitioned-only; add --partitioned " +
          "[--buckets N] [--kbuckets M]")
    // --tombstone marks CDC delete rows; only the keyed lanes can
    // retract a key, so anywhere else the flag would be silently ignored
    if (a.tombstone.nonEmpty && !useKeyed)
      throw GraftError.InvalidConfig(
        "--tombstone marks rows that DELETE their key from the keyed " +
          "mirror; it requires --key (append-only lanes have no key to " +
          "retract)")
    // --kbuckets only makes sense for the keyed partitioned layout; a
    // silently ignored flag would hide a misconfigured invocation
    if (a.kbuckets != 0 && !(useKeyed && a.partitioned))
      throw GraftError.InvalidConfig(
        "--kbuckets sizes the keyed partitioned lane's state store; it " +
          "requires both --key and --partitioned")
    val srcEp = SyncEndpoint.parse(a.source, a.sourceUser, a.sourcePassword)
    val source = srcEp match {
      case SyncEndpoint.ParquetDir(dir) => spark.read.parquet(dir)
      case SyncEndpoint.JdbcTable(url, table, props) =>
        spark.read.jdbc(url, table, props)
    }
    val stored = graft.sync.AggMaintenance.watermark(spark, a.dest)
    // bounds pass over the order column, LAZY: a warm rollup with an
    // explicit --cut needs neither bound, and the steady-state cron tick
    // must not pay a full min/max scan it never reads (Option.orElse /
    // getOrElse take their alternative by name, so `lazy val` defers the
    // job until a bound is actually consumed; absent on an empty source)
    lazy val b = source.agg(min(col(a.watermark)).as("lo"),
      max(col(a.watermark)).as("hi")).first()
    lazy val srcLo = graft.core.Watermark.toMicros(b.get(0))
    lazy val srcHi = graft.core.Watermark.toMicros(b.get(1))
    val lo = stored.orElse(srcLo).getOrElse {
      println(s"agg ${a.source} -> ${a.dest}: source empty and no rollup " +
        "yet; nothing to do"); return
    }
    // --cut is the caller's T2-style snapshot cut; the default folds
    // through the source's current max (half-open, hence +1)
    val hi = a.cut.getOrElse(srcHi.map(_ + 1L).getOrElse(lo))
    if (hi <= lo) {
      println(s"agg ${a.source} -> ${a.dest}: up to date " +
        s"(watermark $lo, cut $hi)")
      return
    }
    // default --kbuckets: the stored stamp's kbuckets= on a warm rollup
    // (a rebucket --buckets N keeps the state space — re-deriving
    // 4×buckets would mismatch it and refuse forever after), falling
    // back to 4× --buckets only on cold start (keys outnumber groups)
    lazy val kBuckets =
      if (a.kbuckets > 0) a.kbuckets
      else graft.sync.AggMaintenance.storedKeyBuckets(spark, a.dest)
        .getOrElse(math.min(65536, a.buckets * 4))
    val r =
      if (useKeyed && a.partitioned && (a.moments || valueCols.size > 1))
        // keyed MOMENTS: retraction-capable cnt/cntv/sum/sumsq per value
        // column over the keyed mirror; avg/var via readDerived
        graft.sync.AggMaintenance.applySliceKeyedPartitionedV2(
          spark, a.dest, source, a.watermark, a.keys, groupCols,
          valueCols, lo, hi, nBuckets = a.buckets, nKeyBuckets = kBuckets,
          tombstoneCol = a.tombstone)
      else if (useKeyed && a.partitioned)
        // keyed partitioned: rollup buckets from --buckets; state buckets
        // from --kbuckets, defaulting to 4× (keys outnumber groups)
        graft.sync.AggMaintenance.applySliceKeyedPartitioned(
          spark, a.dest, source, a.watermark, a.keys, groupCols,
          valueCols.head, lo, hi, nBuckets = a.buckets,
          nKeyBuckets = kBuckets, tombstoneCol = a.tombstone)
      else if (useKeyed) graft.sync.AggMaintenance.applySliceKeyed(
        spark, a.dest, source, a.watermark, a.keys, groupCols,
        valueCols.head, lo, hi, tombstoneCol = a.tombstone)
      else if (useV3 && a.partitioned)
        graft.sync.AggMaintenance.applySlicePartitionedDistinct(
          spark, a.dest, source, a.watermark, groupCols, distinctCols.get,
          lo, hi, nBuckets = a.buckets)
      else if (useV3) graft.sync.AggMaintenance.applySliceDistinct(
        spark, a.dest, source, a.watermark, groupCols, distinctCols.get,
        lo, hi)
      else if (useV2 && a.partitioned)
        graft.sync.AggMaintenance.applySlicePartitionedV2(
          spark, a.dest, source, a.watermark, groupCols, valueCols, lo, hi,
          nBuckets = a.buckets)
      else if (useV2) graft.sync.AggMaintenance.applySliceV2(
        spark, a.dest, source, a.watermark, groupCols, valueCols, lo, hi)
      // v1 lanes take the TRIMMED single column — lane selection and the
      // empty-segment refusal both ran on trimmed segments, so handing
      // the raw flag value (possibly with tolerated whitespace) to column
      // resolution would fail exactly the inputs validation accepted
      else if (a.partitioned) graft.sync.AggMaintenance.applySlicePartitioned(
        spark, a.dest, source, a.watermark, groupCols, valueCols.head, lo, hi,
        nBuckets = a.buckets)
      else graft.sync.AggMaintenance.applySlice(
        spark, a.dest, source, a.watermark, groupCols, valueCols.head, lo, hi)
    if (!r.applied)
      println(s"agg ${a.source} -> ${a.dest}: replay no-op " +
        s"(stored watermark ${r.watermarkUs} >= cut $hi)")
    else
      println(s"agg ${a.source} -> ${a.dest}: folded [$lo, $hi) " +
        s"sliceRows=${r.sliceRows} groups=${r.groupsWritten} " +
        s"watermark=${r.watermarkUs}")
  }

  /** Rollup READ as a CLI verb — the missing read half of `agg`: every
    * lane the CLI can build, it can now serve without a line of Scala.
    * `--mode plain` reads the rollup's own groups (any lane; crash-
    * window-tolerant through AggMaintenance.read), `derived` the v2/
    * keyed-moments avg/variance chain, and `distinct`/`minmax` the
    * keyed COMPOSITION reads the apply-side refusals teach
    * (readKeyedDistinct / readKeyedMinMax over a (G, value)-grouped
    * keyed rollup). Flags are mode-scoped and refuse when silently
    * ignorable — an unused `--by` or `--value-col` is a misconfigured
    * invocation, not noise. */
  private[cli] def runAggRead(spark: org.apache.spark.sql.SparkSession,
                              a: Args): Unit = {
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig(
        "agg-read reads a parquet rollup into a parquet output")
    val composition = a.mode == "distinct" || a.mode == "minmax"
    val outerCols = a.by.split(",", -1).toSeq.map(_.trim)
    if (composition && (a.by.isEmpty || outerCols.exists(_.isEmpty)))
      throw GraftError.InvalidConfig(
        s"--mode ${a.mode} needs --by OUTERCOL[,G2] — the outer groups " +
          "the live-group fold is keyed by (exact names, no empty " +
          "segments)")
    if (!composition && a.by.nonEmpty)
      throw GraftError.InvalidConfig(
        s"--by applies to the composition modes (distinct|minmax); " +
          s"--mode ${a.mode} reads the rollup's own groups")
    if (a.mode == "minmax" && !a.valueColSet)
      throw GraftError.InvalidConfig(
        "--mode minmax needs an explicit --value-col naming the GROUP " +
          "column whose live values are folded (a silent default could " +
          "coincide with the wrong column)")
    if (a.mode != "minmax" && a.valueColSet)
      throw GraftError.InvalidConfig(
        s"--value-col applies to --mode minmax only; --mode ${a.mode} " +
          "does not fold a value column")
    // the agg verb's LANE flags are meaningless on a read and almost
    // certainly mean a --mode was intended — refuse, never ignore
    if (a.minmax || a.moments || a.partitioned ||
        a.distinctCols.nonEmpty || a.tombstone.nonEmpty)
      throw GraftError.InvalidConfig(
        "--minmax/--moments/--partitioned/--distinct/--tombstone select " +
          "agg's APPLY lanes; agg-read reads a committed rollup — pick " +
          "the read with --mode plain|derived|distinct|minmax")
    import graft.sync.AggMaintenance
    val df = a.mode match {
      case "plain"    => AggMaintenance.read(spark, a.source)
      case "derived"  => AggMaintenance.readDerived(spark, a.source)
      case "distinct" => AggMaintenance.readKeyedDistinct(
        spark, a.source, outerCols)
      case "minmax"   => AggMaintenance.readKeyedMinMax(
        spark, a.source, outerCols, a.valueCol)
    }
    df.write.mode("overwrite").parquet(a.dest)
    val n = spark.read.parquet(a.dest).count()
    println(s"agg-read ${a.source} [${a.mode}]: $n rows -> ${a.dest} " +
      s"(watermark ${AggMaintenance.watermark(spark, a.source)
        .getOrElse(-1L)})")
  }

  /** The persisted gram index (TextAnalysis.buildGramIndex family) as a
    * CLI verb — the span family's incremental-admission shape: `build`
    * persists the base corpus's distinct n-gram set, `append` folds an
    * ingest batch in at O(batch grams), `probe` writes per-batch-doc
    * span coverage against the EXISTING corpus (text_len, covered_chars,
    * dup_span_frac) without re-exploding base text. Index params are
    * frozen in the build's stamp; append/probe re-derive them. */
  private[cli] def runSpanIndex(spark: org.apache.spark.sql.SparkSession,
                                a: Args): Unit = {
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("span-index applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    a.mode match {
      case "build" =>
        graft.ext.TextAnalysis.buildGramIndex(docs, a.idCol, a.textCol,
          a.dest, n = a.ngramN, nBuckets = a.buckets)
        println(s"span-index build ${a.source}: n=${a.ngramN} " +
          s"buckets=${a.buckets} -> ${a.dest}")
      case "append" =>
        graft.ext.TextAnalysis.gramIndexAppend(spark, a.dest, docs,
          a.idCol, a.textCol)
        println(s"span-index append ${a.source} -> ${a.dest}")
      case "probe" =>
        if (a.base.isEmpty)
          throw GraftError.InvalidConfig(
            "span-index --mode probe needs --base INDEX_DIR (the " +
              "committed index; --dest is the coverage output)")
        val out = graft.ext.TextAnalysis.gramIndexSpanCoverage(
          spark, a.base, docs, a.idCol, a.textCol)
        out.write.mode("overwrite").parquet(a.dest)
        val n = spark.read.parquet(a.dest).count()
        println(s"span-index probe ${a.source} vs ${a.base}: " +
          s"$n docs -> ${a.dest}")
    }
  }

  /** Persisted perceptual-hash indexes for media near-dup — the media
    * siblings of `span-index`, ONE runner for both modalities (they
    * share `ext.BandedHashIndex`): `dhash-index` (image dHash over
    * decoded pixels) and `ahash-index` (audio envelope hash over parsed
    * PCM). Build the base corpus's band index once, fold new batches in
    * under the frozen band stamp, probe a batch for hamming-bounded
    * matches (re-encoded / resized / resampled / volume-changed copies)
    * without ever re-decoding the base. Source is a media parquet
    * (opaque binary payloads); decode/parse failures are excluded from
    * the index and the probe (a NULL hash matches nothing). The two
    * stamp names are distinct, so probing an image index with the audio
    * verb (or vice versa) refuses typed instead of silently missing
    * everything. */
  private[cli] def runHashIndex(spark: org.apache.spark.sql.SparkSession,
                                a: Args, audio: Boolean): Unit = {
    val verb = if (audio) "ahash-index" else "dhash-index"
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig(s"$verb applies to parquet paths")
    if (64 % a.bands != 0)
      throw GraftError.InvalidConfig(
        s"--bands must divide 64, got ${a.bands}")
    // maxHamming < bands is checked by the probe, against the band count
    // the index stamp froze; build and append never read maxHamming
    val media = spark.read.parquet(a.source)
      .select(org.apache.spark.sql.functions.col(a.idCol).cast("long")
          .as("media_id"),
        org.apache.spark.sql.functions.col(a.contentCol).as("content"))
    import graft.ext.Multimodal
    a.mode match {
      case "build" =>
        if (audio) Multimodal.buildAudioHashIndex(media, a.dest, bands = a.bands)
        else Multimodal.buildDHashIndex(media, a.dest, bands = a.bands)
        println(s"$verb build ${a.source}: bands=${a.bands} -> ${a.dest}")
      case "append" =>
        if (audio) Multimodal.audioIndexAppend(spark, a.dest, media)
        else Multimodal.dhashIndexAppend(spark, a.dest, media)
        println(s"$verb append ${a.source} -> ${a.dest}")
      case "probe" =>
        if (a.base.isEmpty)
          throw GraftError.InvalidConfig(
            s"$verb --mode probe needs --base INDEX_DIR (the " +
              "committed index; --dest is the pairs output)")
        val out =
          if (audio) Multimodal.audioIndexProbe(spark, a.base, media,
            maxHamming = a.maxHamming)
          else Multimodal.dhashIndexProbe(spark, a.base, media,
            maxHamming = a.maxHamming)
        out.write.mode("overwrite").parquet(a.dest)
        val n = spark.read.parquet(a.dest).count()
        println(s"$verb probe ${a.source} vs ${a.base}: " +
          s"$n pairs (hamming <= ${a.maxHamming}) -> ${a.dest}")
    }
  }

  /** Bucket-count growth for a partitioned rollup (AggMaintenance
    * .rebucket) as a dest-only maintenance verb — the relabeling pass
    * that unfreezes the stamp's `buckets=` as the group count grows.
    * Requires an explicit --buckets (a silent default would relabel a
    * production layout to an arbitrary size). */
  private[cli] def runRebucket(spark: org.apache.spark.sql.SparkSession,
                               a: Args): Unit = {
    if (a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("rebucket applies to parquet rollups")
    graft.sync.AggMaintenance.rebucket(spark, a.dest, a.buckets,
      newKeyBuckets = a.kbuckets)
    println(s"rebucket ${a.dest}: now ${a.buckets} buckets" +
      (if (a.kbuckets > 0) s", ${a.kbuckets} state kbuckets" else "") +
      s" (watermark ${graft.sync.AggMaintenance.watermark(spark, a.dest)
        .getOrElse(-1L)})")
  }

  /** BPE tokenizer TRAINING (ext/TextAnalysis.bpeTrain) as a CLI verb:
    * run --merges rounds over the corpus and write the merge table
    * (round, pair, cnt) — the model artifact `tokenize` applies. */
  private[cli] def runBpeTrain(spark: org.apache.spark.sql.SparkSession,
                               a: Args): Unit = {
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("bpe-train applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    val (table, excluded) = graft.ext.TextAnalysis.bpeTrainCounted(
      docs, a.textCol, merges = a.merges)
    table.coalesce(1).write.mode("overwrite").parquet(a.dest)
    val n = spark.read.parquet(a.dest).count()
    println(s"bpe-train ${a.source}: $n merges (asked ${a.merges}" +
      (if (n < a.merges) ", pair space exhausted" else "") +
      s")${if (excluded > 0) s", $excluded sentinel tokens excluded" else ""}" +
      s" -> ${a.dest}")
  }

  /** BPE tokenizer APPLICATION (ext/TextAnalysis.bpeEncodeWith) as a CLI
    * verb: apply the --base merge table in training order and write
    * per-doc token/symbol counts. */
  private[cli] def runTokenize(spark: org.apache.spark.sql.SparkSession,
                               a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("tokenize applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    val mergeTable = spark.read.parquet(a.base)
    graft.ext.TextAnalysis.bpeEncodeWith(docs, a.idCol, a.textCol, mergeTable)
      .write.mode("overwrite").parquet(a.dest)
    val t = spark.read.parquet(a.dest)
      .agg(sum(col("n_tokens")), sum(col("n_symbols"))).first()
    println(s"tokenize ${a.source}: ${t.get(0)} tokens -> ${t.get(1)} " +
      s"symbols under ${mergeTable.count()} merges (${a.base}) -> ${a.dest}")
  }

  /** Range-clustered layout (ops/RangeLayout) as a CLI verb: rewrite a
    * parquet corpus into deterministic rank-split `bucket=k/` dirs sorted
    * by --by (tie-broken by --key), with the per-bucket min/max/count
    * manifest sidecar a range scan prunes against. */
  private[cli] def runLayout(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("layout applies to parquet paths")
    if (a.keys.isEmpty)
      throw GraftError.InvalidConfig(
        "layout requires --key (tie-break column(s) completing the total order)")
    // ONE --by column → range clustering; TWO (comma-separated) →
    // Z-order: Morton-interleave both dimensions so scans on EITHER
    // prune. Config validation fires BEFORE the source is touched (M3:
    // a user error exits 2, never a runtime failure).
    val byCols = a.by.split(",").map(_.trim).filter(_.nonEmpty)
    if (byCols.length > 2) throw GraftError.InvalidConfig(
      s"layout --by takes one column (range) or two (z-order), got ${byCols.length}")
    val df = spark.read.parquet(a.source)
    byCols match {
      case Array(one) =>
        graft.ops.RangeLayout.writeClustered(df, a.dest, one,
          a.keys.map(col), a.buckets)
        val mf = spark.read.parquet(graft.ops.RangeLayout.manifestPath(a.dest))
          .orderBy("bucket").collect()
        println(s"layout ${a.source} by $one: ${mf.length} buckets -> ${a.dest}")
        mf.foreach(r => println(
          s"  bucket=${r.get(0)} rows=${r.get(1)} min=${r.get(2)} max=${r.get(3)}"))
      case Array(ca, cb) =>
        graft.ops.ZOrder.writeZOrdered(df, a.dest, ca, cb,
          a.keys.map(col), a.buckets)
        val mf = spark.read.parquet(graft.ops.RangeLayout.manifestPath(a.dest))
          .orderBy("bucket").collect()
        println(s"layout ${a.source} z-order ($ca, $cb): ${mf.length} " +
          s"buckets -> ${a.dest}")
        mf.foreach(r => println(
          s"  bucket=${r.get(0)} rows=${r.get(1)} $ca=[${r.get(2)},${r.get(3)}] " +
            s"$cb=[${r.get(4)},${r.get(5)}]"))
      case more => throw GraftError.InvalidConfig(
        s"layout --by takes one column (range) or two (z-order), got ${more.length}")
    }
  }

  /** Corpus mixing (ext/Sampling) as a CLI verb: `--quota-tokens` caps
    * each --by stratum's expected token contribution (tokenQuotaSample);
    * `--alpha` + `--target-tokens` rebalances expected contributions to
    * ∝ tot^α under the total budget (temperatureMix). Exactly one mode. */
  private[cli] def runMix(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, count, sum}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("mix applies to parquet paths")
    // mode validation is config surface — it must fire (exit 2) before the
    // source is even touched
    type Mix = (org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.Column) => org.apache.spark.sql.DataFrame
    val mode: Mix = (a.quotaTokens, a.alpha, a.targetTokens) match {
      case (Some(q), None, None) =>
        (d, t) => graft.ext.Sampling.tokenQuotaSample(d, a.by, a.idCol, t, q)
      case (None, Some(al), Some(tt)) =>
        (d, t) => graft.ext.Sampling.temperatureMix(d, a.by, a.idCol, t, al, tt)
      case _ => throw GraftError.InvalidConfig(
        "mix needs exactly one mode: --quota-tokens N, or --alpha A with --target-tokens N")
    }
    val docs = spark.read.parquet(a.source)
    val tokens = graft.ext.TextAnalysis.tokenCount(col(a.textCol))
    mode(docs, tokens).write.mode("overwrite").parquet(a.dest)
    val s = spark.read.parquet(a.dest)
      .groupBy(col(a.by)).agg(count(col(a.idCol)).as("docs"),
        sum(tokens).as("tokens"))
      .orderBy(col(a.by)).collect()
    println(s"mix ${a.source} by ${a.by} -> ${a.dest}")
    s.foreach(r => println(s"  ${r.get(0)}: docs=${r.get(1)} tokens=${r.get(2)}"))
  }

  private[cli] def runCompact(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
    if (a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("compact applies to parquet directories")
    val r = graft.sync.Compact.compact(spark, a.dest,
      a.targetBytes.getOrElse(graft.sync.Compact.DefaultTargetBytes),
      a.partitionBy)
    println(s"compacted ${a.dest}: ${r.filesBefore} -> ${r.filesAfter} " +
      s"files (${r.rows} rows)")
  }

  /** The END-TO-END curation pipeline as ONE command — the pass a corpus
    * owner runs over a raw crawl before training: exact-substring span
    * removal, cross-doc line boilerplate removal, the gopher quality
    * gate, benchmark decontamination, temperature (or quota) mixing, and
    * no-split sequence packing — six stages chained through parquet
    * working dirs under --dest (01_despanned … 06_packed), each stage
    * printing its own ledger line plus a final per-stage row summary.
    *
    * Stage semantics ARE the standalone verbs' (dedup-spans, dedup-lines,
    * decontaminate, mix are invoked directly; quality and packing inline
    * the same library calls those verbs wrap), so every stage keeps its
    * oracle-gated contract; the stage n-grams are pinned to each verb's
    * production default (16-char windows for spans, 3-token shingles for
    * decontamination) — to tune a single stage, run its verb standalone.
    * Working dirs are real parquet (restart-friendly: a failed stage
    * leaves every earlier stage's output on disk), and per-stage rows are
    * counted from what landed on disk, not from the plan. */
  private[cli] def runPipeline(spark: org.apache.spark.sql.SparkSession,
                               a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, when}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:") ||
        a.benchmark.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("pipeline applies to parquet paths")
    // the mix stage runs FIFTH — its mode contract (exactly one of
    // --quota-tokens | --alpha + --target-tokens) must refuse here, before
    // four stages of real work, not when runMix finally fires (config
    // validation is exit-2 surface, per runMix's own rule)
    (a.quotaTokens, a.alpha, a.targetTokens) match {
      case (Some(_), None, None) | (None, Some(_), Some(_)) => ()
      case _ => throw GraftError.InvalidConfig(
        "pipeline needs exactly one mix mode: --quota-tokens N, or --alpha A with --target-tokens N")
    }
    // the benchmark corpus is first touched by stage 4 — a typo'd path
    // must refuse at t=0, not after three stages of real work (the same
    // before-stage-1 rule as the mix-mode check above)
    try spark.read.parquet(a.benchmark).schema
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw GraftError.InvalidConfig(
        s"pipeline --benchmark ${a.benchmark} is not readable parquet: " +
          e.getMessage) }
    val work = a.dest.stripSuffix("/")
    val t0 = System.nanoTime()
    val src = spark.read.parquet(a.source)
    for (c <- Seq(a.idCol, a.textCol) if !src.columns.contains(c))
      throw GraftError.InvalidConfig(
        s"pipeline source ${a.source} has no `$c` column " +
          s"(has [${src.columns.mkString(", ")}])")
    // the PACK stage (sixth) keys its bins on try_cast(id AS bigint) and
    // drops null/non-castable ids — fine as the standalone verb's counted-
    // drop contract, but a string-keyed corpus would sail through five
    // stages and land an EMPTY final artifact with exit 0. The pipeline is
    // all-or-nothing: probe id packability in the same t=0 pass that
    // counts the input, and refuse before stage 1 if ANY row would drop.
    val firstPass = src.agg(count(lit(1)),
      count(when(col(a.idCol).isNull ||
        expr(s"try_cast(`${a.idCol}` as bigint)").isNull, lit(1)))).first()
    val inRows = firstPass.getLong(0)
    val badIds = firstPass.getLong(1)
    if (badIds > 0L) throw GraftError.InvalidConfig(
      s"pipeline pack needs non-null bigint-castable ids in --id-col " +
        s"${a.idCol}; $badIds of $inRows rows are not — clean the corpus " +
        "first, or run the individual verbs (pack alone has counted-drop " +
        "semantics)")
    var last = a.source
    val ledger = scala.collection.mutable.ArrayBuffer[(String, Long, Double)]()
    def stage(name: String, out: String)(body: String => Unit): Unit = {
      val s0 = System.nanoTime()
      body(out)
      // seconds BEFORE the on-disk recount: the ledger attributes each
      // stage's own cost, and the recount is bookkeeping, not stage work
      val sec = (System.nanoTime() - s0) / 1e9
      val rows = spark.read.parquet(out).count()
      ledger += ((name, rows, sec))
      last = out
    }
    stage("dedup-spans", s"$work/01_despanned")(o =>
      runDedupSpans(spark, a.copy(source = last, dest = o, ngramN = 16,
        report = None)))
    stage("dedup-lines", s"$work/02_delined")(o =>
      runDedupLines(spark, a.copy(source = last, dest = o, report = None)))
    stage("quality", s"$work/03_quality") { o =>
      // the quality VERB writes a verdict frame; the pipeline stage FILTERS
      // — kept rows only. Rule selection follows the curate verb's
      // convention: an explicit --min/--max-tokens means a token-range
      // gate (the right floor for a corpus whose style the gopher
      // heuristics weren't tuned for); neither flag means the full
      // gopher rule-set.
      val docs = spark.read.parquet(last)
      val passIds = (a.minTokens, a.maxTokens) match {
        case (None, None) =>
          graft.ext.TextAnalysis.gopherRules(docs, a.idCol, a.textCol)
            .filter(col("gopher_pass") === 1L).select(a.idCol)
        case (mn, mx) =>
          docs.filter(graft.ext.TextAnalysis.tokenCount(col(a.textCol))
              .between(mn.getOrElse(0L), mx.getOrElse(Long.MaxValue)))
            .select(a.idCol)
      }
      docs.join(passIds, Seq(a.idCol), "left_semi")
        .write.mode("overwrite").parquet(o)
    }
    stage("decontaminate", s"$work/04_decontaminated")(o =>
      runDecontaminate(spark, a.copy(source = last, dest = o,
        mode = "shingle", ngramN = 3, report = None)))
    stage("mix", s"$work/05_mixed")(o =>
      runMix(spark, a.copy(source = last, dest = o)))
    stage("pack", s"$work/06_packed") { o =>
      val docs = spark.read.parquet(last)
      val (packed, dropped) = graft.ext.Packing.packBinsCounted(docs,
        a.idCol, graft.ext.TextAnalysis.tokenCount(col(a.textCol)),
        nShards = a.shards, capacity = a.capacity)
      packed.write.mode("overwrite").parquet(o)
      if (dropped.value > 0L)
        println(s"pipeline[pack] dropped ${dropped.value} unpackable rows" +
          " (null/malformed id) — see Packing.packBinsCounted")
    }
    val packs = spark.read.parquet(last)
      .select("shard", "pack_id").distinct().count()
    val total = (System.nanoTime() - t0) / 1e9
    println(s"pipeline ${a.source} -> $work: $inRows docs in")
    ledger.foreach { case (name, rows, sec) =>
      println(f"  $name%-14s rows=$rows%-9d ${sec}%6.1f s") }
    println(f"pipeline done: $packs packs in $last, ${total}%.1f s total")
  }

  /** The composed training-data curation pass (ext/Curation) as a CLI
    * verb: gopher-or-length quality rules, fingerprint exact dedup, and
    * MinHash-LSH near-dedup (the production edge generator), one verdict
    * row per doc written to parquet. Parquet-only: curation is a corpus
    * operation, not a sync. */
  private[cli] def runCurate(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("curate applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    val edges = graft.ext.Dedup.minhashNearDups(docs, a.idCol, a.textCol,
      threshold = a.jaccard, nativeShingles = true)
    val qualityPass = (a.minTokens, a.maxTokens) match {
      case (None, None) => None // full gopher rule-set
      case (mn, mx) => Some(graft.ext.TextAnalysis.tokenCount(col(a.textCol))
        .between(mn.getOrElse(0L), mx.getOrElse(Long.MaxValue)))
    }
    graft.ext.Curation.curate(docs, a.idCol, a.textCol, edges,
        qualityPass = qualityPass)
      .write.mode("overwrite").parquet(a.dest)
    val counts = spark.read.parquet(a.dest)
      .groupBy("drop_reason").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"curated ${a.source}: $counts -> ${a.dest}")
  }

  /** Near-duplicate detection as a standalone verb: `minhash` runs the
    * MinHash-LSH cascade (banded candidates → estimate filter → exact
    * Jaccard verify ≥ --jaccard) and writes verified pairs; `simhash`
    * writes pigeonhole-banded candidate pairs with their hamming
    * distance; `exact` writes a (id, keeper_id) map — min-id keeper per
    * identical text. The hot-band drop ledger prints when the cap
    * truncated candidate generation (never silent). */
  private[cli] def runNearDup(spark: org.apache.spark.sql.SparkSession,
                              a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, min}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("neardup applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    a.mode match {
      case "minhash" =>
        val (pairs, stats) = graft.ext.Dedup.minhashNearDupsCounted(
          docs, a.idCol, a.textCol, threshold = a.jaccard,
          nativeShingles = true)
        pairs.write.mode("overwrite").parquet(a.dest)
        val capped = if (stats.droppedBands > 0)
          s" [capped: ${stats.droppedBands} bands / ${stats.droppedRows} rows dropped]"
        else ""
        println(s"neardup minhash ${a.source}: " +
          s"${spark.read.parquet(a.dest).count()} pairs -> ${a.dest}$capped")
      case "simhash" =>
        val hashed = docs.select(col(a.idCol),
          graft.ext.TextAnalysis.simhash64(col(a.textCol)).as("__simhash"))
        graft.ext.TextAnalysis.simhashCandidates(hashed, a.idCol, "__simhash")
          .select("a_id", "b_id", "hamming")
          .write.mode("overwrite").parquet(a.dest)
        println(s"neardup simhash ${a.source}: " +
          s"${spark.read.parquet(a.dest).count()} pairs -> ${a.dest}")
      case "exact" =>
        val keeper = docs.groupBy(col(a.textCol))
          .agg(min(col(a.idCol)).as("keeper_id"))
        docs.select(col(a.idCol), col(a.textCol))
          .join(keeper, a.textCol)
          .select(col(a.idCol), col("keeper_id"))
          .write.mode("overwrite").parquet(a.dest)
        val out = spark.read.parquet(a.dest)
        println(s"neardup exact ${a.source}: ${out.count()} docs, " +
          s"${out.select("keeper_id").distinct().count()} keepers -> ${a.dest}")
      case "containment" =>
        // asymmetric quote/subset pairs at --threshold; the maxDf
        // boilerplate-shingle cap is ON by default (opt out only in the
        // library API) and its drop count prints — never a silent
        // truncation, never an uncapped posting-list self-join
        val (pairs, dropped) = graft.ext.Dedup.containmentPairsCounted(
          docs, a.idCol, a.textCol, minContainment = a.threshold,
          nativeShingles = true)
        pairs.write.mode("overwrite").parquet(a.dest)
        val capped = if (dropped > 0)
          s" [capped: $dropped boilerplate shingles dropped]" else ""
        println(s"neardup containment ${a.source}: " +
          s"${spark.read.parquet(a.dest).count()} pairs -> ${a.dest}$capped")
      case "containment-sampled" =>
        // the 100 TB form: deterministic 1/16 gram-space slice bounds the
        // pair-join mass by the sample rate even under degenerate
        // duplication (hashed 8-byte join keys on top)
        val (pairs, dropped) =
          graft.ext.Dedup.containmentPairsSampledCounted(
            docs, a.idCol, a.textCol, minContainment = a.threshold,
            nativeShingles = true, hashedKeys = true)
        pairs.write.mode("overwrite").parquet(a.dest)
        val capped = if (dropped > 0)
          s" [capped: $dropped sampled shingles dropped]" else ""
        println(s"neardup containment-sampled ${a.source}: " +
          s"${spark.read.parquet(a.dest).count()} pairs -> ${a.dest}$capped")
    }
  }

  /** Embedding-space dedup as a verb: one canonical survivor per
    * cosine-similarity component at --threshold, cells auto-sized to the
    * distinct corpus. Writes the surviving rows (schema unchanged). */
  private[cli] def runSemanticDedup(spark: org.apache.spark.sql.SparkSession,
                                    a: Args): Unit = {
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("semantic-dedup applies to parquet paths")
    val emb = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    val (survivors, stats) = graft.ext.Similarity.semanticDedupCounted(
      emb, a.idCol, a.vectorCol, threshold = a.threshold,
      nClusters = graft.ext.Similarity.AutoClusters)
    survivors.write.mode("overwrite").parquet(a.dest)
    val kept = spark.read.parquet(a.dest).count()
    val capped = if (stats.droppedBands > 0)
      s" [capped: ${stats.droppedBands} cells / ${stats.droppedRows} rows skipped pairing]"
    else ""
    println(s"semantic-dedup ${a.source}: kept $kept of ${emb.count()} " +
      s"-> ${a.dest}$capped")
  }

  /** Per-document quality profile: the Gopher rule conjunction (measures +
    * per-rule flags + gopher_pass) joined with the composite quality score
    * and the n-gram language guess — the triage table a curation run
    * starts from. */
  private[cli] def runQuality(spark: org.apache.spark.sql.SparkSession,
                              a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("quality applies to parquet paths")
    val docs = spark.read.parquet(a.source)
    val rules = graft.ext.TextAnalysis.gopherRules(docs, a.idCol, a.textCol,
      minTokens = a.minTokens.getOrElse(50L),
      maxTokens = a.maxTokens.getOrElse(100000L))
    rules.join(docs.select(col(a.idCol),
        graft.ext.TextAnalysis.qualityScore(col(a.textCol)).as("quality_score"),
        graft.ext.TextAnalysis.langId(col(a.textCol)).as("lang_guess")),
        a.idCol)
      .write.mode("overwrite").parquet(a.dest)
    val out = spark.read.parquet(a.dest)
    println(s"quality ${a.source}: " +
      s"${out.filter(col("gopher_pass") === 1L).count()}/${out.count()} " +
      s"pass gopher -> ${a.dest}")
  }

  /** Incremental admission as a verb: keep only the --source rows whose
    * content fingerprint is not already in --base, through the bloom
    * pre-filter (ext/Dedup.incrementalDedupBloom — misses skip the
    * anti-join shuffle; the result is exactly the plain anti-join's).
    * `--bloom PATH` makes the filter a durable artifact: loaded when the
    * file exists, else built from --base and written there — so a daily
    * admission job pays the base scan once per corpus version, not once
    * per drop. */
  private[cli] def runAdmit(spark: org.apache.spark.sql.SparkSession,
                            a: Args): Unit = {
    import java.nio.file.{Files, Paths}
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:") ||
        a.base.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("admit applies to parquet paths")
    val fresh = spark.read.parquet(a.source)
    val base = spark.read.parquet(a.base)
    val (bloomBytes, bloomNote) = a.bloom match {
      case Some(p) if Files.exists(Paths.get(p)) =>
        (Files.readAllBytes(Paths.get(p)), s"loaded $p")
      case other =>
        val items = a.expectedItems.getOrElse(math.max(base.count(), 1024L))
        val b = graft.ext.Dedup.fingerprintBloom(base, a.textCol, items, a.fpp)
        other.foreach { p => Files.write(Paths.get(p), b); () }
        (b, other.fold(s"built (${b.length} bytes)")(p =>
          s"built -> $p (${b.length} bytes)"))
    }
    graft.ext.Dedup.incrementalDedupBloom(fresh, base, a.textCol, bloomBytes)
      .write.mode("overwrite").parquet(a.dest)
    val kept = spark.read.parquet(a.dest).count()
    println(s"admit ${a.source}: kept $kept of ${fresh.count()} " +
      s"-> ${a.dest} [bloom: $bloomNote]")
  }

  /** Train/benchmark decontamination as a verb: drop every --source doc
    * whose distinct --ngram-shingle overlap with --benchmark exceeds
    * --max-contamination (default 0 — any shared n-gram drops), write the
    * surviving rows; `--report` additionally writes the per-doc
    * contamination profile (ext/Dedup.contamination — benchmark shingles
    * broadcast, corpus exploded once, never self-joined). `--mode span`
    * measures merged character-span coverage instead of shingle tally;
    * `--mode jaccard` applies the per-benchmark-ITEM rule (drop on exact
    * pairwise Jaccard ≥ --jaccard against any single example). */
  private[cli] def runDecontaminate(spark: org.apache.spark.sql.SparkSession,
                                    a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    if (a.source.startsWith("jdbc:") || a.dest.startsWith("jdbc:") ||
        a.benchmark.startsWith("jdbc:"))
      throw GraftError.InvalidConfig("decontaminate applies to parquet paths")
    val corpus = spark.read.parquet(a.source)
    val bench = spark.read.parquet(a.benchmark)
    graft.functions.GraftFunctions.register(spark)
    if (a.mode == "span") {
      // span mode: drop docs whose characters covered by benchmark-shared
      // --ngram-char substrings exceed the threshold (the "n-char overlap
      // with the eval set" hygiene rule); hashed production form
      val profile = graft.ext.TextAnalysis.contaminationSpanCoverage(corpus,
          bench, a.idCol, a.textCol, n = a.ngramN, hashedKeys = true)
        .localCheckpoint() // read twice (report + drop-join), computed once
      a.report.foreach(r => profile.write.mode("overwrite").parquet(r))
      // anti-join on the DROP set: null-text docs (absent from the
      // profile) keep, matching shingle mode's "no measurable overlap"
      val dropIds = profile
        .filter(col("contaminated_frac") > a.maxContamination)
        .select(a.idCol)
      corpus.join(dropIds, Seq(a.idCol), "left_anti")
        .write.mode("overwrite").parquet(a.dest)
    } else if (a.mode == "jaccard" || a.mode == "containment") {
      // per-benchmark-ITEM rules (ext/Dedup.contaminationPairs): `jaccard`
      // drops every doc whose exact shingle-set Jaccard against ANY single
      // benchmark example reaches --jaccard — the pooled modes can miss a
      // verbatim copy of ONE example inside a large benchmark (its
      // shingles are a small fraction of the pooled union). `containment`
      // scores |A∩B| / |example| against --threshold instead — catching a
      // full example EMBEDDED in a longer page, where Jaccard dilutes.
      // Both attribute the matched example in the report.
      val pairs = graft.ext.Dedup.contaminationPairs(
          corpus, a.idCol,
          bench.withColumnRenamed(a.idCol, "bench_id"), "bench_id",
          a.textCol, shingleN = a.ngramN,
          threshold = if (a.mode == "jaccard") a.jaccard else a.threshold,
          nativeShingles = true, metric = a.mode)
        .localCheckpoint() // read twice (report + drop-join), computed once
      a.report.foreach(r => pairs.write.mode("overwrite").parquet(r))
      // null-text docs have no shingles, match nothing, keep — the span
      // mode's "no measurable overlap" rule
      corpus.join(pairs.select(a.idCol).distinct(), Seq(a.idCol), "left_anti")
        .write.mode("overwrite").parquet(a.dest)
    } else {
      val profile = graft.ext.Dedup.contamination(corpus, bench, a.idCol,
        a.textCol, shingleN = a.ngramN, nativeShingles = true)
        .localCheckpoint() // read twice (report + keep-join), computed once
      a.report.foreach(r => profile.write.mode("overwrite").parquet(r))
      // null-text docs carry null contamination: no measurable overlap, keep
      val keepIds = profile.filter(col("contamination").isNull ||
          col("contamination") <= a.maxContamination)
        .select(a.idCol)
      corpus.join(keepIds, a.idCol)
        .write.mode("overwrite").parquet(a.dest)
    }
    val kept = spark.read.parquet(a.dest).count()
    val thr = a.mode match {
      case "jaccard"     => s"jaccard>=${a.jaccard}"
      case "containment" => s"containment>=${a.threshold}"
      case _             => s"max=${a.maxContamination}"
    }
    println(s"decontaminate ${a.source} [${a.mode}]: kept $kept of " +
      s"${corpus.count()} (vs ${bench.count()} benchmark docs, " +
      s"n=${a.ngramN}, $thr) -> ${a.dest}" +
      a.report.fold("")(r => s" [report: $r]"))
  }

  private def runSync(spark: org.apache.spark.sql.SparkSession, a: Args): Unit = {
        val source = SyncEndpoint.parse(a.source, a.sourceUser, a.sourcePassword)
        val dest = SyncEndpoint.parse(a.dest, a.destUser, a.destPassword)
        // S2 — key defaulting from the reflected primary key (jdbc source)
        val keys = (a.keys, source) match {
          case (ks, _) if ks.nonEmpty => ks
          case (_, SyncEndpoint.JdbcTable(url, table, props)) =>
            new JdbcSource(url, props).primaryKey(table)
          case _ => throw GraftError.InvalidConfig(
            "--key is required for a parquet source (no catalog to reflect)")
        }
        val cfg = SyncConfig(keys, a.watermark, partitionByCol = a.partitionBy,
          tombstoneCol = a.tombstone)
        // M1/M2 progress rendering (reference cli.py:120-133: rows/s, %, ETA)
        val onProgress: graft.sync.Progress => Unit =
          if (a.progress) {
            val t0 = System.nanoTime()
            p => {
              val elapsedSec = (System.nanoTime() - t0) / 1e9
              val rate = if (elapsedSec > 0) p.rowsProcessed / elapsedSec else 0.0
              val etaSec =
                if (rate > 0 && p.totalRows > p.rowsProcessed)
                  (p.totalRows - p.rowsProcessed) / rate
                else 0.0
              println(f"  progress ${p.rowsProcessed}/${p.totalRows} rows " +
                f"(${p.percent}%.1f%%, $rate%.0f rows/s, eta $etaSec%.1f s)")
            }
          } else _ => ()
        a.cmd match {
          case "single" =>
            render(SyncPipeline.run(spark, cfg, source, dest, a.cut, onProgress))
          case "continuous" =>
            SyncPipeline.continuous(spark, cfg, source, dest, a.delay,
              a.iterations, shouldStop = { r => render(r); false },
              onProgress = onProgress)
            ()
        }
  }
}
