package graft.cli

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{avg, coalesce, col, count, count_if,
  expr, filter, lit, min, size, split, sum, trim, when}

import graft.core.{GraftSession, GraftError}
import graft.sources.JdbcSource
import graft.sync.{Extract, ParquetMergeSink, SyncConfig, SyncEndpoint,
  SyncPipeline, SyncReport}

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
  * Every verb is declared once, in `Main.verbs`: its usage fragment, the
  * options it requires, the endpoint options that may name a JDBC table,
  * and its runner. The usage text (printed for an unknown verb), the
  * option checks and the dispatch all follow from that table.
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

  /** One verb, or several sharing one runner (`name` "a|b"): its usage
    * fragment (the text after the verb), its runner, which returns the rows
    * it wrote (0 for a run that writes no rows of its own), the options it
    * cannot run without, and the endpoint options that may name a JDBC
    * table (any other endpoint must be a parquet path). */
  private final case class Verb(name: String, usage: String,
                                run: (SparkSession, Args) => Long,
                                required: Seq[String] = Seq("source", "dest"),
                                jdbc: Set[String] = Set.empty)

  private val verbs: Seq[Verb] = Seq(
    Verb("single|continuous", "--source (PATH|jdbc:...#table) " +
      "--dest (PATH|jdbc:...#table) [--key K[,K2]] --watermark W [--cut N] " +
      "[--delay SEC] [--iterations N] [--partition-by COL] " +
      "[--tombstone COL, CDC deletes] [--progress] [--source-user U] " +
      "[--source-password P] [--dest-user U] [--dest-password P]", runSync,
      Seq("source", "dest", "watermark"), Set("source", "dest")),
    Verb("compact", "--dest PATH [--target-bytes N] [--partition-by COL]",
      runCompact, Seq("dest")),
    Verb("curate", "--source PATH --dest PATH [--id-col doc_id] " +
      "[--text-col text] [--jaccard 0.8] [--min-tokens N] [--max-tokens N]",
      runCurate),
    Verb("neardup", "--source PATH --dest PATH " +
      "[--mode minhash|simhash|exact|containment|containment-sampled] " +
      "[--id-col doc_id] [--text-col text] [--jaccard 0.8] " +
      "[--threshold 0.99 for containment modes]", runNearDup),
    Verb("semantic-dedup", "--source PATH --dest PATH [--id-col vec_id] " +
      "[--vector-col embedding] [--threshold 0.99]", runSemanticDedup),
    Verb("quality", "--source PATH --dest PATH [--id-col doc_id] " +
      "[--text-col text] [--min-tokens N] [--max-tokens N]", runQuality),
    Verb("admit", "--source PATH --base PATH --dest PATH [--bloom PATH] " +
      "[--expected-items N] [--fpp 0.01] [--id-col doc_id] [--text-col text]",
      runAdmit, Seq("source", "dest", "base")),
    Verb("decontaminate", "--source PATH --benchmark PATH --dest PATH " +
      "[--mode shingle|span|jaccard|containment] [--report PATH] " +
      "[--ngram 3|16] [--max-contamination 0.0] [--jaccard 0.8] " +
      "[--threshold 0.99 for containment] [--id-col doc_id] [--text-col text]",
      runDecontaminate, Seq("source", "dest", "benchmark")),
    Verb("dedup-lines", "--source PATH --dest PATH [--min-docs 2] " +
      "[--report PATH] [--id-col doc_id] [--text-col text]", runDedupLines),
    Verb("dedup-spans", "--source PATH --dest PATH [--min-span 0] " +
      "[--ngram 16] [--report PATH] [--id-col doc_id] [--text-col text]",
      runDedupSpans),
    Verb("diff", "--source PATH --base PATH --dest PATH [--id-col doc_id] " +
      "[--text-col text]", runDiff, Seq("source", "dest", "base")),
    Verb("reconcile", "--source (PATH|jdbc:...#table) " +
      "--dest (PATH|jdbc:...#table) " +
      "--key K[,K2] [--report PATH] [--apply]", runReconcile,
      jdbc = Set("source", "dest")),
    Verb("bpe-train", "--source PATH --dest PATH --merges N " +
      "[--id-col doc_id] [--text-col text]", runBpeTrain,
      Seq("source", "dest", "merges")),
    Verb("tokenize", "--source PATH --base MERGES_PATH --dest PATH " +
      "[--id-col doc_id] [--text-col text]", runTokenize,
      Seq("source", "dest", "base")),
    Verb("spans", "--source PATH --dest PATH [--id-col doc_id] " +
      "[--text-col text] [--ngram 16]", runSpans),
    Verb("layout", "--source PATH --dest PATH --by COL[,COL2 for z-order] " +
      "--key TIEBREAK[,K2] [--buckets 16]", runLayout,
      Seq("source", "dest", "by")),
    Verb("mix", "--source PATH --dest PATH --by STRATACOL " +
      "(--quota-tokens N | --alpha A --target-tokens N) [--id-col doc_id] " +
      "[--text-col text]", runMix, Seq("source", "dest", "by")),
    Verb("pipeline", "--source PATH --benchmark PATH --dest WORKDIR " +
      "--by STRATACOL (--quota-tokens N | --alpha A --target-tokens N) " +
      "[--min-span 24] [--min-docs 2] [--min-tokens N] [--max-tokens N] " +
      "[--max-contamination 0.0] [--shards 16] [--capacity 2048] " +
      "[--id-col doc_id] [--text-col text]", runPipeline,
      Seq("source", "dest", "benchmark", "by")),
    Verb("agg", "--source (PATH|jdbc:...#table) --dest PATH " +
      "--by GROUPCOL[,G2] --watermark W " +
      "[--key K[,K2] last-writer-wins keyed lane] " +
      "[--tombstone COL, keyed CDC deletes] " +
      "[--value-col value | --value-col V1,V2 | --moments | " +
      "--distinct C[,C2]] [--cut N] [--partitioned] [--buckets 64] " +
      "[--kbuckets 4x-buckets, keyed state store]", runAgg,
      Seq("source", "dest", "watermark", "by"), Set("source")),
    Verb("agg-read", "--source ROLLUP_DIR --dest OUT_PARQUET " +
      "[--mode plain|derived|distinct|minmax] " +
      "[--by G[,G2] outer groups, composition modes only] " +
      "[--value-col V, minmax only]", runAggRead),
    Verb("rebucket",
      "--dest PATH --buckets N [--kbuckets M, keyed layouts only]",
      runRebucket, Seq("dest", "buckets")),
    Verb("span-index", "--mode build|append|probe --source PATH " +
      "--dest (INDEX_DIR for build/append, OUT_PARQUET for probe) " +
      "[--base INDEX_DIR, probe only] [--ngram 16] [--buckets 64] " +
      "[--id-col doc_id] [--text-col text]", runSpanIndex)) ++
    Seq("dhash-index" -> false, "ahash-index" -> true).map {
      case (name, audio) => Verb(name, "--mode build|append|probe " +
        "--source MEDIA_PARQUET " +
        "--dest (INDEX_DIR for build/append, OUT_PARQUET for probe) " +
        "[--base INDEX_DIR, probe only] [--bands 4] " +
        "[--max-hamming 3, probe only] [--id-col media_id] " +
        "[--content-col content]", runHashIndex(_, _, audio))
    }

  private val byName: Map[String, Verb] =
    verbs.flatMap(v => v.name.split('|').map(_ -> v)).toMap

  private val usage = verbs.map { v =>
    s"graft ${if (v.name.contains('|')) s"(${v.name})" else v.name} ${v.usage}"
  }.mkString("usage: ", " | ", ". Note: agg and reconcile commit their " +
    "watermark/state sidecars via atomic rename; object stores with no " +
    "AbstractFileSystem binding (e.g. s3a) use a staged two-phase commit " +
    "(.new twin written before the old sidecar is touched) so readers see " +
    "a committed value at every crash point")

  /** The options that name an endpoint. */
  private val endpoints = Seq("source", "dest", "base", "benchmark")

  private val boolFlags =
    Set("progress", "apply", "partitioned", "moments", "minmax")

  private[cli] def parse(argv: Array[String]): Args = {
    val verb = argv.headOption.flatMap(byName.get)
      .getOrElse(throw GraftError.InvalidConfig(usage))
    val cmd = argv(0)
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
    for (k <- verb.required if !opts.contains(k))
      throw GraftError.InvalidConfig(s"missing required option --$k")
    // the endpoint rule: an option the verb does not list may only name a
    // parquet path (refused here, before any Spark session starts)
    for (k <- endpoints; v <- opts.get(k))
      SyncEndpoint.parse(v) match {
        case _: SyncEndpoint.JdbcTable if !verb.jdbc(k) =>
          throw GraftError.InvalidConfig(
            s"$cmd applies to parquet paths (--$k)")
        case _ => ()
      }
    def opt(k: String) = opts.getOrElse(k, "")
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
    // a number in the unit interval `in`, written as the messages print
    // it: "(0,1]" excludes 0, "[0,1)" excludes 1; NaN refuses
    def fraction(name: String, v: String, in: String): Double = {
      val d = v.toDoubleOption.getOrElse(throw GraftError.InvalidConfig(
        s"--$name expects a number in $in, got '$v'"))
      if (!((if (in.head == '[') d >= 0.0 else d > 0.0) &&
            (if (in.last == ']') d <= 1.0 else d < 1.0)))
        throw GraftError.InvalidConfig(s"--$name must be in $in, got $d")
      d
    }
    Args(cmd, opt("source"), opt("dest"),
      opts.get("key").map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil),
      opt("watermark"),
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
        if (cmd == "semantic-dedup") "vec_id"
        else if (cmd == "dhash-index" || cmd == "ahash-index") "media_id"
        else "doc_id"),
      opts.getOrElse("text-col", "text"),
      fraction("jaccard", opts.getOrElse("jaccard", "0.8"), "(0,1]"),
      opts.get("min-tokens").map(num("min-tokens", _, min = 0)),
      opts.get("max-tokens").map(num("max-tokens", _, min = 1)),
      {
        // --mode is verb-scoped: neardup picks its cascade, decontaminate
        // picks the overlap MEASURE (shingle tally vs merged span coverage)
        val (dflt, allowed) =
          if (cmd == "decontaminate")
            ("shingle", Set("shingle", "span", "jaccard", "containment"))
          else if (cmd == "agg-read")
            ("plain", Set("plain", "derived", "distinct", "minmax"))
          else if (cmd == "span-index" || cmd == "dhash-index" ||
                   cmd == "ahash-index")
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
      fraction("threshold", opts.getOrElse("threshold", "0.99"), "(0,1]")
    ) match {
      case a if a.minTokens.exists(mn => a.maxTokens.exists(_ < mn)) =>
        // a swapped range would silently quality-drop the whole corpus
        throw GraftError.InvalidConfig(
          s"--min-tokens (${a.minTokens.get}) must be <= --max-tokens (${a.maxTokens.get})")
      case a => a.copy(
        base = opt("base"),
        benchmark = opt("benchmark"),
        bloom = opts.get("bloom"),
        expectedItems =
          opts.get("expected-items").map(num("expected-items", _, min = 1)),
        fpp = fraction("fpp", opts.getOrElse("fpp", "0.01"), "(0,1)"),
        report = opts.get("report"),
        // span modes work in exact-substring windows (chars), shingle
        // decontamination in tokens — different natural defaults, one flag
        ngramN = num("ngram", opts.getOrElse("ngram",
          if (cmd == "spans" || cmd == "dedup-spans" ||
            cmd == "span-index" ||
            (cmd == "decontaminate" &&
              opts.get("mode").contains("span"))) "16" else "3"),
          min = 1, max = 64).toInt,
        by = opt("by"),
        // agg's partitioned rollup caps buckets where the engine does
        // (65536) and defaults to the documented 64; layout keeps 16
        buckets = num("buckets", opts.getOrElse("buckets",
            if (cmd == "agg" || cmd == "span-index") "64" else "16"),
          min = 1, max = if (cmd == "agg" || cmd == "rebucket" ||
            cmd == "span-index") 65536 else 1000000).toInt,
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
          if (cmd == "pipeline") "24" else "0"),
          min = 0, max = Int.MaxValue).toInt,
        applyChanges = opts.contains("apply"),
        merges = num("merges", opts.getOrElse("merges", "6"),
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
        alpha = opts.get("alpha").map(fraction("alpha", _, "[0,1]")),
        maxContamination = fraction("max-contamination",
          opts.getOrElse("max-contamination", "0.0"), "[0,1]"))
    }
  }

  /** Run the verb `a` was parsed for; the rows it wrote. */
  private[cli] def dispatch(spark: SparkSession, a: Args): Long =
    byName(a.cmd).run(spark, a)

  /** Overwrite `dest` with `df`. The write job itself observes `count(1)`
    * and then `aggs` ([[ParquetMergeSink.observedWrite]]), so a summary
    * needs no second read of `dest`. */
  private def write(df: DataFrame, dest: String, aggs: Column*): Row =
    ParquetMergeSink.observedWrite(df, count(lit(1)) +: aggs: _*)(
      _.write.mode("overwrite").parquet(dest))

  private def render(r: SyncReport): Unit =
    println(f"synced ${r.candidateRows} rows in ${r.elapsedMs} ms " +
      f"(${r.rowsPerSec}%.0f rows/s), merge wrote ${r.rowsWritten} rows " +
      f"[watermark ${r.startingPoint.getOrElse("-")} → cut ${r.snapshotCut}]")

  def main(argv: Array[String]): Unit = {
    val exit = try {
      val a = parse(argv)
      val spark = GraftSession.local("graft-cli")
      try { dispatch(spark, a); 0 } finally spark.stop()
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
  private[cli] def runSpans(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    // coalesce the summary scalars: avg/sum over an empty (or
    // all-NULL-frac) result are SQL NULL, and getDouble/getLong on NULL
    // would crash a command whose write already SUCCEEDED (the runDiff
    // rule)
    val s = write(graft.ext.TextAnalysis.dupSpanCoverage(docs, a.idCol,
        a.textCol, n = a.ngramN, hashedKeys = true), a.dest,
      count(col(a.idCol)),
      coalesce(avg(col("dup_span_frac")), lit(0.0)),
      coalesce(sum((col("dup_span_frac") >= 0.5).cast("long")), lit(0L)))
    println(f"span coverage ${a.source}: ${s.getLong(1)} docs, " +
      f"mean frac ${s.getDouble(2)}%.4f, ${s.getLong(3)} docs >= 0.5 " +
      s"-> ${a.dest}")
    s.getLong(0)
  }

  /** Line-level boilerplate removal (ext/TextAnalysis.dropDuplicatedLines)
    * as a CLI verb: drop every line occurrence whose trimmed value appears
    * in ≥ --min-docs distinct documents, keep every other column of the
    * doc row intact, and report how many line occurrences were removed.
    * `--report PATH` additionally writes the per-doc lineDupStats measure
    * the removal acts on. */
  private[cli] def runDedupLines(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    val stats = graft.ext.TextAnalysis.lineDupStats(docs, a.idCol, a.textCol)
    a.report.foreach(p => stats.write.mode("overwrite").parquet(p))
    val cleaned = graft.ext.TextAnalysis.dropDuplicatedLines(
      docs, a.idCol, a.textCol, a.minDocs)
    // cleaned text replaces the original column; every other column rides
    // along untouched (one id-keyed join — the doc table is the big side).
    // The write job also counts the kept lines, by the same line
    // convention as lineDupStats (trimmed, empties excluded), so the
    // before/after difference is exactly the removed occurrences
    val text = col(a.textCol)
    val written = write(docs.drop(a.textCol).join(cleaned, Seq(a.idCol)),
      a.dest, sum(when(text.isNotNull,
        size(filter(split(text, "\n"), l => trim(l) =!= "")))).cast("long"))
    val rows = written.getLong(0)
    val keptLines = Option(written.get(1)).fold(0L)(_.asInstanceOf[Long])
    // the printed DROP count is what the removal actually removed at
    // --min-docs (derived from the before/after line totals), never the
    // ≥2-docs stats measure — at --min-docs 5 the stats frame can show
    // heavy duplication that was deliberately NOT acted on
    val t = stats.agg(sum(col("n_lines")).as("lines"),
      sum(col("n_dup_lines")).as("dups")).first()
    val totalLines = Option(t.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    println(s"dedup-lines ${a.source}: $totalLines lines, " +
      s"${Option(t.get(1)).getOrElse(0L)} in >=2-doc duplicates (measure); " +
      s"dropped ${math.max(0L, totalLines - keptLines)} line occurrences " +
      s"at min-docs=${a.minDocs} -> ${a.dest}" +
      a.report.map(p => s", stats -> $p").getOrElse(""))
    rows
  }

  /** Duplicated-span removal (ext/TextAnalysis.removeDuplicatedSpans) as a
    * CLI verb — the exact-substring-dedup transform: cut every merged
    * cross-document duplicated island of ≥ --min-span chars (detected in
    * --ngram-char windows) out of the text, keep every other column of the
    * doc row intact. Runs the hashed-key production form; the oracle-gated
    * exact twins are `e6i3`/`e6i4`. `--report PATH` writes the full
    * per-doc removal frame (text_len, removed_chars, clean_text). */
  private[cli] def runDedupSpans(spark: SparkSession, a: Args): Long = {
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
    val rows = write(docs.join(removed.select(col(a.idCol), col("clean_text")),
        Seq(a.idCol), "left")
      .withColumn(a.textCol, coalesce(col("clean_text"), col(a.textCol)))
      .drop("clean_text"), a.dest).getLong(0)
    val t = removed.agg(sum(col("text_len")).as("chars"),
      sum(col("removed_chars")).as("removed")).first()
    println(s"dedup-spans ${a.source}: ${t.get(0)} chars, " +
      s"${t.get(1)} removed in duplicated spans (ngram=${a.ngramN}, " +
      s"min-span=${a.minSpan}) -> ${a.dest}" +
      a.report.map(p => s", report -> $p").getOrElse(""))
    rows
  }

  /** Corpus snapshot diff (ext/Dedup.corpusDiff) as a CLI verb: classify
    * every id across --base (previous version) and --source (new version)
    * as added/removed/modified/unchanged by content fingerprint, write the
    * per-id status frame, and print the summary counts a pipeline run
    * report wants. */
  private[cli] def runDiff(spark: SparkSession, a: Args): Long = {
    val prev = spark.read.parquet(a.base)
    val next = spark.read.parquet(a.source)
    // coalesce: sum(...) over zero rows is NULL (both snapshots empty) —
    // the summary must print "0 ids", not NPE after a successful write.
    def n(status: String) = coalesce(
      sum(when(col("status") === status, 1L).otherwise(0L)), lit(0L))
    val s = write(graft.ext.Dedup.corpusDiff(prev, next, a.idCol, a.textCol),
      a.dest, n("added"), n("removed"), n("modified"), n("unchanged"))
    println(s"diff ${a.base} -> ${a.source}: ${s.getLong(0)} ids " +
      s"(${s.getLong(1)} added, ${s.getLong(2)} removed, " +
      s"${s.getLong(3)} modified, ${s.getLong(4)} unchanged) -> ${a.dest}")
    s.getLong(0)
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
  private[cli] def runReconcile(spark: SparkSession, a: Args): Long = {
    if (a.keys.isEmpty)
      throw GraftError.InvalidConfig("reconcile requires --key K[,K2]")
    // key-only projection on either kind of endpoint — the orphan pass
    // never moves wide rows (parquet prunes columns from footers, a JDBC
    // table read pushes the projection to the server)
    def readKeys(ep: SyncEndpoint) =
      Extract(spark, ep).table.select(a.keys.map(col): _*)
    val srcEp = SyncEndpoint.parse(a.source, a.sourceUser, a.sourcePassword)
    val destEp = SyncEndpoint.parse(a.dest, a.destUser, a.destPassword)
    val orphans = graft.sync.Reconcile.deletedKeys(
        readKeys(srcEp), readKeys(destEp), a.keys)
      .localCheckpoint() // consumed up to three times: report, count, apply
    a.report.foreach(p => orphans.write.mode("overwrite").parquet(p))
    val n = orphans.count()
    if (a.applyChanges) {
      // a parquet destination is rewritten (its kept rows); a JDBC one
      // only loses rows
      val (kept, dropped) = destEp match {
        case SyncEndpoint.ParquetDir(dir) =>
          graft.sync.Reconcile.applyDeletes(spark, dir, orphans, a.keys)
        case SyncEndpoint.JdbcTable(url, table, props) =>
          (0L, graft.sinks.JdbcUpsertSink.deleteByKeys(
            orphans, url, props, table, a.keys))
      }
      println(s"reconcile ${a.source} -> ${a.dest}: $n orphaned keys, " +
        s"dropped $dropped" +
        a.report.map(p => s", report -> $p").getOrElse(""))
      kept
    } else {
      println(s"reconcile ${a.source} -> ${a.dest}: $n orphaned keys " +
        s"(dest rows absent upstream; rerun with --apply to drop them)" +
        a.report.map(p => s", report -> $p").getOrElse(""))
      0L
    }
  }

  /** Batch IVM (sync/AggMaintenance) as a CLI verb: fold the source's
    * newest watermark slice into the grouped rollup at --dest. The slice
    * is [stored watermark, --cut) — or [source min, source max] bounds on
    * a cold start / absent --cut — so a cron-style re-invocation is the
    * whole maintenance loop: each run folds exactly the rows that arrived
    * since the last, a re-run of an already-folded cut is a reported
    * no-op, and the rollup always equals the one-shot groupBy (the a7
    * oracle contract). Source may be parquet or JDBC: it is read by the
    * sync's source reader ([[graft.sync.Extract]]): its range read of
    * [lo, hi], inclusive, and the fold's exact `< hi` make the half-open
    * slice (a server TIMESTAMP finer than the canonical µs may sit between
    * hi − 1 and hi); a JDBC slice is range-partitioned like a sync
    * extract.
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
  private[cli] def runAgg(spark: SparkSession, a: Args): Long = {
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
    // the source and its watermark bounds (absent on an empty source),
    // from the reader: a JDBC table's preflight and MIN/MAX statement run
    // on the server, always, with no Spark job; a parquet source's bounds
    // pass is LAZY — a warm rollup with an explicit --cut needs neither
    // bound, and the steady-state cron tick must not pay a min/max scan
    // it never reads (Option.orElse / getOrElse take their alternative by
    // name, so the job waits until a bound is actually consumed)
    val reader = Extract(spark,
      SyncEndpoint.parse(a.source, a.sourceUser, a.sourcePassword))
      .watermarked(a.watermark)
    val stored = graft.sync.AggMaintenance.watermark(spark, a.dest)
    val lo = stored.orElse(reader.bounds.map(_.loUs)).getOrElse {
      println(s"agg ${a.source} -> ${a.dest}: source empty and no rollup " +
        "yet; nothing to do"); return 0L
    }
    // --cut is the caller's T2-style snapshot cut; the default folds
    // through the source's current max (half-open, hence +1)
    val hi = a.cut.getOrElse(reader.bounds.map(_.hiUs + 1L).getOrElse(lo))
    if (hi <= lo) {
      println(s"agg ${a.source} -> ${a.dest}: up to date " +
        s"(watermark $lo, cut $hi)")
      return 0L
    }
    val (source, _) = reader.range(lo, hi)
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
    r.groupsWritten
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
  private[cli] def runAggRead(spark: SparkSession, a: Args): Long = {
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
    val n = write(df, a.dest).getLong(0)
    println(s"agg-read ${a.source} [${a.mode}]: $n rows -> ${a.dest} " +
      s"(watermark ${AggMaintenance.watermark(spark, a.source)
        .getOrElse(-1L)})")
    n
  }

  /** The persisted gram index (TextAnalysis.buildGramIndex family) as a
    * CLI verb — the span family's incremental-admission shape: `build`
    * persists the base corpus's distinct n-gram set, `append` folds an
    * ingest batch in at O(batch grams), `probe` writes per-batch-doc
    * span coverage against the EXISTING corpus (text_len, covered_chars,
    * dup_span_frac) without re-exploding base text. Index params are
    * frozen in the build's stamp; append/probe re-derive them. */
  private[cli] def runSpanIndex(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    a.mode match {
      case "build" =>
        graft.ext.TextAnalysis.buildGramIndex(docs, a.idCol, a.textCol,
          a.dest, n = a.ngramN, nBuckets = a.buckets)
        println(s"span-index build ${a.source}: n=${a.ngramN} " +
          s"buckets=${a.buckets} -> ${a.dest}")
        0L
      case "append" =>
        graft.ext.TextAnalysis.gramIndexAppend(spark, a.dest, docs,
          a.idCol, a.textCol)
        println(s"span-index append ${a.source} -> ${a.dest}")
        0L
      case "probe" =>
        if (a.base.isEmpty)
          throw GraftError.InvalidConfig(
            "span-index --mode probe needs --base INDEX_DIR (the " +
              "committed index; --dest is the coverage output)")
        val n = write(graft.ext.TextAnalysis.gramIndexSpanCoverage(
          spark, a.base, docs, a.idCol, a.textCol), a.dest).getLong(0)
        println(s"span-index probe ${a.source} vs ${a.base}: " +
          s"$n docs -> ${a.dest}")
        n
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
  private[cli] def runHashIndex(spark: SparkSession, a: Args,
                                audio: Boolean): Long = {
    val verb = if (audio) "ahash-index" else "dhash-index"
    if (64 % a.bands != 0)
      throw GraftError.InvalidConfig(
        s"--bands must divide 64, got ${a.bands}")
    // maxHamming < bands is checked by the probe, against the band count
    // the index stamp froze; build and append never read maxHamming
    val media = spark.read.parquet(a.source).select(
      col(a.idCol).cast("long").as("media_id"), col(a.contentCol).as("content"))
    import graft.ext.Multimodal
    a.mode match {
      case "build" =>
        if (audio) Multimodal.buildAudioHashIndex(media, a.dest, bands = a.bands)
        else Multimodal.buildDHashIndex(media, a.dest, bands = a.bands)
        println(s"$verb build ${a.source}: bands=${a.bands} -> ${a.dest}")
        0L
      case "append" =>
        if (audio) Multimodal.audioIndexAppend(spark, a.dest, media)
        else Multimodal.dhashIndexAppend(spark, a.dest, media)
        println(s"$verb append ${a.source} -> ${a.dest}")
        0L
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
        val n = write(out, a.dest).getLong(0)
        println(s"$verb probe ${a.source} vs ${a.base}: " +
          s"$n pairs (hamming <= ${a.maxHamming}) -> ${a.dest}")
        n
    }
  }

  /** Bucket-count growth for a partitioned rollup (AggMaintenance
    * .rebucket) as a dest-only maintenance verb — the relabeling pass
    * that unfreezes the stamp's `buckets=` as the group count grows.
    * Requires an explicit --buckets (a silent default would relabel a
    * production layout to an arbitrary size). */
  private[cli] def runRebucket(spark: SparkSession, a: Args): Long = {
    graft.sync.AggMaintenance.rebucket(spark, a.dest, a.buckets,
      newKeyBuckets = a.kbuckets)
    println(s"rebucket ${a.dest}: now ${a.buckets} buckets" +
      (if (a.kbuckets > 0) s", ${a.kbuckets} state kbuckets" else "") +
      s" (watermark ${graft.sync.AggMaintenance.watermark(spark, a.dest)
        .getOrElse(-1L)})")
    0L
  }

  /** BPE tokenizer TRAINING (ext/TextAnalysis.bpeTrain) as a CLI verb:
    * run --merges rounds over the corpus and write the merge table
    * (round, pair, cnt) — the model artifact `tokenize` applies. */
  private[cli] def runBpeTrain(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    val (table, excluded) = graft.ext.TextAnalysis.bpeTrainCounted(
      docs, a.textCol, merges = a.merges)
    val n = write(table.coalesce(1), a.dest).getLong(0)
    println(s"bpe-train ${a.source}: $n merges (asked ${a.merges}" +
      (if (n < a.merges) ", pair space exhausted" else "") +
      s")${if (excluded > 0) s", $excluded sentinel tokens excluded" else ""}" +
      s" -> ${a.dest}")
    n
  }

  /** BPE tokenizer APPLICATION (ext/TextAnalysis.bpeEncodeWith) as a CLI
    * verb: apply the --base merge table in training order and write
    * per-doc token/symbol counts. */
  private[cli] def runTokenize(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    val mergeTable = spark.read.parquet(a.base)
    val t = write(graft.ext.TextAnalysis.bpeEncodeWith(docs, a.idCol,
        a.textCol, mergeTable), a.dest,
      sum(col("n_tokens")), sum(col("n_symbols")))
    println(s"tokenize ${a.source}: ${t.get(1)} tokens -> ${t.get(2)} " +
      s"symbols under ${mergeTable.count()} merges (${a.base}) -> ${a.dest}")
    t.getLong(0)
  }

  /** Range-clustered layout (ops/RangeLayout) as a CLI verb: rewrite a
    * parquet corpus into deterministic rank-split `bucket=k/` dirs sorted
    * by --by (tie-broken by --key), with the per-bucket min/max/count
    * manifest sidecar a range scan prunes against. */
  private[cli] def runLayout(spark: SparkSession, a: Args): Long = {
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
        mf.map(_.getLong(1)).sum
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
        mf.map(_.getLong(1)).sum
      case more => throw GraftError.InvalidConfig(
        s"layout --by takes one column (range) or two (z-order), got ${more.length}")
    }
  }

  /** Corpus mixing (ext/Sampling) as a CLI verb: `--quota-tokens` caps
    * each --by stratum's expected token contribution (tokenQuotaSample);
    * `--alpha` + `--target-tokens` rebalances expected contributions to
    * ∝ tot^α under the total budget (temperatureMix). Exactly one mode. */
  private[cli] def runMix(spark: SparkSession, a: Args): Long = {
    // mode validation is config surface — it must fire (exit 2) before the
    // source is even touched
    type Mix = (DataFrame, Column) => DataFrame
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
    val rows = write(mode(docs, tokens), a.dest).getLong(0)
    val s = spark.read.parquet(a.dest)
      .groupBy(col(a.by)).agg(count(col(a.idCol)).as("docs"),
        sum(tokens).as("tokens"))
      .orderBy(col(a.by)).collect()
    println(s"mix ${a.source} by ${a.by} -> ${a.dest}")
    s.foreach(r => println(s"  ${r.get(0)}: docs=${r.get(1)} tokens=${r.get(2)}"))
    rows
  }

  private[cli] def runCompact(spark: SparkSession, a: Args): Long = {
    val r = graft.sync.Compact.compact(spark, a.dest,
      a.targetBytes.getOrElse(graft.sync.Compact.DefaultTargetBytes),
      a.partitionBy)
    println(s"compacted ${a.dest}: ${r.filesBefore} -> ${r.filesAfter} " +
      s"files (${r.rows} rows)")
    r.rows
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
    * the rows each stage's write job wrote, not an estimate from the
    * plan. */
  private[cli] def runPipeline(spark: SparkSession, a: Args): Long = {
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
    def stage(name: String, out: String)(body: String => Long): Unit = {
      val s0 = System.nanoTime()
      val rows = body(out)
      ledger += ((name, rows, (System.nanoTime() - s0) / 1e9))
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
      write(docs.join(passIds, Seq(a.idCol), "left_semi"), o).getLong(0)
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
      val rows = write(packed, o).getLong(0)
      if (dropped.value > 0L)
        println(s"pipeline[pack] dropped ${dropped.value} unpackable rows" +
          " (null/malformed id) — see Packing.packBinsCounted")
      rows
    }
    val packs = spark.read.parquet(last)
      .select("shard", "pack_id").distinct().count()
    val total = (System.nanoTime() - t0) / 1e9
    println(s"pipeline ${a.source} -> $work: $inRows docs in")
    ledger.foreach { case (name, rows, sec) =>
      println(f"  $name%-14s rows=$rows%-9d ${sec}%6.1f s") }
    println(f"pipeline done: $packs packs in $last, ${total}%.1f s total")
    ledger.last._2
  }

  /** The composed training-data curation pass (ext/Curation) as a CLI
    * verb: gopher-or-length quality rules, fingerprint exact dedup, and
    * MinHash-LSH near-dedup (the production edge generator), one verdict
    * row per doc written to parquet. Parquet-only: curation is a corpus
    * operation, not a sync. */
  private[cli] def runCurate(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    val edges = graft.ext.Dedup.minhashNearDups(docs, a.idCol, a.textCol,
      threshold = a.jaccard, nativeShingles = true)
    val qualityPass = (a.minTokens, a.maxTokens) match {
      case (None, None) => None // full gopher rule-set
      case (mn, mx) => Some(graft.ext.TextAnalysis.tokenCount(col(a.textCol))
        .between(mn.getOrElse(0L), mx.getOrElse(Long.MaxValue)))
    }
    val rows = write(graft.ext.Curation.curate(docs, a.idCol, a.textCol,
      edges, qualityPass = qualityPass), a.dest).getLong(0)
    val counts = spark.read.parquet(a.dest)
      .groupBy("drop_reason").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"curated ${a.source}: $counts -> ${a.dest}")
    rows
  }

  /** Near-duplicate detection as a standalone verb: `minhash` runs the
    * MinHash-LSH cascade (banded candidates → estimate filter → exact
    * Jaccard verify ≥ --jaccard) and writes verified pairs; `simhash`
    * writes pigeonhole-banded candidate pairs with their hamming
    * distance; `exact` writes a (id, keeper_id) map — min-id keeper per
    * identical text. The hot-band drop ledger prints when the cap
    * truncated candidate generation (never silent). */
  private[cli] def runNearDup(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    if (a.mode == "exact") {
      val keeper = docs.groupBy(col(a.textCol))
        .agg(min(col(a.idCol)).as("keeper_id"))
      val n = write(docs.select(col(a.idCol), col(a.textCol))
        .join(keeper, a.textCol)
        .select(col(a.idCol), col("keeper_id")), a.dest).getLong(0)
      println(s"neardup exact ${a.source}: $n docs, " +
        s"${spark.read.parquet(a.dest).select("keeper_id").distinct().count()}" +
        s" keepers -> ${a.dest}")
      return n
    }
    // the pairs and the cap note, which prints when the cap truncated
    // candidate generation
    val (pairs, capped) = a.mode match {
      case "minhash" =>
        val (pairs, stats) = graft.ext.Dedup.minhashNearDupsCounted(
          docs, a.idCol, a.textCol, threshold = a.jaccard,
          nativeShingles = true)
        (pairs, if (stats.droppedBands > 0)
          s" [capped: ${stats.droppedBands} bands / ${stats.droppedRows} rows dropped]"
        else "")
      case "simhash" =>
        val hashed = docs.select(col(a.idCol),
          graft.ext.TextAnalysis.simhash64(col(a.textCol)).as("__simhash"))
        (graft.ext.TextAnalysis.simhashCandidates(hashed, a.idCol, "__simhash")
          .select("a_id", "b_id", "hamming"), "")
      case "containment" =>
        // asymmetric quote/subset pairs at --threshold; the maxDf
        // boilerplate-shingle cap is ON by default (opt out only in the
        // library API) and its drop count prints — never a silent
        // truncation, never an uncapped posting-list self-join
        val (pairs, dropped) = graft.ext.Dedup.containmentPairsCounted(
          docs, a.idCol, a.textCol, minContainment = a.threshold,
          nativeShingles = true)
        (pairs, if (dropped > 0)
          s" [capped: $dropped boilerplate shingles dropped]" else "")
      case "containment-sampled" =>
        // the 100 TB form: deterministic 1/16 gram-space slice bounds the
        // pair-join mass by the sample rate even under degenerate
        // duplication (hashed 8-byte join keys on top)
        val (pairs, dropped) =
          graft.ext.Dedup.containmentPairsSampledCounted(
            docs, a.idCol, a.textCol, minContainment = a.threshold,
            nativeShingles = true, hashedKeys = true)
        (pairs, if (dropped > 0)
          s" [capped: $dropped sampled shingles dropped]" else "")
    }
    val n = write(pairs, a.dest).getLong(0)
    println(s"neardup ${a.mode} ${a.source}: $n pairs -> ${a.dest}$capped")
    n
  }

  /** Embedding-space dedup as a verb: one canonical survivor per
    * cosine-similarity component at --threshold, cells auto-sized to the
    * distinct corpus. Writes the surviving rows (schema unchanged). */
  private[cli] def runSemanticDedup(spark: SparkSession, a: Args): Long = {
    val emb = spark.read.parquet(a.source)
    graft.functions.GraftFunctions.register(spark)
    val (survivors, stats) = graft.ext.Similarity.semanticDedupCounted(
      emb, a.idCol, a.vectorCol, threshold = a.threshold,
      nClusters = graft.ext.Similarity.AutoClusters)
    val kept = write(survivors, a.dest).getLong(0)
    val capped = if (stats.droppedBands > 0)
      s" [capped: ${stats.droppedBands} cells / ${stats.droppedRows} rows skipped pairing]"
    else ""
    println(s"semantic-dedup ${a.source}: kept $kept of ${emb.count()} " +
      s"-> ${a.dest}$capped")
    kept
  }

  /** Per-document quality profile: the Gopher rule conjunction (measures +
    * per-rule flags + gopher_pass) joined with the composite quality score
    * and the n-gram language guess — the triage table a curation run
    * starts from. */
  private[cli] def runQuality(spark: SparkSession, a: Args): Long = {
    val docs = spark.read.parquet(a.source)
    val rules = graft.ext.TextAnalysis.gopherRules(docs, a.idCol, a.textCol,
      minTokens = a.minTokens.getOrElse(50L),
      maxTokens = a.maxTokens.getOrElse(100000L))
    val q = write(rules.join(docs.select(col(a.idCol),
        graft.ext.TextAnalysis.qualityScore(col(a.textCol)).as("quality_score"),
        graft.ext.TextAnalysis.langId(col(a.textCol)).as("lang_guess")),
        a.idCol), a.dest, count_if(col("gopher_pass") === 1L))
    println(s"quality ${a.source}: ${q.getLong(1)}/${q.getLong(0)} " +
      s"pass gopher -> ${a.dest}")
    q.getLong(0)
  }

  /** Incremental admission as a verb: keep only the --source rows whose
    * content fingerprint is not already in --base, through the bloom
    * pre-filter (ext/Dedup.incrementalDedupBloom — misses skip the
    * anti-join shuffle; the result is exactly the plain anti-join's).
    * `--bloom PATH` makes the filter a durable artifact: loaded when the
    * file exists, else built from --base and written there — so a daily
    * admission job pays the base scan once per corpus version, not once
    * per drop. */
  private[cli] def runAdmit(spark: SparkSession, a: Args): Long = {
    import java.nio.file.{Files, Paths}
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
    val kept = write(graft.ext.Dedup.incrementalDedupBloom(fresh, base,
      a.textCol, bloomBytes), a.dest).getLong(0)
    println(s"admit ${a.source}: kept $kept of ${fresh.count()} " +
      s"-> ${a.dest} [bloom: $bloomNote]")
    kept
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
  private[cli] def runDecontaminate(spark: SparkSession, a: Args): Long = {
    val corpus = spark.read.parquet(a.source)
    val bench = spark.read.parquet(a.benchmark)
    graft.functions.GraftFunctions.register(spark)
    val clean = if (a.mode == "span") {
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
    }
    val kept = write(clean, a.dest).getLong(0)
    val thr = a.mode match {
      case "jaccard"     => s"jaccard>=${a.jaccard}"
      case "containment" => s"containment>=${a.threshold}"
      case _             => s"max=${a.maxContamination}"
    }
    println(s"decontaminate ${a.source} [${a.mode}]: kept $kept of " +
      s"${corpus.count()} (vs ${bench.count()} benchmark docs, " +
      s"n=${a.ngramN}, $thr) -> ${a.dest}" +
      a.report.fold("")(r => s" [report: $r]"))
    kept
  }

  private def runSync(spark: SparkSession, a: Args): Long = {
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
    val reports = a.cmd match {
      case "single" =>
        val r = SyncPipeline.run(spark, cfg, source, dest, a.cut, onProgress)
        render(r)
        Seq(r)
      case "continuous" =>
        SyncPipeline.continuous(spark, cfg, source, dest, a.delay,
          a.iterations, shouldStop = { r => render(r); false },
          onProgress = onProgress)
    }
    reports.map(_.rowsWritten).sum
  }
}
