package graft.cli

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.GraftError

/** Smoke tests for the CLI verbs (SURVEY §3.1, reference cli.py): each
  * verb parses its argv and runs end-to-end against the fixture tables,
  * writing parquet a non-Scala user could consume. The sync verbs' engine
  * (`SyncPipeline.run` over all four endpoint pairs, and
  * `SyncPipeline.continuous`) is covered by JdbcSyncBehaviors' "all four
  * endpoint pairs agree…" spec; these cover the corpus verbs and the
  * arg-validation surface. */
class CliSpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  private def run(argv: String*): Main.Args = {
    val a = Main.parse(argv.toArray)
    Main.dispatch(spark, a)
    a
  }

  test("single --tombstone parses into the sync config surface") {
    val a = Main.parse(Array("single", "--source", "src.parquet",
      "--dest", "dst.parquet", "--key", "id", "--watermark", "updated",
      "--tombstone", "del"))
    assert(a.cmd == "single" && a.tombstone.contains("del"))
    // the flag needs a value like any other option
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("single", "--source", "s", "--dest", "d",
        "--key", "id", "--watermark", "updated", "--tombstone")))
  }

  test("neardup --mode minhash writes verified pairs") {
    val dest = tmpDir("cli-neardup") + "/pairs"
    run("neardup", "--source", s"$sfDir/documents.parquet",
      "--dest", dest, "--jaccard", "0.8")
    val pairs = spark.read.parquet(dest)
    assert(pairs.columns.toSet.contains("a_id") &&
      pairs.columns.toSet.contains("b_id"))
    // pairs are verified >= threshold and ordered a < b — no self-pairs
    assert(pairs.filter(col("a_id") >= col("b_id")).count() == 0)
  }

  test("neardup --mode simhash writes hamming-bounded candidate pairs") {
    val dest = tmpDir("cli-simhash") + "/pairs"
    run("neardup", "--source", s"$sfDir/documents.parquet",
      "--dest", dest, "--mode", "simhash")
    val pairs = spark.read.parquet(dest)
    assert(pairs.columns.toSet == Set("a_id", "b_id", "hamming"))
    assert(pairs.filter(col("hamming") > 3).count() == 0)
  }

  test("neardup --mode exact writes a min-id keeper map covering every doc") {
    val dest = tmpDir("cli-exact") + "/keepers"
    run("neardup", "--source", s"$sfDir/documents.parquet",
      "--dest", dest, "--mode", "exact")
    val out = spark.read.parquet(dest)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.count() == nDocs) // total map: one row per doc
    assert(out.filter(col("keeper_id") > col("doc_id")).count() == 0)
  }

  test("semantic-dedup keeps one canonical per exact-twin component") {
    // plant exact twins under shifted ids: every twin must collapse onto
    // its base row, everything else survives untouched
    val src = tmpDir("cli-semsrc") + "/emb"
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 50)
    base.unionByName(base.withColumn("vec_id", col("vec_id") + 100000))
      .write.parquet(src)
    val dest = tmpDir("cli-semdst") + "/survivors"
    run("semantic-dedup", "--source", src, "--dest", dest,
      "--threshold", "0.99")
    val got = spark.read.parquet(dest).select("vec_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == base.select("vec_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet)
  }

  test("quality writes gopher flags + composite score + language guess") {
    val dest = tmpDir("cli-quality") + "/profile"
    run("quality", "--source", s"$sfDir/documents.parquet",
      "--dest", dest, "--min-tokens", "10")
    val out = spark.read.parquet(dest)
    assert(Set("gopher_pass", "rule_n_tokens", "quality_score", "lang_guess")
      .subsetOf(out.columns.toSet))
    assert(out.count() ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
    // the fixture soup has no English stopwords: rule_stop fails wholesale,
    // so the relaxed n_tokens bound alone must not make gopher_pass fire
    assert(out.filter(col("gopher_pass") === 1L).count() == 0)
  }

  test("admit drops base-overlap rows and persists the bloom artifact") {
    val work = tmpDir("cli-admit")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    docs.filter(col("doc_id") < 250).write.parquet(s"$work/base")
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 350)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .write.parquet(s"$work/fresh")
    run("admit", "--source", s"$work/fresh", "--base", s"$work/base",
      "--dest", s"$work/admitted", "--bloom", s"$work/corpus.bloom")
    val got = spark.read.parquet(s"$work/admitted").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(got == (100250L until 100350L).toSet)
    // the artifact was written, and a second run (loading it) agrees
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/corpus.bloom")))
    run("admit", "--source", s"$work/fresh", "--base", s"$work/base",
      "--dest", s"$work/admitted2", "--bloom", s"$work/corpus.bloom")
    val again = spark.read.parquet(s"$work/admitted2").select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().toSet
    assert(again == got)
  }

  test("decontaminate drops benchmark-overlapping docs and writes the report") {
    val work = tmpDir("cli-decon")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // benchmark = docs [0,100); corpus = docs [100, 500). The 31-word soup
    // overlaps heavily at 3-grams, so strict max=0 drops most of the
    // corpus — loose max=1.0 keeps everything. Both bounds are checked.
    docs.filter(col("doc_id") < 100).write.parquet(s"$work/bench")
    docs.filter(col("doc_id") >= 100).write.parquet(s"$work/corpus")
    run("decontaminate", "--source", s"$work/corpus",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean",
      "--report", s"$work/report")
    val nCorpus = spark.read.parquet(s"$work/corpus").count()
    val kept = spark.read.parquet(s"$work/clean").count()
    assert(kept < nCorpus, "strict zero-overlap must drop soup docs")
    val report = spark.read.parquet(s"$work/report")
    assert(report.count() == nCorpus)
    assert(Set("doc_id", "n_shingles", "contaminated", "contamination")
      .subsetOf(report.columns.toSet))
    // kept docs are exactly the zero-contamination rows of the report
    assert(kept == report.filter(col("contamination") === 0.0).count())
    run("decontaminate", "--source", s"$work/corpus",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean_all",
      "--max-contamination", "1.0")
    assert(spark.read.parquet(s"$work/clean_all").count() == nCorpus)
  }

  test("decontaminate --mode jaccard drops per-example near-duplicates") {
    val work = tmpDir("cli-decon-jacc")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    docs.filter(col("doc_id") < 100).write.parquet(s"$work/bench")
    // corpus = docs >= 100 plus PLANTED whitespace variants of non-null
    // bench docs < 20 (identical word shingles → J = 1 vs their original)
    val planted = docs.filter(col("doc_id") < 20 && col("text").isNotNull)
    val nPlanted = planted.count()
    docs.filter(col("doc_id") >= 100)
      .unionByName(planted.select((col("doc_id") + 100000L).as("doc_id"),
        regexp_replace(col("text"), " ", "  ").as("text")))
      .write.parquet(s"$work/corpus")
    run("decontaminate", "--source", s"$work/corpus",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean",
      "--mode", "jaccard", "--jaccard", "0.8", "--report", s"$work/report")
    val kept = spark.read.parquet(s"$work/clean")
    assert(kept.count() > 0, "the disjoint tail of the corpus must survive")
    assert(kept.filter(col("doc_id") >= 100000L).count() == 0,
      "every planted variant near-duplicates a benchmark example — dropped")
    // the report attributes each variant to its own bench original at J=1
    val rep = spark.read.parquet(s"$work/report")
    assert(Set("doc_id", "bench_id", "shared_shingles", "jaccard")
      .subsetOf(rep.columns.toSet))
    assert(rep.filter(col("doc_id") >= 100000L)
      .filter(col("doc_id") - 100000L === col("bench_id") &&
        col("jaccard") === 1.0).count() == nPlanted)
    // containment mode catches an example EMBEDDED in a longer host doc
    // (jaccard dilutes there): hosts concatenate a bench doc (>= 3 tokens,
    // so every one of its 3-gram shingles survives contiguously) with a
    // disjoint non-bench sibling
    val emb = docs.filter(col("doc_id") < 10 && col("text").isNotNull &&
        size(split(col("text"), "\\s+")) >= 3).alias("a")
      .join(docs.alias("b"), col("b.doc_id") === col("a.doc_id") + 150)
      .select((col("a.doc_id") + 200000L).as("doc_id"),
        concat(col("a.text"), lit(" "), col("b.text")).as("text"))
    val nEmb = emb.count()
    assert(nEmb > 0)
    docs.filter(col("doc_id") >= 100).unionByName(emb)
      .write.parquet(s"$work/corpus2")
    run("decontaminate", "--source", s"$work/corpus2",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean2",
      "--mode", "containment", "--threshold", "0.99",
      "--report", s"$work/report2")
    assert(spark.read.parquet(s"$work/clean2")
      .filter(col("doc_id") >= 200000L).count() == 0,
      "every embedded-example host is dropped by containment")
    assert(spark.read.parquet(s"$work/report2")
      .filter(col("doc_id") >= 200000L)
      .filter(col("doc_id") - 200000L === col("bench_id") &&
        col("containment") === 1.0).count() == nEmb,
      "each host attributes its embedded example at containment 1.0")
  }

  test("decontaminate --mode span drops docs by covered-char fraction") {
    val work = tmpDir("cli-decon-span")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.filter(col("doc_id") < 100).write.parquet(s"$work/bench")
    docs.filter(col("doc_id") >= 100).write.parquet(s"$work/corpus")
    run("decontaminate", "--source", s"$work/corpus",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean",
      "--mode", "span", "--report", s"$work/report")
    val nCorpus = spark.read.parquet(s"$work/corpus").count()
    val kept = spark.read.parquet(s"$work/clean").count()
    val report = spark.read.parquet(s"$work/report")
    assert(report.count() == nCorpus)
    assert(Set("doc_id", "text_len", "covered_chars", "contaminated_frac")
      .subsetOf(report.columns.toSet))
    // kept docs are exactly the ones at or under the threshold (0.0)
    assert(kept ==
      report.filter(col("contaminated_frac") <= 0.0).count())
    // loose threshold keeps everything
    run("decontaminate", "--source", s"$work/corpus",
      "--benchmark", s"$work/bench", "--dest", s"$work/clean_all",
      "--mode", "span", "--max-contamination", "1.0")
    assert(spark.read.parquet(s"$work/clean_all").count() == nCorpus)
  }

  test("spans writes per-doc duplicated-span coverage") {
    val dest = tmpDir("cli-spans") + "/spans"
    run("spans", "--source", s"$sfDir/documents.parquet", "--dest", dest)
    val out = spark.read.parquet(dest)
    assert(out.columns.toSet ==
      Set("doc_id", "text_len", "covered_chars", "dup_span_frac"))
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(out.count() == nDocs)
    assert(out.filter(col("covered_chars") > col("text_len")).count() == 0)
  }

  test("layout writes rank-split bucket dirs plus the manifest sidecar") {
    val dest = tmpDir("cli-layout") + "/orders_by_date"
    run("layout", "--source", s"$sfDir/orders.parquet", "--dest", dest,
      "--by", "o_orderdate", "--key", "o_orderkey", "--buckets", "4")
    val dirs = new java.io.File(dest).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(dirs == Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"))
    val mf = spark.read.parquet(
      graft.ops.RangeLayout.manifestPath(dest))
    assert(mf.count() == 4)
    val total = mf.agg(sum("n_rows")).first().getLong(0)
    assert(total == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("layout --by a,b z-orders with a two-dimension manifest") {
    val dest = tmpDir("cli-zorder") + "/lineitem_z"
    run("layout", "--source", s"$sfDir/lineitem.parquet", "--dest", dest,
      "--by", "l_suppkey,l_partkey", "--key", "l_orderkey,l_linenumber",
      "--buckets", "4")
    val mf = spark.read.parquet(graft.ops.RangeLayout.manifestPath(dest))
    assert(mf.count() == 4)
    assert(mf.columns.toSet == Set("bucket", "n_rows",
      "min_l_suppkey", "max_l_suppkey",
      "min_l_partkey", "max_l_partkey"),
      s"manifest must carry BOTH dimensions: ${mf.columns.toSet}")
    assert(mf.agg(sum("n_rows")).first().getLong(0) ==
      spark.read.parquet(s"$sfDir/lineitem.parquet").count())
    assertThrows[GraftError.InvalidConfig](
      Main.runLayout(spark, Main.parse(Array("layout", "--source", "s",
        "--dest", "d", "--by", "a,b,c", "--key", "k"))))
  }

  test("mix rebalances by quota or temperature and rejects mixed flags") {
    import graft.ext.TextAnalysis
    val work = tmpDir("cli-mix")
    run("mix", "--source", s"$sfDir/documents.parquet",
      "--dest", s"$work/quota", "--by", "lang", "--quota-tokens", "1000")
    val tokens = TextAnalysis.tokenCount(col("text"))
    val quotaTotals = spark.read.parquet(s"$work/quota")
      .groupBy("lang").agg(sum(tokens).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(quotaTotals.nonEmpty)
    // expectation ≤ quota per stratum; hash-coin noise stays well inside 2×
    quotaTotals.foreach { case (l, t) =>
      assert(t <= 2000L, s"stratum $l blew its quota: $t") }
    run("mix", "--source", s"$sfDir/documents.parquet",
      "--dest", s"$work/temp", "--by", "lang",
      "--alpha", "0.5", "--target-tokens", "5000")
    assert(spark.read.parquet(s"$work/temp").count() > 0)
    // exactly one mode, typed errors otherwise
    assertThrows[GraftError.InvalidConfig](
      Main.runMix(spark, Main.parse(Array("mix", "--source", "s",
        "--dest", "d", "--by", "lang"))))
    assertThrows[GraftError.InvalidConfig](
      Main.runMix(spark, Main.parse(Array("mix", "--source", "s",
        "--dest", "d", "--by", "lang", "--quota-tokens", "5",
        "--alpha", "0.5", "--target-tokens", "10"))))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("mix", "--source", "s", "--dest", "d",
        "--by", "lang", "--alpha", "1.5", "--target-tokens", "10")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("mix", "--source", "s", "--dest", "d")))
  }

  test("dedup-lines strips cross-doc boilerplate, keeps other columns, writes the report") {
    import spark.implicits._
    val work = tmpDir("cli-dedup-lines")
    Seq((0L, "boiler\nalpha", "en"), (1L, "boiler\nbeta", "de"),
        (2L, "gamma", "fr"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$work/in")
    run("dedup-lines", "--source", s"$work/in", "--dest", s"$work/out",
      "--report", s"$work/stats")
    val out = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"))).sortBy(_._1).toList
    // the boilerplate line is gone, the lang column rode along untouched
    assert(out == List((0L, "alpha", "en"), (1L, "beta", "de"),
      (2L, "gamma", "fr")))
    val stats = spark.read.parquet(s"$work/stats")
    assert(stats.filter(col("doc_id") === 0L).first()
      .getAs[Long]("n_dup_lines") == 1L)
    // --min-docs above the duplication degree keeps everything
    run("dedup-lines", "--source", s"$work/in", "--dest", s"$work/out3",
      "--min-docs", "3")
    assert(spark.read.parquet(s"$work/out3")
      .filter(col("text").contains("boiler")).count() == 2)
    // typed config errors: bad threshold, jdbc endpoint
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("dedup-lines", "--source", "s", "--dest", "d",
        "--min-docs", "1")))
    assertThrows[GraftError.InvalidConfig](
      Main.runDedupLines(spark, Main.parse(Array("dedup-lines",
        "--source", "jdbc:postgresql://h/db#t", "--dest", "d"))))
  }

  test("dedup-lines counts its kept lines in its write job: the summary is exact in at most 13 Spark jobs") {
    import spark.implicits._
    val work = tmpDir("cli-dedup-lines-cost")
    Seq((0L, "boiler\n  \nalpha", "en"), (1L, "boiler\nbeta\n", "de"),
        (2L, "gamma", "fr"), (3L, null, "it"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$work/in")
    val out = new java.io.ByteArrayOutputStream()
    val (_, jobs) = jobsIn(Console.withOut(out)(run("dedup-lines",
      "--source", s"$work/in", "--dest", s"$work/out")))
    info(s"dedup-lines: $jobs Spark jobs")
    // 5 non-blank lines, boilerplate in 2 docs; 3 lines kept, a NULL text
    // keeps none
    assert(out.toString.trim == s"dedup-lines $work/in: 5 lines, 2 in " +
      s">=2-doc duplicates (measure); dropped 2 line occurrences at " +
      s"min-docs=2 -> $work/out")
    assert(jobs <= 13, s"dedup-lines ran $jobs Spark jobs")
  }

  test("dedup-spans cuts duplicated substrings, keeps other columns, honors min-span") {
    import spark.implicits._
    val work = tmpDir("cli-dedup-spans")
    // docs 0/1 share a 20-char span; doc 2 is clean
    Seq((0L, "ABCDEFGHIJKLMNOPQRSTuuuuuuuuuu", "en"),
        (1L, "xxxxxxxxxxABCDEFGHIJKLMNOPQRST", "de"),
        (2L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "fr"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$work/in")
    run("dedup-spans", "--source", s"$work/in", "--dest", s"$work/out",
      "--report", s"$work/report")
    val out = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"))).sortBy(_._1).toList
    assert(out == List((0L, "uuuuuuuuuu", "en"), (1L, "xxxxxxxxxx", "de"),
      (2L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "fr")))
    val rep = spark.read.parquet(s"$work/report")
    assert(rep.filter(col("doc_id") === 0L).first()
      .getAs[Long]("removed_chars") == 20L)
    // --min-span above the island width keeps everything verbatim
    run("dedup-spans", "--source", s"$work/in", "--dest", s"$work/out2",
      "--min-span", "21")
    assert(spark.read.parquet(s"$work/out2")
      .filter(col("text").contains("ABCDEFGHIJKLMNOPQRST")).count() == 2)
    assertThrows[GraftError.InvalidConfig](
      Main.runDedupSpans(spark, Main.parse(Array("dedup-spans",
        "--source", "jdbc:postgresql://h/db#t", "--dest", "d"))))
  }

  test("neardup containment modes find the asymmetric quote pair, capped by default") {
    import spark.implicits._
    val work = tmpDir("cli-containment")
    val long1 = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    Seq((1L, long1), (2L, "alpha beta gamma delta epsilon zeta"),
        (3L, "totally different words here now"))
      .toDF("doc_id", "text").write.parquet(s"$work/in")
    run("neardup", "--source", s"$work/in", "--dest", s"$work/pairs",
      "--mode", "containment", "--threshold", "1.0")
    val got = spark.read.parquet(s"$work/pairs")
      .select("a_id", "b_id").as[(Long, Long)].collect().toList
    assert(got == List((1L, 2L)), s"got $got")
    // the sampled mode runs end-to-end and emits the estimator schema
    run("neardup", "--source", s"$work/in", "--dest", s"$work/pairs2",
      "--mode", "containment-sampled", "--threshold", "0.5")
    assert(spark.read.parquet(s"$work/pairs2").columns.toSet ==
      Set("a_id", "b_id", "shared_sampled", "n_a_sampled", "n_b_sampled",
        "containment_est"))
  }

  test("dedup-spans keeps null-text rows (keep-every-row contract)") {
    import spark.implicits._
    val work = tmpDir("cli-dedup-spans-null")
    // doc 2 has NULL text: it must ride through to the cleaned corpus
    // (text stays null), not vanish in the join against the span output
    Seq((0L, Some("ABCDEFGHIJKLMNOPQRSTuuuuuuuuuu"), "en"),
        (1L, Some("xxxxxxxxxxABCDEFGHIJKLMNOPQRST"), "de"),
        (2L, None: Option[String], "fr"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$work/in")
    run("dedup-spans", "--source", s"$work/in", "--dest", s"$work/out")
    val out = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[String]("text")), r.getAs[String]("lang")))
      .sortBy(_._1).toList
    assert(out == List((0L, Some("uuuuuuuuuu"), "en"),
      (1L, Some("xxxxxxxxxx"), "de"), (2L, None, "fr")), s"got $out")
  }

  test("diff on two empty snapshots prints 0 ids instead of NPEing") {
    import spark.implicits._
    val work = tmpDir("cli-diff-empty")
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$work/prev")
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(s"$work/next")
    // the summary after a successful zero-row write must not NPE on the
    // NULL sums
    run("diff", "--source", s"$work/next", "--base", s"$work/prev",
      "--dest", s"$work/out")
    assert(spark.read.parquet(s"$work/out").count() == 0)
  }

  test("diff classifies snapshot changes and requires --base") {
    import spark.implicits._
    val work = tmpDir("cli-diff")
    Seq((0L, "same"), (1L, "old"), (2L, "goes away"))
      .toDF("doc_id", "text").write.parquet(s"$work/prev")
    Seq((0L, "same"), (1L, "new"), (3L, "arrives"))
      .toDF("doc_id", "text").write.parquet(s"$work/next")
    run("diff", "--source", s"$work/next", "--base", s"$work/prev",
      "--dest", s"$work/out")
    val got = spark.read.parquet(s"$work/out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "unchanged", 1L -> "modified",
      2L -> "removed", 3L -> "added"))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("diff", "--source", "s", "--dest", "d")))
  }

  test("agg folds watermark slices into a rollup that equals the one-shot groupBy") {
    import spark.implicits._
    val work = tmpDir("cli-agg")
    val rollup = s"$work/rollup"
    // first batch arrives, gets folded through its max
    Seq((10L, "a", 1.5), (20L, "b", 2.0), (30L, "a", -1.0))
      .toDF("us", "grp", "v").write.parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", rollup,
      "--by", "grp", "--watermark", "us", "--value-col", "v")
    assert(graft.sync.AggMaintenance.watermark(spark, rollup).contains(31L))
    // re-invoking on an unchanged source is the replay/up-to-date no-op
    run("agg", "--source", s"$work/src", "--dest", rollup,
      "--by", "grp", "--watermark", "us", "--value-col", "v")
    // late-arriving batch extends the source; the next run folds ONLY it
    Seq((40L, "b", 4.25), (50L, "c", 9.0)).toDF("us", "grp", "v")
      .write.mode("append").parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", rollup,
      "--by", "grp", "--watermark", "us", "--value-col", "v")
    val got = graft.sync.AggMaintenance.read(spark, rollup)
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (k, c, s0) => k -> ((c, s0)) }.toMap
    assert(got == Map("a" -> ((2L, 0.5)), "b" -> ((2L, 6.25)), "c" -> ((1L, 9.0))))
    // --by is required
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("agg", "--source", "s", "--dest", "d",
        "--watermark", "us")))
    // --partitioned drives the bucket layout end-to-end
    val prollup = s"$work/prollup"
    run("agg", "--source", s"$work/src", "--dest", prollup,
      "--by", "grp", "--watermark", "us", "--value-col", "v",
      "--partitioned", "--buckets", "8")
    val pgot = graft.sync.AggMaintenance.read(spark, prollup)
      .select(col("grp"), col("cnt")).as[(String, Long)].collect().toMap
    assert(pgot == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    assert(new java.io.File(prollup).listFiles()
      .exists(_.getName.startsWith("__bucket=")))
  }

  test("agg --moments / multi-column --value-col drives the v2 lane") {
    import spark.implicits._
    val work = tmpDir("cli-agg-v2")
    Seq((10L, "a", 1.0, 4.0), (20L, "a", 3.0, 8.0), (30L, "b", 5.0, 1.0))
      .toDF("us", "grp", "x", "y").write.parquet(s"$work/src")
    // comma-separated --value-col selects v2 implicitly
    val v2 = s"$work/v2"
    run("agg", "--source", s"$work/src", "--dest", v2,
      "--by", "grp", "--watermark", "us", "--value-col", "x,y")
    val d = graft.sync.AggMaintenance.readDerived(spark, v2)
      .select(col("grp"), col("cnt"), col("avg_x"), col("var_x"),
        col("avg_y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4))))
      .toMap
    assert(d("a") == ((2L, 2.0, Some(2.0), 6.0))) // var_samp{1,3} = 2
    assert(d("b") == ((1L, 5.0, None, 1.0)))      // n=1 → var NULL
    // replay no-op then a late batch folds incrementally (the cron loop)
    Seq((40L, "b", 7.0, 3.0)).toDF("us", "grp", "x", "y")
      .write.mode("append").parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", v2,
      "--by", "grp", "--watermark", "us", "--value-col", "x,y")
    val b2 = graft.sync.AggMaintenance.readDerived(spark, v2)
      .filter(col("grp") === "b").select("cnt", "avg_x", "var_x")
      .collect().head
    assert(b2.getLong(0) == 2 && b2.getDouble(1) == 6.0 &&
      b2.getDouble(2) == 2.0) // var_samp{5,7} = 2
    // --moments forces v2 for a single column
    val v2b = s"$work/v2single"
    run("agg", "--source", s"$work/src", "--dest", v2b,
      "--by", "grp", "--watermark", "us", "--value-col", "x", "--moments")
    assert(graft.sync.AggMaintenance.readDerived(spark, v2b)
      .columns.contains("var_x"))
    // --partitioned + v2 rides the bucket layout end-to-end
    val vp = s"$work/vp"
    run("agg", "--source", s"$work/src", "--dest", vp,
      "--by", "grp", "--watermark", "us", "--value-col", "x,y",
      "--partitioned", "--buckets", "8")
    assert(new java.io.File(vp).listFiles()
      .exists(_.getName.startsWith("__bucket=")))
    val pb = graft.sync.AggMaintenance.readDerived(spark, vp)
      .filter(col("grp") === "b").select("cnt", "avg_x").collect().head
    assert(pb.getLong(0) == 2 && pb.getDouble(1) == 6.0)
    // and a v1 partitioned apply refuses the v2-partitioned stamp (the
    // source grows first — an up-to-date invocation early-returns before
    // any lane touches the stamp)
    Seq((50L, "c", 1.0, 1.0)).toDF("us", "grp", "x", "y")
      .write.mode("append").parquet(s"$work/src")
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", vp,
        "--by", "grp", "--watermark", "us", "--value-col", "x",
        "--partitioned", "--buckets", "8"))
    // a malformed multi-column list (trailing comma — the typo that would
    // otherwise silently select the v1 single-column lane) refuses loud
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vbad",
        "--by", "grp", "--watermark", "us", "--value-col", "x,"))
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vbad",
        "--by", "grp", "--watermark", "us", "--value-col", ""))
  }

  test("agg --key drives the keyed last-writer-wins lane; rebucket grows a layout") {
    import spark.implicits._
    val work = tmpDir("cli-agg-keyed")
    Seq((10L, 1L, "a", 1.0), (20L, 2L, "a", 2.0), (30L, 3L, "b", 4.0))
      .toDF("us", "k", "grp", "v").write.parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyed",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v")
    // key 1 re-arrives with a new value — REPLACES, never double-counts
    Seq((40L, 1L, "a", 10.0)).toDF("us", "k", "grp", "v")
      .write.mode("append").parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyed",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v")
    val d = graft.sync.AggMaintenance.read(spark, s"$work/keyed")
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(d == Map("a" -> ((2L, 12.0)), "b" -> ((1L, 4.0))))
    // one rollup holds one lane: --key beside any append-only lane flag
    // refuses
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v", "--moments"))
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--key", "k",
        "--distinct", "grp"))
    // --key + --partitioned drives the bucketed keyed lane end-to-end and
    // must read identically to the flat keyed rollup above
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyedp",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--partitioned", "--buckets", "4", "--kbuckets", "8")
    val dp = graft.sync.AggMaintenance.read(spark, s"$work/keyedp")
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(dp == d)
    assert(new java.io.File(s"$work/keyedp").listFiles()
      .exists(_.getName.startsWith("__bucket=")))
    assert(new java.io.File(s"$work/keyedp/_GRAFT_AGG_STATE").listFiles()
      .exists(_.getName.startsWith("__kbucket=")))
    // keyed MOMENTS: --key + --moments + --partitioned maintains
    // retraction-capable cnt/cntv/sum/sumsq; avg derives via readDerived
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyedm",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--moments", "--partitioned", "--buckets", "4")
    val dm = graft.sync.AggMaintenance.readDerived(spark, s"$work/keyedm")
      .select(col("grp"), col("cnt"), col("avg_v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(dm == Map("a" -> ((2L, 6.0)), "b" -> ((1L, 4.0))))
    // keyed moments without --partitioned refuses (flat keyed moments
    // would be O(mirror) per slice — partitioned-only by design)
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
        "--moments"))
    // --kbuckets outside the keyed partitioned lane refuses (a silently
    // ignored sizing flag would hide a misconfigured invocation)
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--value-col", "v",
        "--partitioned", "--kbuckets", "8"))
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
        "--kbuckets", "8"))
    // --tombstone drives keyed CDC deletes end-to-end: key 1's delete
    // marker removes it from the mirror (and the flag refuses without
    // --key — nothing to retract in the append-only lanes)
    Seq((50L, 2L, "a", 0.0, true)).toDF("us", "k", "grp", "v", "del")
      .write.mode("append").parquet(s"$work/srcdel")
    Seq((10L, 1L, "a", 1.0, false), (20L, 2L, "a", 2.0, false),
      (30L, 3L, "b", 4.0, false))
      .toDF("us", "k", "grp", "v", "del")
      .write.mode("append").parquet(s"$work/srcdel")
    run("agg", "--source", s"$work/srcdel", "--dest", s"$work/keyedt",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--tombstone", "del")
    val dt = graft.sync.AggMaintenance.read(spark, s"$work/keyedt")
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(dt == Map("a" -> ((1L, 1.0)), "b" -> ((1L, 4.0))),
      s"tombstoned key must be absent: $dt")
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/srcdel", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--value-col", "v",
        "--tombstone", "del"))
    // --minmax is a teaching flag: the keyed arm routes to the a20
    // composition (readKeyedMinMax over a (G, value)-grouped rollup),
    // the append-only arm says v1 maintains min/max already
    val keyedMinmax = intercept[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
        "--minmax"))
    assert(keyedMinmax.getMessage.contains("readKeyedMinMax"))
    val v1Minmax = intercept[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/kx",
        "--by", "grp", "--watermark", "us", "--value-col", "v", "--minmax"))
    assert(v1Minmax.getMessage.contains("maintains min/max already"))
    // default --kbuckets on a WARM keyed-partitioned rollup comes from
    // the stored stamp (kbuckets=8 here), not the 4×--buckets derivation
    // (which would be 16 and hit the foreign-parameterization refusal) —
    // a default-flag steady-state apply must keep working
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyedp",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--partitioned", "--buckets", "4")
    // and after a rollup-only rebucket (state kbuckets kept at 8), the
    // stamp still drives the default — the ADVICE r14 trap was exactly a
    // default-flag apply refusing forever after `rebucket --buckets N`
    run("rebucket", "--dest", s"$work/keyedp", "--buckets", "8")
    run("agg", "--source", s"$work/src", "--dest", s"$work/keyedp",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--partitioned", "--buckets", "8")
    assert(graft.sync.AggMaintenance.read(spark, s"$work/keyedp")
      .select(col("grp"), col("cnt"), col("sum_val").cast("double"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap == d)

    // rebucket: grow a partitioned rollup's bucket count, chain continues
    val pr = s"$work/part"
    run("agg", "--source", s"$work/src", "--dest", pr,
      "--by", "grp", "--watermark", "us", "--value-col", "v", "--partitioned", "--buckets", "4")
    val before = graft.sync.AggMaintenance.read(spark, pr)
      .collect().map(_.toString).toSet
    run("rebucket", "--dest", pr, "--buckets", "16")
    assert(graft.sync.AggMaintenance.read(spark, pr)
      .collect().map(_.toString).toSet == before)
    // old bucket count now refuses; the new one folds the next batch
    Seq((50L, 4L, "c", 7.0)).toDF("us", "k", "grp", "v")
      .write.mode("append").parquet(s"$work/src")
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", pr,
        "--by", "grp", "--watermark", "us", "--value-col", "v", "--partitioned",
        "--buckets", "4"))
    run("agg", "--source", s"$work/src", "--dest", pr,
      "--by", "grp", "--watermark", "us", "--value-col", "v", "--partitioned", "--buckets", "16")
    assert(graft.sync.AggMaintenance.read(spark, pr).count() == 3)
    // --buckets is REQUIRED for rebucket (no silent default relabeling)
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("rebucket", "--dest", pr)))
  }

  test("agg-read serves every lane: plain, derived, and the keyed compositions") {
    import spark.implicits._
    val work = tmpDir("cli-agg-read")
    Seq((10L, 1L, "a", 2.0, 1.0), (20L, 2L, "a", 9.0, 1.0),
      (30L, 3L, "b", 4.0, 1.0))
      .toDF("us", "k", "grp", "v", "one").write.parquet(s"$work/src")
    // v1 flat rollup → plain read (default mode)
    run("agg", "--source", s"$work/src", "--dest", s"$work/v1",
      "--by", "grp", "--watermark", "us", "--value-col", "v")
    run("agg-read", "--source", s"$work/v1", "--dest", s"$work/out_plain")
    val plain = spark.read.parquet(s"$work/out_plain")
    assert(plain.count() == 2 && plain.columns.contains("sum_val"))
    // keyed moments → derived read (avg/var chain)
    run("agg", "--source", s"$work/src", "--dest", s"$work/km",
      "--by", "grp", "--watermark", "us", "--key", "k", "--value-col", "v",
      "--moments", "--partitioned", "--buckets", "4")
    run("agg-read", "--source", s"$work/km", "--dest", s"$work/out_der",
      "--mode", "derived")
    assert(spark.read.parquet(s"$work/out_der").columns.contains("avg_v"))
    // keyed rollup grouped by (grp, v) with a constant measure — the
    // composition shape the --key refusal matrix teaches
    run("agg", "--source", s"$work/src", "--dest", s"$work/kc",
      "--by", "grp,v", "--watermark", "us", "--key", "k",
      "--value-col", "one")
    run("agg-read", "--source", s"$work/kc", "--dest", s"$work/out_mm",
      "--mode", "minmax", "--by", "grp", "--value-col", "v")
    val mm = spark.read.parquet(s"$work/out_mm")
      .select("grp", "min_v", "max_v", "cnt").collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(mm == Map("a" -> ((2.0, 9.0, 2L)), "b" -> ((4.0, 4.0, 1L))))
    run("agg-read", "--source", s"$work/kc", "--dest", s"$work/out_dc",
      "--mode", "distinct", "--by", "grp")
    val dc = spark.read.parquet(s"$work/out_dc")
      .select("grp", "distinct_groups").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dc == Map("a" -> 2L, "b" -> 1L))
    // mode-scoped flag refusals: nothing silently ignorable
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/kc", "--dest", s"$work/x",
        "--mode", "minmax", "--by", "grp")) // no --value-col
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/kc", "--dest", s"$work/x",
        "--mode", "distinct")) // no --by
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/v1", "--dest", s"$work/x",
        "--by", "grp")) // --by on plain
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/v1", "--dest", s"$work/x",
        "--mode", "distinct", "--by", "grp", "--value-col", "v"))
    // agg's APPLY-lane flags refuse on a read (the user meant --mode)
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/kc", "--dest", s"$work/x",
        "--minmax"))
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/kc", "--dest", s"$work/x",
        "--distinct", "v"))
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/kc", "--dest", s"$work/x",
        "--tombstone", "del"))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("agg-read", "--source", "s", "--dest", "d",
        "--mode", "fuzzy")))
    // composition reads refuse non-keyed rollups typed (library guard
    // surfaces through the verb)
    assertThrows[GraftError.InvalidConfig](
      run("agg-read", "--source", s"$work/v1", "--dest", s"$work/x",
        "--mode", "distinct", "--by", "grp"))
  }

  test("span-index drives build, append, and the admission probe") {
    import spark.implicits._
    val work = tmpDir("cli-span-index")
    Seq((1L, "ABCDEFGHIJKLMNOPQRSTuuuuuuuuuu"),
      (3L, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text").write.parquet(s"$work/base1")
    Seq((4L, "shorttext")).toDF("doc_id", "text")
      .write.parquet(s"$work/base2")
    Seq((10L, "xxxxxxxxxxABCDEFGHIJKLMNOPQRST"), // base span hit [11,30]
      (12L, "shorttext"))                        // hit only after append
      .toDF("doc_id", "text").write.parquet(s"$work/batch")
    run("span-index", "--source", s"$work/base1", "--dest", s"$work/idx")
    run("span-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/cov1")
    def cov(p: String) = spark.read.parquet(p)
      .select("doc_id", "covered_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cov(s"$work/cov1") == Map(10L -> 20L, 12L -> 0L))
    run("span-index", "--mode", "append", "--source", s"$work/base2",
      "--dest", s"$work/idx")
    run("span-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/cov2")
    assert(cov(s"$work/cov2") == Map(10L -> 20L, 12L -> 9L),
      "appended base2 must make the short doc a whole-text hit")
    // probe without --base refuses; jdbc paths refuse
    assertThrows[GraftError.InvalidConfig](
      run("span-index", "--mode", "probe", "--source", s"$work/batch",
        "--dest", s"$work/x"))
    assertThrows[GraftError.InvalidConfig](
      run("span-index", "--source", "jdbc:postgresql://h/db#t",
        "--dest", s"$work/x"))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("span-index", "--source", "s", "--dest", "d",
        "--mode", "rebuild")))
    // buckets above the engine cap fail TYPED at parse, like agg/rebucket
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("span-index", "--source", "s", "--dest", "d",
        "--buckets", "70000")))
  }

  test("dhash-index build and append take --bands 2 without a --max-hamming; the probe checks it") {
    import graft.ext.Multimodal
    val work = tmpDir("cli-dhash-bands2")
    val ids = spark.range(0, 10).select(col("id").as("doc_id"))
    Multimodal.plantedNoisePngMedia(ids.filter(col("doc_id") < 5), "doc_id")
      .write.parquet(s"$work/base1")
    Multimodal.plantedNoisePngMedia(ids.filter(col("doc_id") >= 5), "doc_id")
      .write.parquet(s"$work/base2")
    // build/append never read maxHamming: its default (3) is not >= 2
    // bands' business until a probe runs
    run("dhash-index", "--mode", "build", "--source", s"$work/base1",
      "--dest", s"$work/idx", "--bands", "2")
    run("dhash-index", "--mode", "append", "--source", s"$work/base2",
      "--dest", s"$work/idx", "--bands", "2")
    // the probe refuses the default against the index's frozen 2 bands
    val e = intercept[GraftError.InvalidConfig](
      run("dhash-index", "--mode", "probe", "--source", s"$work/base1",
        "--base", s"$work/idx", "--dest", s"$work/p"))
    assert(e.getMessage.contains("banded 2-way"), e.getMessage)
    run("dhash-index", "--mode", "probe", "--source", s"$work/base1",
      "--base", s"$work/idx", "--dest", s"$work/p", "--max-hamming", "1")
    assert(spark.read.parquet(s"$work/p").count() >= 5L)
  }

  test("dhash-index drives build, append, and the hamming probe") {
    import graft.ext.Multimodal
    val work = tmpDir("cli-dhash-index")
    val ids = spark.range(0, 30).select(col("id").as("doc_id"))
    Multimodal.plantedNoisePngMedia(ids.filter(col("doc_id") < 20), "doc_id")
      .write.parquet(s"$work/base1")
    Multimodal.plantedNoisePngMedia(ids.filter(col("doc_id") >= 20), "doc_id")
      .write.parquet(s"$work/base2")
    // probe = grid-aligned 2x resized copies of EVERY id under shifted
    // ids: base ids match after build, appended ids only after append
    Multimodal.resizeImages(
        Multimodal.plantedNoisePngMedia(ids, "doc_id"), 36, 32)
      .withColumn("media_id", col("media_id") + 1000)
      .write.parquet(s"$work/batch")
    run("dhash-index", "--source", s"$work/base1", "--dest", s"$work/idx")
    def pairs(p: String) = spark.read.parquet(p)
      .select("base_id", "q_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    run("dhash-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/p1")
    assert(pairs(s"$work/p1") == (0L until 20L).map(i => (i, i + 1000)).toSet)
    run("dhash-index", "--mode", "append", "--source", s"$work/base2",
      "--dest", s"$work/idx")
    run("dhash-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/p2")
    assert(pairs(s"$work/p2") == (0L until 30L).map(i => (i, i + 1000)).toSet,
      "appended generation must be searchable")
    // refusal matrix: probe without --base; bands not dividing 64;
    // max-hamming >= bands; jdbc paths
    assertThrows[GraftError.InvalidConfig](
      run("dhash-index", "--mode", "probe", "--source", s"$work/batch",
        "--dest", s"$work/x"))
    assertThrows[GraftError.InvalidConfig](
      run("dhash-index", "--source", s"$work/base1", "--dest", s"$work/x",
        "--bands", "5"))
    assertThrows[GraftError.InvalidConfig](
      run("dhash-index", "--mode", "probe", "--source", s"$work/batch",
        "--base", s"$work/idx", "--dest", s"$work/x",
        "--bands", "4", "--max-hamming", "4"))
    assertThrows[GraftError.InvalidConfig](
      run("dhash-index", "--source", "jdbc:postgresql://h/db#t",
        "--dest", s"$work/x"))
  }

  test("ahash-index drives build, append, and the hamming probe; modalities refuse to mix") {
    import spark.implicits._
    import graft.ext.Multimodal
    val work = tmpDir("cli-ahashidx")
    val ids = spark.range(0, 30).select(col("id").as("doc_id"))
    Multimodal.plantedNoisePcmMedia(ids.filter(col("doc_id") < 20), "doc_id")
      .write.parquet(s"$work/base1")
    Multimodal.plantedNoisePcmMedia(ids.filter(col("doc_id") >= 20), "doc_id")
      .write.parquet(s"$work/base2")
    // probe = 2x resampled copies of EVERY id under shifted ids: base
    // ids match after build, appended ids only after append
    Multimodal.resamplePcm(
        Multimodal.plantedNoisePcmMedia(ids, "doc_id"), 2)
      .withColumn("media_id", col("media_id") + 1000)
      .write.parquet(s"$work/batch")
    run("ahash-index", "--source", s"$work/base1", "--dest", s"$work/idx")
    def pairs(p: String) = spark.read.parquet(p)
      .select("base_id", "q_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    run("ahash-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/p1")
    assert(pairs(s"$work/p1") == (0L until 20L).map(i => (i, i + 1000)).toSet)
    run("ahash-index", "--mode", "append", "--source", s"$work/base2",
      "--dest", s"$work/idx")
    run("ahash-index", "--mode", "probe", "--source", s"$work/batch",
      "--base", s"$work/idx", "--dest", s"$work/p2")
    assert(pairs(s"$work/p2") == (0L until 30L).map(i => (i, i + 1000)).toSet,
      "appended generation must be searchable")
    // an audio index is not an image index: the dhash verb refuses the
    // ahash stamp typed instead of silently missing everything
    assertThrows[GraftError.InvalidConfig](
      run("dhash-index", "--mode", "probe", "--source", s"$work/batch",
        "--base", s"$work/idx", "--dest", s"$work/x"))
  }

  test("agg --distinct drives the v3 sketch lane, flat and partitioned") {
    import spark.implicits._
    val work = tmpDir("cli-agg-v3")
    Seq((10L, "a", 1L), (20L, "a", 2L), (30L, "b", 2L), (40L, "a", 1L))
      .toDF("us", "grp", "user").write.parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", s"$work/v3",
      "--by", "grp", "--watermark", "us", "--distinct", "user")
    val d = graft.sync.AggMaintenance.readDistinct(spark, s"$work/v3")
      .select("grp", "cnt", "approx_distinct_user")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d == Map("a" -> ((3L, 2L)), "b" -> ((1L, 1L))))
    run("agg", "--source", s"$work/src", "--dest", s"$work/v3p",
      "--by", "grp", "--watermark", "us", "--distinct", "user",
      "--partitioned", "--buckets", "8")
    assert(new java.io.File(s"$work/v3p").listFiles()
      .exists(_.getName.startsWith("__bucket=")))
    // one rollup holds one lane: --distinct + --moments refuses up front,
    // and so does an EXPLICIT --value-col (silently ignoring it would
    // build a different rollup than asked for)
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vx",
        "--by", "grp", "--watermark", "us", "--distinct", "user",
        "--moments"))
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vx",
        "--by", "grp", "--watermark", "us", "--distinct", "user",
        "--value-col", "user"))
    // a --distinct that names no columns refuses instead of silently
    // falling through to the v1 lane
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vx",
        "--by", "grp", "--watermark", "us", "--distinct", ","))
    // and a trailing comma refuses too — dropping the empty segment would
    // quietly maintain fewer sketch columns than asked for
    assertThrows[GraftError.InvalidConfig](
      run("agg", "--source", s"$work/src", "--dest", s"$work/vx",
        "--by", "grp", "--watermark", "us", "--distinct", "user,"))
  }

  test("reconcile reports orphans, --apply drops them, requires --key") {
    import spark.implicits._
    val work = tmpDir("cli-reconcile")
    Seq((1L, "a"), (2L, "b")).toDF("event_id", "v")
      .write.parquet(s"$work/src")
    Seq((1L, "a"), (2L, "b"), (3L, "orphan"), (4L, "orphan"))
      .toDF("event_id", "v").write.parquet(s"$work/dest")
    // report-only: dest untouched, report written
    run("reconcile", "--source", s"$work/src", "--dest", s"$work/dest",
      "--key", "event_id", "--report", s"$work/orphans")
    assert(spark.read.parquet(s"$work/orphans").as[Long].collect().sorted
      .toList == List(3L, 4L))
    assert(spark.read.parquet(s"$work/dest").count() == 4)
    // --apply: staged rewrite drops exactly the orphans
    run("reconcile", "--source", s"$work/src", "--dest", s"$work/dest",
      "--key", "event_id", "--apply")
    assert(spark.read.parquet(s"$work/dest")
      .select("event_id").as[Long].collect().sorted.toList == List(1L, 2L))
    assertThrows[GraftError.InvalidConfig](
      Main.runReconcile(spark, Main.parse(Array("reconcile",
        "--source", "s", "--dest", "d"))))
  }

  test("reconcile with a JDBC destination deletes orphans via batched DELETE") {
    import spark.implicits._
    val work = tmpDir("cli-reconcile-jdbc")
    Seq((1L, "a"), (2L, "b")).toDF("event_id", "v")
      .write.parquet(s"$work/src")
    val url = s"jdbc:derby:memory:clirc${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE DEST (EVENT_ID BIGINT PRIMARY KEY, V VARCHAR(10))")
      Seq(1L, 2L, 3L, 4L).foreach(i =>
        st.executeUpdate(s"INSERT INTO DEST VALUES ($i, 'x')"))
      st.close()
      run("reconcile", "--source", s"$work/src", "--dest", s"$url#DEST",
        "--key", "EVENT_ID", "--apply")
      val rs = conn.createStatement()
        .executeQuery("SELECT EVENT_ID FROM DEST ORDER BY EVENT_ID")
      val left = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getLong(1)).toList
      assert(left == List(1L, 2L), s"got $left")
    } finally conn.close()
  }

  test("reconcile over a JDBC source reports, applies into parquet, and refuses a missing source table typed") {
    import spark.implicits._
    val work = tmpDir("cli-reconcile-jdbc-src")
    Seq((1L, "a"), (2L, "b"), (3L, "orphan"), (4L, "orphan"))
      .toDF("event_id", "v").write.parquet(s"$work/dest")
    val url = s"jdbc:derby:memory:clircsrc${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE SRC (EVENT_ID BIGINT PRIMARY KEY, V VARCHAR(10))")
      Seq(1L, 2L).foreach(i =>
        st.executeUpdate(s"INSERT INTO SRC VALUES ($i, 'x')"))
      st.close()
      def reconcile(table: String, more: String*) =
        run(Seq("reconcile", "--source", s"$url#$table", "--dest",
          s"$work/dest", "--key", "event_id") ++ more: _*)
      // report-only: the orphans are reported, the dest is untouched
      reconcile("SRC", "--report", s"$work/orphans")
      assert(spark.read.parquet(s"$work/orphans").as[Long].collect().sorted
        .toList == List(3L, 4L))
      assert(spark.read.parquet(s"$work/dest").count() == 4)
      reconcile("SRC", "--apply")
      assert(spark.read.parquet(s"$work/dest")
        .select("event_id").as[Long].collect().sorted.toList == List(1L, 2L))
      // a GraftError: the CLI exits 2, as sync and agg do
      assertThrows[GraftError.MissingTable](reconcile("NOPE"))
    } finally conn.close()
  }

  test("bpe-train writes the merge table; tokenize applies it") {
    import spark.implicits._
    val work = tmpDir("cli-bpe")
    Seq((0L, "aaab aaab"), (1L, "ab"), (2L, "x aaab"))
      .toDF("doc_id", "text").write.parquet(s"$work/in")
    run("bpe-train", "--source", s"$work/in", "--dest", s"$work/merges",
      "--merges", "3")
    val merges = spark.read.parquet(s"$work/merges")
      .orderBy("round").collect().map(_.getString(1)).toList
    assert(merges == List("a a", "a b", "aa ab"), s"got $merges")
    run("tokenize", "--source", s"$work/in", "--base", s"$work/merges",
      "--dest", s"$work/out")
    val got = spark.read.parquet(s"$work/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toList
    assert(got == List((0L, 2L, 2L), (1L, 1L, 1L), (2L, 2L, 2L)), s"got $got")
    // --merges is required for training, --base for tokenize
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("bpe-train", "--source", "s", "--dest", "d")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("tokenize", "--source", "s", "--dest", "d")))
  }

  test("arg validation fails TYPED, not with a raw exception") {
    assertThrows[GraftError.InvalidConfig](Main.parse(Array("frobnicate")))
    // the usage text an operator actually reads must carry the object-
    // store sidecar story (SidecarIO's no-AbstractFileSystem fallback is
    // now a staged two-phase commit — readers see a committed value at
    // every crash point)
    val usage = intercept[GraftError.InvalidConfig](
      Main.parse(Array("frobnicate"))).getMessage
    assert(usage.contains("two-phase commit"),
      "usage text must surface the object-store sidecar commit story")
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("neardup", "--source", "s", "--dest", "d",
        "--mode", "fuzzy")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("semantic-dedup", "--source", "s", "--dest", "d",
        "--threshold", "1.5")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("quality", "--source", "s", "--dest", "d",
        "--min-tokens", "9", "--max-tokens", "3")))
    // defaults: semantic-dedup keys on vec_id, text verbs on doc_id
    assert(Main.parse(Array("semantic-dedup", "--source", "s",
      "--dest", "d")).idCol == "vec_id")
    assert(Main.parse(Array("neardup", "--source", "s",
      "--dest", "d")).idCol == "doc_id")
    // admit requires --base; decontaminate requires --benchmark
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("admit", "--source", "s", "--dest", "d")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("decontaminate", "--source", "s", "--dest", "d")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("admit", "--source", "s", "--base", "b",
        "--dest", "d", "--fpp", "1.5")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("decontaminate", "--source", "s", "--benchmark", "b",
        "--dest", "d", "--max-contamination", "2")))
    // layout requires --by; spans defaults to 16-char windows while
    // decontaminate keeps 3-token shingles under the same flag — unless
    // its span mode flips the measure to char windows
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("layout", "--source", "s", "--dest", "d")))
    assert(Main.parse(Array("spans", "--source", "s", "--dest", "d"))
      .ngramN == 16)
    assert(Main.parse(Array("decontaminate", "--source", "s",
      "--benchmark", "b", "--dest", "d")).ngramN == 3)
    assert(Main.parse(Array("decontaminate", "--source", "s",
      "--benchmark", "b", "--dest", "d", "--mode", "span")).ngramN == 16)
    // mode vocab is verb-scoped: span is decontaminate-only
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("decontaminate", "--source", "s", "--benchmark", "b",
        "--dest", "d", "--mode", "minhash")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("neardup", "--source", "s", "--dest", "d",
        "--mode", "span")))
    assert(Main.parse(Array("layout", "--source", "s", "--dest", "d",
      "--by", "ts", "--key", "id")).buckets == 16)
  }

  test("pipeline chains spans→lines→quality→decontaminate→mix→pack end-to-end") {
    val work = tmpDir("cli-pipeline")
    // a benchmark disjoint from nothing — drawn FROM the corpus, so the
    // decontamination stage has real overlap to act on
    spark.read.parquet(s"$sfDir/documents.parquet")
      .limit(20).select("doc_id", "text")
      .write.parquet(s"$work/bench")
    run("pipeline", "--source", s"$sfDir/documents.parquet",
      "--benchmark", s"$work/bench", "--dest", s"$work/out",
      "--by", "lang", "--alpha", "0.5", "--target-tokens", "20000",
      "--min-tokens", "5", "--min-span", "100",
      "--max-contamination", "0.5", "--shards", "4", "--capacity", "64")
    // every stage left its parquet working dir behind (restartability)
    val stages = Seq("01_despanned", "02_delined", "03_quality",
      "04_decontaminated", "05_mixed", "06_packed")
    stages.foreach(s => assert(
      spark.read.parquet(s"$work/out/$s").count() > 0, s"stage $s empty"))
    val in = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // span/line removal keep every row (transforms, not filters)
    assert(spark.read.parquet(s"$work/out/01_despanned").count() == in)
    assert(spark.read.parquet(s"$work/out/02_delined").count() == in)
    // the gated stages only ever shrink, in order
    val counts = Seq("03_quality", "04_decontaminated", "05_mixed")
      .map(s => spark.read.parquet(s"$work/out/$s").count())
    assert(counts.zip(in +: counts).forall { case (c, prev) => c <= prev },
      s"stage counts must be monotone non-increasing: in=$in $counts")
    // the packed layout covers exactly the mixed survivors, within capacity
    val packed = spark.read.parquet(s"$work/out/06_packed")
    assert(packed.count() == counts.last)
    assert(packed.columns.toSet ==
      Set("doc_id", "shard", "n_tokens", "pack_id"))
    val overCap = packed.groupBy("shard", "pack_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .filter(col("t") > 64L && col("n") > 1L).count()
    assert(overCap == 0L, "a multi-doc pack exceeded --capacity")
    // stage params are the verbs' production defaults: spans cut 16-char
    // windows at >= --min-span; the despanned text is never longer
    val grew = spark.read.parquet(s"$work/out/01_despanned")
      .select(col("doc_id"), length(col("text")).as("l"))
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("l0")), "doc_id")
      .filter(col("l") > col("l0")).count()
    assert(grew == 0L, "span removal must never grow a text")
    // config surface: benchmark and by are required, capacity validates
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("pipeline", "--source", "s", "--dest", "d",
        "--by", "lang")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("pipeline", "--source", "s", "--benchmark", "b",
        "--dest", "d")))
    assertThrows[GraftError.InvalidConfig](
      Main.parse(Array("pipeline", "--source", "s", "--benchmark", "b",
        "--dest", "d", "--by", "lang", "--capacity", "0")))
    // a missing mix mode must refuse BEFORE stage 1 runs (four stages of
    // real work would otherwise burn before runMix's own check fires) —
    // no working dir may exist after the refusal
    val early = s"$work/early"
    assertThrows[GraftError.InvalidConfig](
      Main.runPipeline(spark, Main.parse(Array("pipeline",
        "--source", s"$sfDir/documents.parquet",
        "--benchmark", s"$work/bench", "--dest", early, "--by", "lang"))))
    assert(!new java.io.File(early).exists(),
      "a refused pipeline must not have started stage 1")
    // a typo'd --benchmark path refuses at t=0 too — stage 4 would
    // otherwise be the first to touch it, after three stages of work
    val earlyB = s"$work/earlyB"
    val exBench = intercept[GraftError.InvalidConfig](
      Main.runPipeline(spark, Main.parse(Array("pipeline",
        "--source", s"$sfDir/documents.parquet",
        "--benchmark", s"$work/no-such-bench", "--dest", earlyB,
        "--by", "lang", "--quota-tokens", "1000"))))
    assert(exBench.getMessage.contains("benchmark"), exBench.getMessage)
    assert(!new java.io.File(earlyB).exists())
    // a string-keyed corpus refuses at t=0: the pack stage keys bins on
    // try_cast(id AS bigint) and would otherwise silently drop EVERY row
    // after five stages of real work — empty final artifact, exit 0
    locally {
      import spark.implicits._
      Seq(("doc-a", "alpha beta gamma", "en"), ("doc-b", "delta", "en"))
        .toDF("doc_id", "text", "lang").write.parquet(s"$work/strids")
    }
    val earlyS = s"$work/earlyS"
    val exIds = intercept[GraftError.InvalidConfig](
      Main.runPipeline(spark, Main.parse(Array("pipeline",
        "--source", s"$work/strids", "--benchmark", s"$work/bench",
        "--dest", earlyS, "--by", "lang", "--quota-tokens", "1000"))))
    assert(exIds.getMessage.contains("bigint-castable"), exIds.getMessage)
    assert(!new java.io.File(earlyS).exists())
    // pipeline's span floor defaults to the Lee-et-al 24; dedup-spans
    // keeps its backward-compatible 0
    assert(Main.parse(Array("pipeline", "--source", "s", "--benchmark", "b",
      "--dest", "d", "--by", "lang")).minSpan == 24)
    assert(Main.parse(Array("dedup-spans", "--source", "s",
      "--dest", "d")).minSpan == 0)
  }

  test("agg over a JDBC source folds like the one-shot groupBy, refuses a missing table typed, and idles with no Spark job") {
    val url = s"jdbc:derby:memory:cliagg${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE EV (US BIGINT, GRP VARCHAR(8), V DOUBLE)")
      def insert(rows: (Long, String, Double)*): Unit = rows.foreach {
        case (us, g, v) =>
          st.executeUpdate(s"INSERT INTO EV VALUES ($us, '$g', $v)"); ()
      }
      val work = tmpDir("cli-agg-jdbc")
      def tick(table: String, rollup: String) =
        run("agg", "--source", s"$url#$table", "--dest", rollup,
          "--by", "GRP", "--watermark", "US", "--value-col", "V")
      insert((10L, "a", 1.5), (20L, "b", 2.0), (30L, "a", -1.0))
      tick("EV", s"$work/rollup")
      insert((40L, "b", 4.25), (50L, "c", 9.0))
      tick("EV", s"$work/rollup")
      val oneShot = spark.read.jdbc(url, "EV", new java.util.Properties())
        .groupBy("GRP").agg(count(lit(1)), sum("V")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val got = graft.sync.AggMaintenance.read(spark, s"$work/rollup")
        .select(col("GRP"), col("cnt"), col("sum_val").cast("double"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got == oneShot && got.size == 3, s"got $got, one-shot $oneShot")
      // the up-to-date tick takes the source bounds from one server-side
      // MIN/MAX statement: no Spark job at all
      val (_, idleJobs) = jobsIn(tick("EV", s"$work/rollup"))
      info(s"up-to-date JDBC agg tick: $idleJobs Spark jobs")
      assert(idleJobs == 0, s"up-to-date tick ran $idleJobs Spark jobs")
      assertThrows[GraftError.MissingTable](tick("NOPE", s"$work/missing"))
    } finally conn.close()
  }

  test("a JDBC agg tick that folds rows runs a pinned number of Spark jobs") {
    val url = s"jdbc:derby:memory:cliaggjobs${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE EV (US BIGINT, GRP VARCHAR(8), V DOUBLE)")
      def insert(rows: (Long, String, Double)*): Unit = rows.foreach {
        case (us, g, v) =>
          st.executeUpdate(s"INSERT INTO EV VALUES ($us, '$g', $v)"); ()
      }
      val rollup = s"${tmpDir("cli-agg-jdbc-jobs")}/rollup"
      def tick() = jobsIn(run("agg", "--source", s"$url#EV", "--dest", rollup,
        "--by", "GRP", "--watermark", "US", "--value-col", "V"))._2
      insert((10L, "a", 1.5), (20L, "b", 2.0), (30L, "a", -1.0))
      val cold = tick()
      insert((40L, "b", 4.25), (50L, "c", 9.0))
      val warm = tick()
      info(s"JDBC agg fold ticks: cold $cold, warm $warm Spark jobs")
      assert(cold == 5 && warm == 6, s"cold $cold, warm $warm")
    } finally conn.close()
  }

  test("agg over a TIMESTAMP-watermarked JDBC source folds its half-open slices exactly") {
    val url = s"jdbc:derby:memory:cliaggts${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE TEV (TS TIMESTAMP, GRP VARCHAR(8), V DOUBLE)")
      def insert(rows: (String, String, Double)*): Unit = rows.foreach {
        case (ts, g, v) =>
          st.executeUpdate(s"INSERT INTO TEV VALUES ('$ts', '$g', $v)"); ()
      }
      val rollup = s"${tmpDir("cli-agg-jdbc-ts")}/rollup"
      def tick() = run("agg", "--source", s"$url#TEV", "--dest", rollup,
        "--by", "GRP", "--watermark", "TS", "--value-col", "V")
      // microsecond neighbours on each side of the first tick's cut, and a
      // sub-µs source MAX just below it: canonical µs truncate it to
      // .000002, so the cut is .000003 and the row must fold in tick one
      insert(("2024-01-01 00:00:00.000001", "a", 1.0),
        ("2024-01-01 00:00:00.000002", "b", 2.0),
        ("2024-01-01 00:00:00.0000025", "b", 16.0))
      tick()
      insert(("2024-01-01 00:00:00.000003", "a", 4.0),
        ("2024-01-02 00:00:00.5", "c", 8.0))
      tick()
      tick() // up to date
      val got = graft.sync.AggMaintenance.read(spark, rollup)
        .select(col("GRP"), col("cnt"), col("sum_val").cast("double"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(got == Map("a" -> ((2L, 5.0)), "b" -> ((2L, 18.0)),
        "c" -> ((1L, 8.0))), s"got $got")
    } finally conn.close()
  }

  test("semantic-dedup runs at most 49 Spark jobs and agg-read --mode plain 1: their counts come from the write job") {
    import spark.implicits._
    val work = tmpDir("cli-observed")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 50).write.parquet(s"$work/emb")
    val (_, semJobs) = jobsIn(
      run("semantic-dedup", "--source", s"$work/emb", "--dest", s"$work/sem"))
    Seq((10L, "a", 1.5), (20L, "b", 2.0)).toDF("us", "grp", "v")
      .write.parquet(s"$work/src")
    run("agg", "--source", s"$work/src", "--dest", s"$work/rollup",
      "--by", "grp", "--watermark", "us", "--value-col", "v")
    val (_, readJobs) = jobsIn(run("agg-read", "--source", s"$work/rollup",
      "--dest", s"$work/plain", "--mode", "plain"))
    info(s"semantic-dedup: $semJobs Spark jobs; agg-read plain: $readJobs")
    assert(spark.read.parquet(s"$work/plain").count() == 2L)
    assert(semJobs <= 49, s"semantic-dedup ran $semJobs Spark jobs")
    assert(readJobs <= 1, s"agg-read --mode plain ran $readJobs Spark jobs")
  }

  test("a JDBC endpoint on an option its verb keeps parquet refuses at parse, naming the option") {
    val t = "jdbc:derby:memory:cliep#T"
    def refusal(argv: String*): String =
      intercept[GraftError.InvalidConfig](Main.parse(argv.toArray)).getMessage
    assert(refusal("agg", "--source", "s", "--dest", t, "--by", "g",
      "--watermark", "w").endsWith("agg applies to parquet paths (--dest)"))
    assert(refusal("tokenize", "--source", "s", "--base", t, "--dest", "d")
      .endsWith("tokenize applies to parquet paths (--base)"))
    assert(refusal("compact", "--dest", t)
      .endsWith("compact applies to parquet paths (--dest)"))
    assert(refusal("pipeline", "--source", "s", "--benchmark", t,
      "--dest", "d", "--by", "lang")
      .endsWith("pipeline applies to parquet paths (--benchmark)"))
    // the verbs that name JDBC tables still parse them
    Main.parse(Array("single", "--source", t, "--dest", t, "--watermark", "w"))
    Main.parse(Array("continuous", "--source", t, "--dest", t,
      "--watermark", "w"))
    Main.parse(Array("reconcile", "--source", t, "--dest", t, "--key", "k"))
    Main.parse(Array("agg", "--source", t, "--dest", "d", "--by", "g",
      "--watermark", "w"))
    // and the usage names a JDBC table for each of them
    val jdbcEp = "(PATH|jdbc:...#table)"
    assert(refusal("nope").contains(s"graft reconcile --source $jdbcEp " +
      s"--dest $jdbcEp --key"))
  }

  test("bounded fractional flags accept each closed bound and refuse each open one and a non-number") {
    // (flag, lower bound accepted, upper bound accepted, interval text)
    val flags = Seq(("jaccard", false, true, "(0,1]"),
      ("threshold", false, true, "(0,1]"), ("fpp", false, false, "(0,1)"),
      ("alpha", true, true, "[0,1]"),
      ("max-contamination", true, true, "[0,1]"))
    def parse(flag: String, v: String) = Main.parse(Array("neardup",
      "--source", "s", "--dest", "d", s"--$flag", v))
    for ((flag, loOk, hiOk, interval) <- flags) {
      for ((v, ok) <- Seq("0" -> loOk, "1" -> hiOk, "-0.5" -> false,
          "1.5" -> false)) {
        if (ok) parse(flag, v)
        else {
          val e = intercept[GraftError.InvalidConfig](parse(flag, v))
          assert(e.getMessage.endsWith(
            s"--$flag must be in $interval, got ${v.toDouble}"), e.getMessage)
        }
      }
      val e = intercept[GraftError.InvalidConfig](parse(flag, "x"))
      assert(e.getMessage.endsWith(
        s"--$flag expects a number in $interval, got 'x'"), e.getMessage)
    }
  }
}
