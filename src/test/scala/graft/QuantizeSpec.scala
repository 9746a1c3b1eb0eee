package graft

import org.apache.spark.sql.functions._

import graft.ext.{Quantize, Similarity}

/** Int8 quantization: the error bound, code range, constant-vector edge,
  * and the property that justifies quantized ANN — cosine top-k on
  * reconstructed vectors stays close to the exact top-k. */
class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("product quantization: valid codes, self-recall, recall vs exact L2") {
    val e = emb
    val model = Quantize.fitPq(e, "embedding", m = 16, k = 16)
    assert(model.codebooks.length == 16 && model.k == 16 && model.dsub == 4)
    val encoded = e.select(col("vec_id"),
      Quantize.encodePq(col("embedding"), model).as("pq"))
    val codes = encoded.select(array_min(col("pq")).as("mn"),
      array_max(col("pq")).as("mx"), size(col("pq")).as("m"))
      .as[(Int, Int, Int)].collect()
    codes.foreach { case (mn, mx, m) =>
      assert(mn >= 0 && mx < 16 && m == 16, s"bad code row ($mn,$mx,$m)")
    }
    // encoding is deterministic: a second fit+encode reproduces the codes
    val model2 = Quantize.fitPq(e, "embedding", m = 16, k = 16)
    val enc2 = e.select(col("vec_id"),
      Quantize.encodePq(col("embedding"), model2).as("pq"))
    assert(encoded.collect().map(_.toString).sorted
      .sameElements(enc2.collect().map(_.toString).sorted))
    // recall against the exact squared-L2 top-10. Raw ADC@10 on these
    // structure-free vectors is weak by nature (~0.4 measured) — the
    // PRODUCTION two-stage probe (ADC pool-50 → exact rerank) is the
    // contract the e2u gate enforces.
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0)
    val exact10 = Similarity.bruteForceTopKL2(e, "vec_id", "embedding",
        query, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq10 = Quantize.pqTopK(encoded, "vec_id", "pq", model, query, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(pq10.intersect(exact10).size >= 2,
      s"raw ADC recall collapsed: ${pq10.intersect(exact10).size}/10")
    assert(pq10.contains(0L), "query vector must find itself via raw ADC")
    val rr10 = Quantize.pqTopKReranked(encoded, "vec_id", "pq",
        e, "embedding", model, query, topK = 10, pool = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(rr10.intersect(exact10).size >= 8,
      s"reranked recall too low: ${rr10.intersect(exact10).size}/10")
    // persisted lifecycle: build → load → probe must equal the in-memory
    // pipeline exactly (same seed, same codes, same rerank)
    val dir = tmpDir("pq-index") + "/idx"
    Quantize.buildPqIndex(e, "vec_id", "embedding", dir, m = 16, k = 16)
    val loaded = Quantize.loadPqModel(spark, dir)
    assert(loaded.m == model.m && loaded.k == model.k &&
      loaded.dsub == model.dsub)
    (0 until model.m).foreach { s =>
      assert(loaded.codebooks(s).map(_.toSeq).toSeq ==
        model.codebooks(s).map(_.toSeq).toSeq, s"codebook $s round trip")
    }
    val probed = Quantize.pqProbe(spark, dir, "vec_id", "embedding",
        query, topK = 10, pool = 50)
      .select("vec_id").as[Long].collect().toSet
    assert(probed == rr10, "persisted probe must equal the in-memory probe")
  }

  test("pq params guard: mismatched expectation or missing sidecar refuses loud") {
    val e = emb
    val dir = tmpDir("pq-guard") + "/idx"
    Quantize.buildPqIndex(e, "vec_id", "embedding", dir, m = 16, k = 16)
    val query = e.filter(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head()
    // matching expectation probes fine
    assert(Quantize.pqProbe(spark, dir, "vec_id", "embedding", query,
      topK = 5, pool = 20).count() == 5)
    // a probe configured for a different m / k / seed must refuse — the
    // shortlist would be built from codebooks the caller's pipeline does
    // not expect (quietly wrong neighbors, the exact failure the
    // _GRAFT_LSH_PARAMS convention exists to kill)
    Seq((8, 16, 42L), (16, 8, 42L), (16, 16, 7L)).foreach { case (m, k, s) =>
      val ex = intercept[IllegalArgumentException](
        Quantize.pqProbe(spark, dir, "vec_id", "embedding", query,
          topK = 5, pool = 20, m = m, k = k, seed = s))
      assert(ex.getMessage.contains("was built with"), ex.getMessage)
    }
    // an index without the params sidecar (foreign provenance) refuses too
    val bare = tmpDir("pq-guard-bare") + "/idx"
    Quantize.buildPqIndex(e, "vec_id", "embedding", bare, m = 16, k = 16)
    new java.io.File(bare, Quantize.PqParamsFile).delete()
    val ex2 = intercept[IllegalArgumentException](
      Quantize.pqProbe(spark, bare, "vec_id", "embedding", query,
        topK = 5, pool = 20))
    assert(ex2.getMessage.contains("no " + Quantize.PqParamsFile),
      ex2.getMessage)
  }

  test("empty build corpus refuses BEFORE writing; stamp migrates old indexes") {
    val e = emb
    // an empty input must fail loud up front, not NPE on the drift
    // aggregate after the index parquet already landed (half-written
    // artifact that pqIndexAppend then refuses)
    val emptyDir = tmpDir("pq-empty") + "/idx"
    val ex = intercept[IllegalArgumentException](
      Quantize.buildPqIndex(e.filter(col("vec_id") < 0L), "vec_id",
        "embedding", emptyDir, m = 16, k = 16))
    assert(ex.getMessage.contains("empty"), ex.getMessage)
    assert(!new java.io.File(emptyDir).exists(),
      "a refused build must not leave a partial index on disk")

    // MIGRATION: an index persisted before the params/stats sidecars
    // (simulated by stripping both) stamps back to fully usable — the
    // recomputed drift baseline equals what buildPqIndex wrote, because
    // both are the mean reconstruction error over the same stored vectors
    val dir = tmpDir("pq-stamp") + "/idx"
    Quantize.buildPqIndex(e, "vec_id", "embedding", dir, m = 16, k = 16)
    val builtStats = graft.core.PersistedIndex.read(spark, dir,
      graft.core.PersistedIndex.PqStats).text
    assert(new java.io.File(dir, Quantize.PqParamsFile).delete())
    assert(new java.io.File(dir, Quantize.PqStatsFile).delete())
    // false (m, k) claims refuse against the persisted codebooks
    val exClaim = intercept[IllegalArgumentException](
      Quantize.stampExistingPqIndex(spark, dir, "embedding", m = 8, k = 16))
    assert(exClaim.getMessage.contains("false provenance"), exClaim.getMessage)
    Quantize.stampExistingPqIndex(spark, dir, "embedding", m = 16, k = 16)
    val stamped = graft.core.PersistedIndex.read(spark, dir,
      graft.core.PersistedIndex.PqStats).text
    // the baseline is re-derived from the same stored vectors, but the
    // index parquet partitions differently than the build corpus, so the
    // double avg's combine order (hence last ulps) may differ — compare
    // the parsed values, not the strings
    def parse(s: String): (Double, Long) = {
      val kv = s.split(",").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
      (kv("mean_err").toDouble, kv("n").toLong)
    }
    val (bErr, bN) = parse(builtStats)
    val (sErr, sN) = parse(stamped)
    assert(sN == bN && math.abs(sErr - bErr) <= 1e-9 * math.max(1.0, bErr),
      s"recomputed baseline [$stamped] != built [$builtStats]")
    // probe and append both work again after the stamp
    val query = e.filter(col("vec_id") === 0L)
      .select("embedding").as[Seq[Float]].head()
    assert(Quantize.pqProbe(spark, dir, "vec_id", "embedding", query,
      topK = 5, pool = 20).count() == 5)
    val st = Quantize.pqIndexAppend(spark, dir, e.limit(1), "vec_id",
      "embedding")
    assert(st.appended == 1L)
    // one-shot: an index with live sidecars refuses a re-stamp
    val exDup = intercept[IllegalArgumentException](
      Quantize.stampExistingPqIndex(spark, dir, "embedding"))
    assert(exDup.getMessage.contains("re-stamp"), exDup.getMessage)
  }

  test("pq append: frozen-codebook encode, drift ledger, guards refuse") {
    val e = emb
    val dir = tmpDir("pq-append") + "/idx"
    val model = Quantize.buildPqIndex(e.filter(col("vec_id") < 400),
      "vec_id", "embedding", dir)
    val stats = Quantize.pqIndexAppend(spark, dir,
      e.filter(col("vec_id") >= 400), "vec_id", "embedding")
    assert(stats.appended == e.filter(col("vec_id") >= 400).count())
    // appended codes equal an in-memory encode with the SAME (frozen)
    // codebooks — the no-refit law
    val idx = spark.read.parquet(dir)
    val want = e.filter(col("vec_id") >= 400)
      .select(col("vec_id"), Quantize.encodePq(col("embedding"), model)
        .as("__codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val got = idx.filter(col("vec_id") >= 400)
      .select("vec_id", "__codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(got == want, "appended codes must be the frozen-codebook encode")
    // the two fixture halves share a distribution: no drift flag, sane
    // baseline
    assert(stats.baselineMeanErr > 0 && !stats.drifted(),
      s"near-iid halves must not trip the drift flag: $stats")
    // a probe around an APPENDED vector sees it
    val q450 = e.filter(col("vec_id") === 450L)
      .select("embedding").as[Seq[Float]].head()
    val top = Quantize.pqProbe(spark, dir, "vec_id", "embedding", q450,
        topK = 5, pool = 20)
      .select("vec_id").as[Long].collect()
    assert(top.contains(450L), s"appended vector invisible to probe: ${top.toList}")
    // guards: foreign params refuse; a baseline-less index refuses
    val exP = intercept[IllegalArgumentException](
      Quantize.pqIndexAppend(spark, dir, e.limit(1), "vec_id", "embedding",
        m = 8))
    assert(exP.getMessage.contains("was built with"), exP.getMessage)
    new java.io.File(dir, Quantize.PqStatsFile).delete()
    val exS = intercept[IllegalArgumentException](
      Quantize.pqIndexAppend(spark, dir, e.limit(1), "vec_id", "embedding"))
    assert(exS.getMessage.contains(Quantize.PqStatsFile), exS.getMessage)
  }

  test("null/garbage vectors never take exact-L2 or ADC top-k slots; dims refuse") {
    val e = emb
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0)
    // a NULL-vector row yields l2 = NULL; default NULLS FIRST would hand
    // it the top slot and poison the recall oracle PQ gates rank against
    val withNull = e.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((999999L, Option.empty[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    val top = Similarity.bruteForceTopKL2(withNull, "vec_id", "embedding",
        query, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(!top.contains(999999L), "null vector took an exact-L2 slot")
    assert(top == Similarity.bruteForceTopKL2(e, "vec_id", "embedding",
      query, 10).select("vec_id").as[Long].collect().toSet)
    // ADC: a null codes element nulls the row's distance — nulls last too
    val model = Quantize.fitPq(e, "embedding", m = 16, k = 16)
    val encoded = e.select(col("vec_id"),
        Quantize.encodePq(col("embedding"), model).as("pq"))
      .unionByName(Seq((999999L, Option.empty[Seq[Int]]))
        .toDF("vec_id", "pq"))
    val adc = Quantize.pqTopK(encoded, "vec_id", "pq", model, query, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(!adc.contains(999999L), "null-codes row took an ADC slot")
    // dimension mismatches refuse typed instead of truncating/crashing raw
    assertThrows[IllegalArgumentException](
      Quantize.pqTopK(encoded, "vec_id", "pq", model, query ++ query, 10))
    assertThrows[IllegalArgumentException](
      Quantize.pqTopK(encoded, "vec_id", "pq", model, query.take(48), 10))
  }

  test("codes are in [0,255] and reconstruction error is within one grid step") {
    val q = Quantize.quantizeInt8(col("embedding"))
    val rows = emb.select(
        col("vec_id"), q.as("q"),
        array_max(Quantize.reconstructionErrors(col("embedding"), q)).as("me"))
      .select(col("vec_id"), col("q.scale").as("scale"),
        array_min(col("q.codes")).as("cmin"),
        array_max(col("q.codes")).as("cmax"), col("me"))
      .as[(Long, Double, Long, Long, Double)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, scale, cmin, cmax, me) =>
      assert(cmin >= 0L && cmax <= 255L, s"vec $id codes out of range")
      assert(me <= scale + 1e-9, s"vec $id error $me exceeds grid step $scale")
    }
  }

  test("constant vectors quantize to zero codes with exact reconstruction") {
    val df = Seq((1L, Array.fill(8)(3.25f))).toDF("vec_id", "embedding")
    val out = df.select(Quantize.quantizeInt8(col("embedding")).as("q"),
        col("embedding"))
      .select(array_max(col("q.codes")),
        array_max(Quantize.reconstructionErrors(col("embedding"), col("q"))))
      .as[(Long, Double)].head()
    assert(out == ((0L, 0.0)))
  }

  test("cosine top-k on reconstructed vectors tracks the exact top-k") {
    val query = emb.filter($"vec_id" === 0)
      .select("embedding").head().getSeq[Float](0)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect().toSet
    // reconstruct every corpus vector from its codes, then the same top-k
    val recon = emb.select(col("vec_id"),
      Quantize.dequantize(Quantize.quantizeInt8(col("embedding")))
        .as("rvec"))
    val qArr = lit(query.map(_.toDouble).toArray)
    val dot = aggregate(zip_with(col("rvec"), qArr, (a, b) => a * b),
      lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(col("rvec"), a => a * a), lit(0.0), _ + _))
    val nb = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val approx = recon.select(col("vec_id"), (dot / (na * nb)).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
      .select("vec_id").as[Long].collect().toSet
    // 8-bit grid on 64-dim unit-ish vectors barely moves cosines: demand
    // near-total agreement, not the loose ANN bar
    assert((exact & approx).size >= 8, s"overlap ${(exact & approx).size}")
    assert(approx.contains(0L))
  }

  test("quantized IVF probe tracks the float IVF probe over the same cells") {
    val dir = tmpDir("ivf-q")
    Similarity.buildIvfIndexQuantized(emb, "vec_id", "embedding",
      dir + "/idx", nLists = 8)
    val query = emb.filter($"vec_id" === 0)
      .select("embedding").head().getSeq[Float](0)
    val got = Similarity.ivfProbeQuantized(spark, dir + "/idx", "vec_id",
      query, 10, nProbe = 4)
    // the index stores true int8: 1-byte codes
    val schema = spark.read.parquet(dir + "/idx").schema
    assert(schema("__codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false) ||
      schema("__codes").dataType.simpleString == "array<tinyint>")
    // float twin over the same cell layout (same kmeans seed)
    val floatDir = tmpDir("ivf-f")
    Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      floatDir + "/idx", nLists = 8)
    val exact = Similarity.ivfProbe(spark, floatDir + "/idx", "vec_id",
      "embedding", query, 10, nProbe = 4)
    val g = got.select("vec_id").as[Long].collect().toSet
    val e = exact.select("vec_id").as[Long].collect().toSet
    assert((g & e).size >= 8, s"quantized/float probe overlap ${(g & e).size}")
    assert(g.contains(0L)) // self survives quantization
  }
}
