package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftError
import graft.ext.{Dedup, Multimodal, Quantize, Similarity, TextAnalysis}
import graft.ops.{RangeLayout, ZOrder}

/** Golden stamps of every persisted-index family: the file name and the
  * exact bytes on disk (SidecarIO's `<SOH>v1 <length> ` frame, then the
  * stamp text), plus the refusals each family raises for a missing stamp,
  * an unparseable stamp, foreign parameters and a second migration stamp.
  * Stamps already on disk are read by later versions, so a change to any
  * of these bytes is a format migration, not a refactor. */
class IndexStampGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def framed(text: String): String =
    s"\u0001v1 ${text.getBytes("UTF-8").length} $text"

  private def onDisk(dir: String, file: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, file)), "UTF-8")

  private def assertStamp(dir: String, file: String, text: String): Unit =
    assert(onDisk(dir, file) == framed(text), s"$file under $dir")

  private def overwrite(dir: String, file: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, file), text)

  private def drop(dir: String, file: String): Unit =
    assert(new java.io.File(dir, file).delete(), s"no $file under $dir")

  private def refuses[E <: Throwable](what: String)(body: => Any)
                                     (implicit ct: scala.reflect.ClassTag[E]): Unit = {
    val e = intercept[E](body)
    assert(e.getMessage.contains(what), e.getMessage)
  }

  private lazy val vectors: DataFrame = (0 until 8).map { i =>
    (i.toLong, Seq(i % 2, i % 3, 1 + i % 4, i / 4).map(_.toFloat))
  }.toDF("vec_id", "embedding")

  private lazy val docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")

  private lazy val grid: DataFrame =
    spark.range(0, 64).select(col("id"), (col("id") % 8).as("x"),
      (col("id") / 8).cast("long").as("y"))

  test("LSH and int8-LSH: _GRAFT_LSH_PARAMS text; missing, unparseable, foreign refuse") {
    val dir = tmpDir("golden-lsh") + "/idx"
    Similarity.buildLshIndex(vectors, "vec_id", "embedding", dir, dim = 4,
      nPlanes = 3)
    assertStamp(dir, "_GRAFT_LSH_PARAMS", "dim=4,nPlanes=3,seed=42")
    val q = Seq(1f, 0f, 1f, 0f)
    def probe(d: String, nPlanes: Int = 3) = Similarity.annProbe(spark, d,
      "vec_id", "embedding", q, 3, dim = 4, nPlanes = nPlanes).count()
    assert(probe(dir) == 3L)
    refuses[IllegalArgumentException]("was built with")(probe(dir, nPlanes = 4))
    refuses[IllegalArgumentException]("was built with")(
      Similarity.lshIndexAppend(spark, dir, vectors, "vec_id", "embedding",
        dim = 4, nPlanes = 3, seed = 7))
    overwrite(dir, "_GRAFT_LSH_PARAMS", "garbage")
    refuses[IllegalArgumentException]("was built with")(probe(dir))
    drop(dir, "_GRAFT_LSH_PARAMS")
    refuses[IllegalArgumentException]("_GRAFT_LSH_PARAMS")(probe(dir))

    val qdir = tmpDir("golden-lshq") + "/idx"
    Similarity.buildLshIndexQuantized(vectors, "vec_id", "embedding", qdir,
      dim = 4, nPlanes = 3)
    assertStamp(qdir, "_GRAFT_LSH_PARAMS", "dim=4,nPlanes=3,seed=42")
    refuses[IllegalArgumentException]("was built with")(
      Similarity.annProbeQuantized(spark, qdir, "vec_id", q, 3, dim = 4,
        nPlanes = 3, seed = 7))
  }

  test("PQ: _GRAFT_PQ_PARAMS and _GRAFT_PQ_STATS text; every refusal") {
    val dir = tmpDir("golden-pq") + "/idx"
    Quantize.buildPqIndex(vectors, "vec_id", "embedding", dir, m = 2, k = 2,
      seed = 7L)
    assertStamp(dir, "_GRAFT_PQ_PARAMS", "m=2,k=2,seed=7")
    val stats = onDisk(dir, "_GRAFT_PQ_STATS")
    val text = stats.drop(stats.indexOf(' ', 4) + 1)
    assert(stats == framed(text), stats)
    assert(text.matches("mean_err=[0-9.E-]+,n=8"), text)
    val q = Seq(1f, 0f, 1f, 0f)
    def probe(seed: Long = 7L) = Quantize.pqProbe(spark, dir, "vec_id",
      "embedding", q, topK = 2, pool = 4, m = 2, k = 2, seed = seed).count()
    assert(probe() == 2L)
    refuses[IllegalArgumentException]("was built with")(probe(seed = 8L))
    refuses[IllegalArgumentException]("refusing to re-stamp")(
      Quantize.stampExistingPqIndex(spark, dir, "embedding", m = 2, k = 2,
        seed = 7L))
    overwrite(dir, "_GRAFT_PQ_PARAMS", "garbage")
    refuses[IllegalArgumentException]("was built with")(probe())
    drop(dir, "_GRAFT_PQ_PARAMS")
    refuses[IllegalArgumentException]("no _GRAFT_PQ_PARAMS")(probe())
  }

  test("gram index: _GRAFT_GRAM_PARAMS text; missing and unparseable refuse typed") {
    val dir = tmpDir("golden-gram") + "/idx"
    TextAnalysis.buildGramIndex(docs, "doc_id", "text", dir, n = 4,
      hashedKeys = false, nBuckets = 8)
    assertStamp(dir, "_GRAFT_GRAM_PARAMS", "v1 n=4 hashed=false buckets=8")
    def probe() = TextAnalysis.gramIndexSpanCoverage(spark, dir, docs,
      "doc_id", "text").count()
    assert(probe() == 3L)
    overwrite(dir, "_GRAFT_GRAM_PARAMS", "v1 n=four")
    refuses[GraftError.InvalidConfig]("unparseable _GRAFT_GRAM_PARAMS")(probe())
    drop(dir, "_GRAFT_GRAM_PARAMS")
    refuses[GraftError.InvalidConfig]("_GRAFT_GRAM_PARAMS")(probe())
  }

  test("MinHash index: _GRAFT_MH_PARAMS text; missing and unparseable refuse typed") {
    val dir = tmpDir("golden-mh") + "/idx"
    Dedup.buildMinhashIndex(docs, "doc_id", "text", dir, k = 8, bands = 4,
      shingleN = 3, nativeShingles = false, maxBandSize = 100)
    assertStamp(dir, "_GRAFT_MH_PARAMS",
      "v1 k=8 bands=4 shingleN=3 native=false maxBandSize=100")
    def probe() = Dedup.minhashIndexProbe(spark, dir, docs, "doc_id", "text",
      docs, "doc_id", threshold = 1.0).count()
    assert(probe() == 3L)
    overwrite(dir, "_GRAFT_MH_PARAMS", "v1 k=8 bands=x")
    refuses[GraftError.InvalidConfig]("unparseable _GRAFT_MH_PARAMS")(probe())
    drop(dir, "_GRAFT_MH_PARAMS")
    refuses[GraftError.InvalidConfig]("_GRAFT_MH_PARAMS")(probe())
  }

  test("dHash and aHash indexes: v2 stamps; missing, unparseable, foreign refuse typed") {
    val ids = spark.range(0, 6).select(col("id").as("doc_id"))
    val img = Multimodal.plantedNoisePngMedia(ids, "doc_id")
    val pcm = Multimodal.plantedNoisePcmMedia(ids, "doc_id")
    val dh = tmpDir("golden-dh") + "/idx"
    Multimodal.buildDHashIndex(img, dh, bands = 4)
    assertStamp(dh, "_GRAFT_DHASH_PARAMS", "v2 bands=4")
    val ah = tmpDir("golden-ah") + "/idx"
    Multimodal.buildAudioHashIndex(pcm, ah, bands = 8)
    assertStamp(ah, "_GRAFT_AHASH_PARAMS", "v2 bands=8")
    assert(Multimodal.dhashIndexProbe(spark, dh, img, maxHamming = 0)
      .count() == 6L)
    // the other modality's stamp is a foreign index, refused by name
    refuses[GraftError.InvalidConfig]("_GRAFT_DHASH_PARAMS")(
      Multimodal.dhashIndexProbe(spark, ah, img))
    refuses[GraftError.InvalidConfig]("_GRAFT_AHASH_PARAMS")(
      Multimodal.audioIndexProbe(spark, dh, pcm))
    overwrite(dh, "_GRAFT_DHASH_PARAMS", "v1 bands=4")
    refuses[GraftError.InvalidConfig]("v2 layout")(
      Multimodal.dhashIndexProbe(spark, dh, img))
    overwrite(dh, "_GRAFT_DHASH_PARAMS", "garbage")
    refuses[GraftError.InvalidConfig]("unparseable _GRAFT_DHASH_PARAMS")(
      Multimodal.dhashIndexProbe(spark, dh, img))
    drop(dh, "_GRAFT_DHASH_PARAMS")
    refuses[GraftError.InvalidConfig]("_GRAFT_DHASH_PARAMS")(
      Multimodal.dhashIndexAppend(spark, dh, img))
  }

  test("range and z-order layouts: _GRAFT_LAYOUT_PARAMS text; every refusal") {
    val range = tmpDir("golden-range") + "/t"
    RangeLayout.writeClustered(grid, range, "y", Seq(col("id")), 4)
    assertStamp(range, "_GRAFT_LAYOUT_PARAMS", "kind=range,by=y,buckets=4")
    val z = tmpDir("golden-z") + "/t"
    ZOrder.writeZOrdered(grid, z, "x", "y", Seq(col("id")), 4)
    assertStamp(z, "_GRAFT_LAYOUT_PARAMS",
      s"kind=zorder,a=x,b=y,gridBits=${ZOrder.GridBits},buckets=4")
    def rangeRead(p: String, c: String = "y") =
      RangeLayout.prunedRead(spark, p, c, lit(0L), lit(1L)).count()
    assert(rangeRead(range) == 16L)
    assert(ZOrder.prunedRead(spark, z, "y", lit(0L), lit(1L)).count() == 16L)
    refuses[IllegalArgumentException]("range-clustered by")(
      rangeRead(range, "x"))
    refuses[IllegalArgumentException]("zorder")(rangeRead(z))
    refuses[IllegalArgumentException]("neither dimension")(
      ZOrder.prunedRead(spark, z, "id", lit(0L), lit(1L)))
    refuses[IllegalArgumentException]("refusing to re-stamp")(
      RangeLayout.stampExistingLayout(spark, range, "y", 4))
    refuses[IllegalArgumentException]("refusing to re-stamp")(
      ZOrder.stampExistingLayout(spark, z, "x", "y", 4))
    overwrite(range, "_GRAFT_LAYOUT_PARAMS", "garbage")
    refuses[IllegalArgumentException](range)(rangeRead(range))
    drop(range, "_GRAFT_LAYOUT_PARAMS")
    refuses[IllegalArgumentException]("_GRAFT_LAYOUT_PARAMS")(rangeRead(range))
    drop(z, "_GRAFT_LAYOUT_PARAMS")
    refuses[IllegalArgumentException]("_GRAFT_LAYOUT_PARAMS")(
      ZOrder.prunedRead(spark, z, "y", lit(0L), lit(1L)))
  }
}
