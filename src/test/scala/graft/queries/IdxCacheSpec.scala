package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.PersistedIndex
import graft.ext.Similarity

/** Pins the build-once commit that every process-level index cache goes
  * through (Similarity's ensure* indexes and the gate's gram / MinHash /
  * dHash / audio indexes): collision-proof cache paths, one build per
  * key, commit by one rename, rebuild of an uncommitted directory, no
  * debris from a failed build, and one committed directory under
  * concurrent builders. */
class IdxCacheSpec extends SparkSpec {

  private def unique(tag: String): String = s"$tag-${System.nanoTime()}"

  /** Cache-directory siblings of `dir` (staging and stale debris). */
  private def siblings(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    Option(d.getParentFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(d.getName)).toSet
  }

  test("cacheDir: distinct keys never alias, sanitization cannot collide") {
    val a = PersistedIndex.cacheDir("p", "/data/sf0.01@123")
    val b = PersistedIndex.cacheDir("p", "/data/sf0.1@123")
    val c = PersistedIndex.cacheDir("p", "/data/sf0.01@124")
    assert(Set(a, b, c).size == 3)
    // same key is deterministic (the cache contract)
    assert(PersistedIndex.cacheDir("p", "/data/sf0.01@123") == a)
    // keys that would SANITIZE identically still get distinct dirs: the
    // name is a digest of the raw key
    val s1 = PersistedIndex.cacheDir("p", "a/b@1")
    val s2 = PersistedIndex.cacheDir("p", "a_b@1")
    assert(s1 != s2)
    // no path-hostile characters survive into the directory name
    val d = PersistedIndex.cacheDir("p", "x/y\\z:*?@9")
    val name = new java.io.File(d).getName
    assert(name.forall(ch => ch.isLetterOrDigit || "._-".contains(ch)), name)
  }

  test("buildOnce: builds once, commits by rename, skips when committed") {
    val key = unique("build-once")
    var builds = 0
    def writeIndex(staging: String): Unit = {
      builds += 1
      val d = new java.io.File(staging)
      assert(d.mkdirs() || d.isDirectory)
      java.nio.file.Files.writeString(new java.io.File(d, "data").toPath, "x")
    }
    val idx = PersistedIndex.buildOnce(spark, "test", key)(writeIndex)
    assert(idx == PersistedIndex.cacheDir("test", key))
    assert(builds == 1)
    assert(new java.io.File(idx, "_GRAFT_COMMITTED").exists())
    assert(new java.io.File(idx, "data").exists())
    // no staging debris left beside the committed index
    assert(siblings(idx) == Set(new java.io.File(idx).getName))
    // a committed index short-circuits the build entirely
    assert(PersistedIndex.buildOnce(spark, "test", key) { _ => builds += 1 } == idx)
    assert(builds == 1)
    // a directory without the commit marker is NOT a committed index:
    // the next call rebuilds it
    assert(new java.io.File(idx, "_GRAFT_COMMITTED").delete())
    PersistedIndex.buildOnce(spark, "test", key)(writeIndex)
    assert(builds == 2)
    assert(new java.io.File(idx, "_GRAFT_COMMITTED").exists())
    assert(siblings(idx) == Set(new java.io.File(idx).getName))
    graft.core.Tables.deleteRecursively(new java.io.File(idx))
  }

  test("buildOnce: a build that throws leaves no committed directory and no debris") {
    val key = unique("build-fails")
    val idx = PersistedIndex.cacheDir("test", key)
    val e = intercept[IllegalStateException](
      PersistedIndex.buildOnce(spark, "test", key) { staging =>
        val d = new java.io.File(staging)
        assert(d.mkdirs())
        java.nio.file.Files.writeString(new java.io.File(d, "half").toPath, "x")
        throw new IllegalStateException("build died")
      })
    assert(e.getMessage == "build died")
    assert(!new java.io.File(idx).exists())
    assert(siblings(idx).isEmpty, siblings(idx))
  }

  test("buildOnce: two threads ensuring one LSH index commit one directory") {
    val corpus = tmpDir("idxcache-race") + "/corpus"
    graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 200).write.parquet(corpus)
    val emb = spark.read.parquet(corpus)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val start = new java.util.concurrent.CountDownLatch(1)
    val dirs = try {
      val fs = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = {
            start.await()
            Similarity.ensureLshIndex(emb, "vec_id", "embedding", dim = 64,
              nPlanes = 4)
          }
        }))
      start.countDown()
      fs.map(_.get())
    } finally pool.shutdown()
    assert(dirs.distinct.size == 1, dirs)
    val idx = dirs.head
    assert(new java.io.File(idx, "_GRAFT_COMMITTED").exists())
    assert(siblings(idx) == Set(new java.io.File(idx).getName))
    // the committed index holds each vector once, and a full-ball probe
    // returns exactly the brute-force top-k
    assert(spark.read.parquet(idx).count() == 200L)
    val query = emb.filter(col("vec_id") === 7L)
      .select("embedding").first().getSeq[Float](0)
    val probed = Similarity.annProbe(spark, idx, "vec_id", "embedding",
        query, 10, dim = 64, nPlanes = 4, probeHamming = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        query, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(probed == brute)
    graft.core.Tables.deleteRecursively(new java.io.File(idx))
  }
}
