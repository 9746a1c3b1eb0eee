package graft.core

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** The one contract for persisted indexes and layouts: a params STAMP
  * kept beside the data it describes (the reference's restart-state rule,
  * SURVEY §3.1) and a build-once COMMIT for process-level index caches.
  *
  * Every family writes one stamp through [[commit]] and reads it back
  * through [[read]] (the parameters the data was built with are frozen in
  * it and re-derived from it) or [[check]] (the caller's parameters must
  * equal the stored ones, or the probe would search the wrong space —
  * silent recall loss, not an error):
  *
  * {{{
  * family        stamp file            stamp text                       frozen keys            readers
  * LSH           _GRAFT_LSH_PARAMS     dim=D,nPlanes=P,seed=S           all, by [[check]]      Similarity.annProbe,
  *                                                                                             annProbeBatch, lshIndexAppend
  * int8-LSH      _GRAFT_LSH_PARAMS     as LSH                           all, by [[check]]      Similarity.annProbeQuantized
  * PQ            _GRAFT_PQ_PARAMS      m=M,k=K,seed=S                   all, by [[check]]      Quantize.pqProbe, pqIndexAppend
  *               _GRAFT_PQ_STATS       mean_err=E,n=N                   (drift baseline)       Quantize.pqIndexAppend
  * gram          _GRAFT_GRAM_PARAMS    v1 n=N hashed=H buckets=B        n, hashed, buckets     TextAnalysis.gramIndex*
  * MinHash       _GRAFT_MH_PARAMS      v1 k=K bands=B shingleN=N        all                    Dedup.minhashIndex*
  *                                     native=T maxBandSize=C
  * dHash         _GRAFT_DHASH_PARAMS   v2 bands=B                       bands                  Multimodal.dhashIndex*
  * aHash         _GRAFT_AHASH_PARAMS   v2 bands=B                       bands                  Multimodal.audioIndex*
  * range layout  _GRAFT_LAYOUT_PARAMS  kind=range,by=C,buckets=N        by                     RangeLayout.prunedRead
  * z-order       _GRAFT_LAYOUT_PARAMS  kind=zorder,a=A,b=B,             a, b, gridBits         ZOrder.prunedRead
  *                                     gridBits=G,buckets=N
  * }}}
  *
  * A stamp is its family's leading token (`v1`, `v2`, `kind=…`, or none)
  * followed by `key=value` tokens, space- or comma-separated. Stamps are
  * SidecarIO files, so a stamp on disk is whole or absent. The same rules
  * hold for every family:
  *  - rebuild: drop the stamp, write the data, write the stamp LAST — its
  *    presence is the commit marker, so a build that dies part-way reads
  *    as absent, never as old parameters over new data;
  *  - a missing stamp refuses ("no committed …"), a stamp that does not
  *    parse refuses ("unparseable …"), a stamp of another layout version
  *    or kind refuses naming the layout it expected, and foreign caller
  *    parameters refuse ("was built with …");
  *  - a migration stamp for an artifact written before its family had a
  *    stamp refuses when one exists ("refusing to re-stamp").
  * gram, MinHash and the hash families refuse with
  * [[GraftError.InvalidConfig]] (the CLI verbs over them map it to exit 2),
  * the others with IllegalArgumentException.
  */
private[graft] object PersistedIndex {

  /** One stamp family. `drift` says what foreign parameters would break;
    * only the families read through [[check]] need it. */
  final class Family private[PersistedIndex] (val file: String,
      val what: String, val head: String, sep: String, typed: Boolean,
      val drift: String = "") {

    private[PersistedIndex] def render(kv: (String, Any)*): StampText =
      StampText(this, ((if (head.isEmpty) Nil else Seq(head)) ++
        kv.map { case (k, v) => s"$k=$v" }).mkString(sep))

    private[PersistedIndex] def tokens(text: String): Seq[String] =
      text.trim.split(sep).toSeq

    private[PersistedIndex] def refuse(msg: String): Nothing =
      if (typed) throw GraftError.InvalidConfig(msg)
      else throw new IllegalArgumentException(msg)
  }

  val Lsh = new Family("_GRAFT_LSH_PARAMS", "LSH index", "", ",",
    typed = false, drift = "its hamming balls and appended buckets would " +
      "cover the wrong bucket space (silent recall loss)")
  val Pq = new Family("_GRAFT_PQ_PARAMS", "PQ index", "", ",",
    typed = false, drift = "encoding or scoring against foreign codebooks " +
      "silently corrupts recall; rebuild the index or fix the configuration")
  val PqStats = new Family("_GRAFT_PQ_STATS", "PQ drift baseline", "", ",",
    typed = false)
  val Gram = new Family("_GRAFT_GRAM_PARAMS", "gram index", "v1", " ",
    typed = true)
  val MinHash = new Family("_GRAFT_MH_PARAMS", "MinHash index", "v1", " ",
    typed = true)
  val DHash = new Family("_GRAFT_DHASH_PARAMS", "dHash index", "v2", " ",
    typed = true)
  val AHash = new Family("_GRAFT_AHASH_PARAMS", "audio hash index", "v2",
    " ", typed = true)
  val RangeLayout = new Family("_GRAFT_LAYOUT_PARAMS", "range layout",
    "kind=range", ",", typed = false)
  val ZOrderLayout = new Family("_GRAFT_LAYOUT_PARAMS", "z-order layout",
    "kind=zorder", ",", typed = false)

  private val families =
    Seq(Lsh, Pq, PqStats, Gram, MinHash, DHash, AHash, RangeLayout, ZOrderLayout)

  /** A stamp's text with the family whose file it goes in. The
    * constructors below are the only place any stamp text is spelled. */
  final case class StampText(family: Family, text: String)

  def lsh(dim: Int, nPlanes: Int, seed: Int): StampText =
    Lsh.render("dim" -> dim, "nPlanes" -> nPlanes, "seed" -> seed)
  def pq(m: Int, k: Int, seed: Long): StampText =
    Pq.render("m" -> m, "k" -> k, "seed" -> seed)
  def pqStats(meanErr: Double, n: Long): StampText =
    PqStats.render("mean_err" -> meanErr, "n" -> n)
  def gram(n: Int, hashed: Boolean, buckets: Int): StampText =
    Gram.render("n" -> n, "hashed" -> hashed, "buckets" -> buckets)
  def minhash(k: Int, bands: Int, shingleN: Int, native: Boolean,
              maxBandSize: Int): StampText =
    MinHash.render("k" -> k, "bands" -> bands, "shingleN" -> shingleN,
      "native" -> native, "maxBandSize" -> maxBandSize)
  /** dHash or aHash: one banded format under two file names. */
  def bands(f: Family, bands: Int): StampText = f.render("bands" -> bands)
  def range(by: String, buckets: Int): StampText =
    RangeLayout.render("by" -> by, "buckets" -> buckets)
  def zorder(a: String, b: String, gridBits: Int, buckets: Int): StampText =
    ZOrderLayout.render("a" -> a, "b" -> b, "gridBits" -> gridBits,
      "buckets" -> buckets)

  /** A parsed stamp. The typed getters refuse as unparseable, so a family
    * reads its frozen parameters without any parsing of its own. */
  final class Stamp private[PersistedIndex] (f: Family, dir: String,
      val text: String, kv: Map[String, String]) {
    def str(key: String): String = kv.getOrElse(key, unparseable(f, dir, text))
    def int(key: String): Int =
      str(key).toIntOption.getOrElse(unparseable(f, dir, text))
    def bool(key: String): Boolean =
      str(key).toBooleanOption.getOrElse(unparseable(f, dir, text))
    def double(key: String): Double =
      str(key).toDoubleOption.getOrElse(unparseable(f, dir, text))
  }

  private def unparseable(f: Family, dir: String, text: String): Nothing =
    f.refuse(s"unparseable ${f.file} at $dir: '$text' — not a committed " +
      s"${f.what} (delete the directory and rebuild)")

  private def stampPath(spark: SparkSession, dir: String,
                        f: Family): (FileSystem, Path) = {
    val p = new Path(dir.stripSuffix("/"), f.file)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The committed stamp text, refusing when there is none. */
  private def text(spark: SparkSession, dir: String, f: Family): String = {
    val (fs, p) = stampPath(spark, dir, f)
    SidecarIO.read(fs, p).getOrElse(
      f.refuse(s"no committed ${f.what} at $dir (no ${f.file})"))
  }

  /** Read and parse `dir`'s stamp of family `f`. A head token of another
    * version or kind (`v1` where `v2` is current, `kind=zorder` where
    * `kind=range` is asked for) refuses naming the expected layout. */
  def read(spark: SparkSession, dir: String, f: Family): Stamp = {
    val raw = text(spark, dir, f)
    val tokens = f.tokens(raw)
    val body =
      if (f.head.isEmpty) tokens
      else if (tokens.head == f.head) tokens.tail
      else if (tokens.head.matches("v\\d+|kind=.*"))
        f.refuse(s"$dir holds a ${f.file} stamp '$raw', not the ${f.head} " +
          s"layout of a ${f.what} — read it with the reader that wrote it, " +
          "or delete the directory and rebuild")
      else unparseable(f, dir, raw)
    val kv = body.map(_.split("=", 2)).map {
      case Array(k, v) => k -> v
      case _           => unparseable(f, dir, raw)
    }.toMap
    new Stamp(f, dir, raw, kv)
  }

  /** The frozen-params check: `dir`'s stamp must be exactly `expected`,
    * rendered from the caller's own parameters; `op` names the caller's
    * operation in the refusal. */
  def check(spark: SparkSession, dir: String, op: String,
            expected: StampText): Unit = {
    val f = expected.family
    val actual = text(spark, dir, f)
    if (actual != expected.text)
      f.refuse(s"$dir was built with [$actual] but this $op expects " +
        s"[${expected.text}] — ${f.drift}")
  }

  /** Migration guard: a stamp already present is live provenance, and
    * stamping over it is never a migration. */
  def requireUnstamped(spark: SparkSession, dir: String, f: Family): Unit = {
    val (fs, p) = stampPath(spark, dir, f)
    if (SidecarIO.exists(fs, p))
      f.refuse(s"$dir already has a ${f.file} sidecar; refusing to re-stamp")
  }

  /** Write a stamp outside a rebuild: a migration stamp after its
    * [[requireUnstamped]] check, or the PQ drift baseline inside the PQ
    * [[commit]]. */
  def write(spark: SparkSession, dir: String, stamp: StampText): Unit = {
    val (fs, p) = stampPath(spark, dir, stamp.family)
    SidecarIO.write(fs, p, stamp.text)
  }

  /** The rebuild rule: drop the stamp (with its staged twin, see
    * SidecarIO.delete), write the data, write `stamp` last. */
  def commit[A](spark: SparkSession, dir: String, stamp: StampText)
               (writeData: => A): A = {
    val (fs, p) = stampPath(spark, dir, stamp.family)
    SidecarIO.delete(fs, p)
    val a = writeData
    SidecarIO.write(fs, p, stamp.text)
    a
  }

  // ---- build-once commit for process-level index caches ----

  /** Written into a staged build once it is complete; a cache directory
    * without it is debris (a partial copy on a store whose directory
    * rename is not atomic). Spark's `_SUCCESS` cannot serve: it predates
    * writes after the data commit (IVF's `_centroids`). Probed through
    * SidecarIO.exists, which also sees a marker still in its staged twin. */
  private val CommitMarker = "_GRAFT_COMMITTED"

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The cache directory for index `kind` under `key`: java.io.tmpdir
    * (resolved on the default Hadoop filesystem), named by an MD5 of the
    * key and of every family's stamp file and head. A stamp format change
    * therefore re-keys the cache instead of serving an index its readers
    * now refuse. */
  private[graft] def cacheDir(kind: String, key: String): String = {
    val versions = families.map(f => s"${f.file}=${f.head}").mkString(";")
    s"${System.getProperty("java.io.tmpdir")}/graft-index/$kind-" +
      md5(s"$key|$versions")
  }

  /** Build index `kind` for `key` once into its [[cacheDir]] and return
    * that directory. The build runs in a process-unique staging directory
    * beside it, gets the commit marker, and is renamed into place. A
    * committed directory is never deleted or rebuilt: a concurrent
    * committer that loses the rename drops its own staging and returns
    * the winner's equivalent index. A build that throws leaves neither a
    * staging directory nor anything at the cache directory. An
    * uncommitted directory there (only a store without atomic directory
    * rename, or something outside this protocol, leaves one) is moved
    * aside and dropped before the rename; should a racing committer's
    * build have landed in between, the moved copy is left, not deleted. */
  def buildOnce(spark: SparkSession, kind: String, key: String)
               (build: String => Unit): String = {
    val dir = cacheDir(kind, key)
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed(p: Path) = SidecarIO.exists(fs, new Path(p, CommitMarker))
    def sibling(tag: String) =
      new Path(s"$dir.$tag-${java.util.UUID.randomUUID()}")
    if (!committed(target)) {
      val staging = sibling("tmp")
      try {
        build(staging.toString)
        SidecarIO.write(fs, new Path(staging, CommitMarker), "")
      } catch {
        case e: Throwable => fs.delete(staging, true); throw e
      }
      if (fs.exists(target) && !committed(target)) {
        val aside = sibling("stale")
        if (rename(fs, target, aside) && !committed(aside)) fs.delete(aside, true)
      }
      if (!rename(fs, staging, target)) {
        fs.delete(staging, true)
        if (!committed(target))
          throw new java.io.IOException(
            s"index commit: rename $staging -> $target failed")
      }
    }
    dir
  }

  /** Rename a directory only if `to` does not exist; false when it does.
    * Hadoop's FileSystem.rename would move `from` INTO an existing `to`,
    * so the local filesystem uses rename(2) through java.nio (fails on a
    * non-empty target) and other schemes FileContext's no-overwrite
    * rename (atomic on HDFS). A scheme without an AbstractFileSystem
    * binding falls back to check-then-rename, which two racing
    * committers can interleave. */
  private def rename(fs: FileSystem, from: Path, to: Path): Boolean =
    if ("file" == fs.getUri.getScheme) {
      def nio(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      try {
        java.nio.file.Files.move(nio(from), nio(to),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch {
        case _: java.nio.file.FileSystemException if fs.exists(to) => false
      }
    } else {
      try {
        FileContext.getFileContext(fs.getUri, fs.getConf)
          .rename(fs.makeQualified(from), fs.makeQualified(to),
            Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          !fs.exists(to) && fs.rename(from, to)
      }
    }
}
