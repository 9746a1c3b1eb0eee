package graft.core

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}

/** Crash-safe COMMIT of a small sidecar file (watermarks, params stamps,
  * schema records — files whose PRESENCE is a commit marker and whose
  * absence or truncation wedges a table). The contract: after a crash at
  * any instruction, the destination is either the old complete sidecar or
  * the new complete sidecar — never truncated, never absent.
  *
  * Why this needs a module of its own (each lesson was paid for):
  *  - truncate-in-place (`fs.create(p, true)`) can crash mid-write and
  *    leave a TORN sidecar (round-11 advice);
  *  - `fs.delete(p); fs.rename(tmp, p)` can crash between the calls and
  *    leave NO sidecar (round-12 self-review #1);
  *  - `FileContext.rename(OVERWRITE)` looks atomic but is NOT on the
  *    local filesystem — AbstractFileSystem's default renameInternal
  *    (which RawLocalFs inherits) is itself delete-then-rename; only
  *    Hdfs overrides it atomically (round-12 second review, verified in
  *    hadoop-client-api bytecode) — and it throws
  *    UnsupportedFileSystemException outright on schemes with no
  *    AbstractFileSystem binding (s3a and most custom stores).
  *
  * So the commit is scheme-dispatched:
  *  - LOCAL fs: the tmp is written through the RAW (checksum-free) local
  *    fs and committed with java.nio ATOMIC_MOVE + REPLACE_EXISTING —
  *    POSIX rename(2), genuinely atomic. Any STALE Hadoop checksum file
  *    for the destination (earlier engine versions wrote sidecars through
  *    ChecksumFileSystem) is deleted BEFORE the move: a crash after that
  *    delete leaves the old sidecar merely checksum-less (still readable
  *    — LocalFileSystem treats a missing .crc as "don't verify"), while
  *    deleting it after the move would leave a window where the stale
  *    .crc fails verification against the NEW bytes.
  *  - HDFS (and any scheme with an AbstractFileSystem binding):
  *    FileContext rename with Options.Rename.OVERWRITE — atomic there.
  *    The FileContext is cached per (scheme, authority): Hadoop does not
  *    cache AbstractFileSystem instances, and the partitioned IVM's
  *    commit loop writes one sidecar per touched bucket.
  *  - Anything else (object stores without an AbstractFileSystem
  *    binding): a TWO-PHASE commit through the FileSystem API. The
  *    earlier delete-then-rename fallback left a window where the
  *    sidecar was simply ABSENT (crash between the delete and the
  *    rename) — readers then refused the whole table until repair. Now
  *    the new content is staged to a `.name.new` twin BEFORE the old
  *    sidecar is touched, and the commit rule is: **the committed value
  *    is `p`; when `p` is absent, it is `.name.new`** — [[read]]
  *    implements exactly that rule, so at
  *    every crash point a reader sees either the complete old or the
  *    complete new content, never nothing:
  *      1. heal a prior crash (`p` absent, `.new` present → finish the
  *         old commit's rename first);
  *      2. stage bytes to `.name.tmp`; drop a stale `.new` (it is
  *         uncommitted while `p` exists);
  *      3. rename tmp → `.new` (new content now complete and durable,
  *         still uncommitted);
  *      4. delete `p` — THE COMMIT POINT (reads switch to `.new`);
  *      5. rename `.new` → `p` (finalize; reads prefer `p` again).
  *    Residual exposure: a store whose rename is a non-atomic
  *    copy+delete AND a crash inside step 1/5's copy can leave a
  *    partially-copied `p` beside the complete `.new`; [[read]] then
  *    FAILS LOUD on the torn `p` (it deliberately never falls back to a
  *    twin while `p` exists — between steps 3 and 4 the twin is
  *    uncommitted, and guessing could serve a never-committed value),
  *    and the next write's heal step repairs the state. Real object
  *    stores copy atomically (a destination object appears only whole),
  *    so the torn-visible-copy case needs a scheme with neither atomic
  *    rename nor atomic copy — strictly narrower than the absence
  *    window this replaces.
  *
  * Torn payloads are DETECTABLE, not just unlikely: [[write]] frames the
  * content as `v1 <byte-length> <payload>` so [[read]] can verify the
  * payload arrived whole. Without the frame, a truncated numeric sidecar
  * is INDISTINGUISHABLE from a committed smaller value — a watermark
  * `12345` torn to `123` parses as a valid long and silently ROLLS THE
  * WATERMARK BACK (re-folding slices, or worse for params stamps). With
  * it, a torn `p` beside a complete `.new` (the copy+delete residual
  * above) fails loud instead of serving garbage. Files without the frame
  * prefix (see [[FramePrefix]] — a control char leads it, so no text
  * payload collides) are legacy pre-frame sidecars and are served as-is —
  * for those the truncation residual remains silent (documented here, not
  * claimed closed); every new write upgrades the file to the framed form.
  */
private[graft] object SidecarIO {

  private val fcCache =
    new java.util.concurrent.ConcurrentHashMap[java.net.URI, FileContext]()

  private def newTwin(p: Path): Path =
    new Path(p.getParent, s".${p.getName}.new")

  /** Read the COMMITTED sidecar content under the two-phase rule: `p`
    * when present, else the staged `.name.new` twin (the committed value
    * inside a fallback-scheme crash window), else None. On the
    * atomic-rename schemes `.new` never exists and this is a plain read.
    * A read error on a PRESENT `p` propagates — between steps 3 and 4
    * the twin is staged but UNCOMMITTED, so falling back to it on a
    * transient store error would serve a value that was never committed
    * (e.g. a watermark above the last folded slice); a TORN framed `p`
    * (scaladoc residual) therefore fails loud rather than guessing, and
    * the next write's heal step repairs it.
    *
    * One benign race IS retried: a concurrent writer's step-4 delete can
    * remove `p` between this reader's `exists(p)` and `open(p)` —
    * FileNotFoundException on a name that existed an instant ago. That
    * is not a torn read: `p` being GONE means the commit point passed,
    * so the twin-aware resolution is re-run once (twin present ⇒ it is
    * the committed value; both absent ⇒ None). The no-guess rule is
    * preserved — the retry only ever reads state the commit protocol
    * defines as committed. */
  def read(fs: FileSystem, p: Path): Option[String] = {
    def slurp(path: Path): String = {
      val in = fs.open(path)
      try unframe(path, new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
    def resolve(): Option[String] =
      if (fs.exists(p)) Some(slurp(p))
      else if (fs.exists(newTwin(p))) Some(slurp(newTwin(p)))
      else None
    try resolve()
    catch { case _: java.io.FileNotFoundException => resolve() }
  }

  /** SOH control char + tag: no TEXT payload can begin with \u0001, so
    * prefix sniffing can never misread a legacy unframed file as framed.
    * (A bare "v1 " tag would collide: AggMaintenance's params stamps
    * legitimately START with "v1 buckets=…".) */
  private val FramePrefix = "\u0001v1 "

  /** `<SOH>v1 <byte-length> <payload>`; payload bytes verified against
    * the recorded length (see the framing scaladoc above). */
  private def frame(payload: Array[Byte]): Array[Byte] = {
    val head = (FramePrefix + payload.length + " ")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    head ++ payload
  }

  private def unframe(path: Path, content: String): String = {
    if (!content.startsWith(FramePrefix)) return content // legacy, unframed
    val rest = content.drop(FramePrefix.length)
    val sp = rest.indexOf(' ')
    val declared =
      if (sp < 0) None else rest.take(sp).toIntOption
    declared match {
      case Some(n) =>
        val payload = rest.drop(sp + 1)
        val actual = payload
          .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
        if (actual != n)
          throw new java.io.IOException(
            s"torn sidecar $path: framed length $n but $actual payload " +
              "byte(s) present — refusing to serve a partial commit " +
              "(rewrite the sidecar to repair)")
        payload
      case None =>
        // "v1 <garbage>" — a frame header torn inside the length digits
        throw new java.io.IOException(
          s"torn sidecar $path: unparseable frame header — refusing to " +
            "serve a partial commit (rewrite the sidecar to repair)")
    }
  }

  /** Is a committed sidecar present under the two-phase rule? `p` OR its
    * staged twin (p absent + twin present = committed, steps 4→5). Every
    * commit-marker existence probe must use this, not raw `fs.exists` —
    * a raw check reads "absent" inside the window and can roll back
    * committed state (a rollup root's swap heal, `ParquetMergeSink.heal`,
    * would restore its older backup over it). */
  def exists(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) || fs.exists(newTwin(p))

  /** Remove a sidecar AND its staged twin. A plain `fs.delete(p)` leaves
    * a committed-in-twin value behind (p absent + twin present still
    * READS as committed), so every sidecar removal — clear-marker paths,
    * rebuild-discipline stamp drops — must go through here. */
  def delete(fs: FileSystem, p: Path): Unit = {
    // twin FIRST: a crash between the two deletes then leaves p alone
    // ("delete didn't happen yet" — retryable), never the p-absent/
    // twin-present state that READS as a resurrected commit
    val t = newTwin(p)
    if (fs.exists(t)) fs.delete(t, false)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  /** Write `content` to `p` with the commit contract above (framed — see
    * [[frame]]; [[read]] unframes symmetrically, so callers never see
    * the header). */
  def write(fs: FileSystem, p: Path, content: String): Unit = {
    val bytes = frame(
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (isLocal(fs)) {
      val raw = fs match {
        case c: ChecksumFileSystem => c.getRawFileSystem
        case other                 => other
      }
      val tmpNio = java.nio.file.Paths.get(
        raw.makeQualified(tmp).toUri.getPath)
      // SYNC write: the bytes must be durable BEFORE the rename — on
      // ext4/xfs a power loss can journal the rename ahead of the data
      // pages, leaving the destination name pointing at torn content,
      // the exact state this module's contract forbids. (The raw fs, not
      // the checksum wrapper, so no .crc twin is orphaned — tmpNio is
      // plain NIO anyway.)
      java.nio.file.Files.write(tmpNio, bytes,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.SYNC)
      // stale checksum from a pre-SidecarIO writer: remove BEFORE the
      // move (see scaladoc for the crash-window argument)
      fs match {
        case c: ChecksumFileSystem =>
          val crc = c.getChecksumFile(p)
          if (raw.exists(crc)) raw.delete(crc, false)
        case _ =>
      }
      java.nio.file.Files.move(tmpNio,
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // fsync the parent directory so the RENAME itself is durable (a
      // power loss could otherwise revert to the old name — acceptable —
      // or, combined with later writes, reorder against them). Best
      // effort: directory fds are not force()-able on every platform.
      try {
        val dir = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(p.getParent.toUri.getPath),
          java.nio.file.StandardOpenOption.READ)
        try dir.force(true) finally dir.close()
      } catch {
        // best-effort, but never eat an interrupt: parMap callers
        // (AggMaintenance) rely on the flag to stop their drain loops
        case _: InterruptedException => Thread.currentThread().interrupt()
        case _: Exception => ()
      }
      ()
    } else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        val fc = fcCache.computeIfAbsent(fs.getUri,
          u => FileContext.getFileContext(u, fs.getConf))
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
          Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding (s3a, custom stores): the
          // two-phase FileSystem-API commit (scaladoc steps 1–5). The
          // staged .new twin carries the committed value across the
          // only instant where p is absent, and read() knows to serve it.
          val twin = newTwin(p)
          if (!fs.exists(p) && fs.exists(twin)) {
            // step 1: a prior commit crashed between its steps 4 and 5 —
            // its .new IS the committed value; finish its rename before
            // staging ours (so step 2's stale-twin delete can never drop
            // a committed value)
            if (!fs.rename(twin, p))
              throw new java.io.IOException(
                s"sidecar commit: heal rename $twin -> $p failed")
          }
          if (fs.exists(twin)) fs.delete(twin, false) // step 2: uncommitted
          if (!fs.rename(tmp, twin))                  // step 3: stage
            throw new java.io.IOException(
              s"sidecar commit: rename $tmp -> $twin failed")
          if (fs.exists(p)) fs.delete(p, false)       // step 4: COMMIT
          if (!fs.rename(twin, p))                    // step 5: finalize
            throw new java.io.IOException(
              s"sidecar commit: rename $twin -> $p failed")
      }
    }
  }

  /** Read a state record written by [[writeRecord]]: its fields in `names`
    * order, an empty value as None. A record with a field count in
    * `older` predates the last fields, which read as None; any other
    * shape refuses as an unreadable `what`. */
  def readRecord(fs: FileSystem, p: Path, names: Seq[String], what: String,
                 older: Set[Int] = Set.empty): Option[Seq[Option[String]]] =
    read(fs, p).map { s =>
      val fields = s.split("\n", names.length).toSeq.zip(names)
      if (fields.size != names.size && !older(fields.size) ||
          fields.exists { case (l, n) => !l.startsWith(s"$n=") })
        throw new java.io.IOException(s"unreadable $what $p")
      fields.map { case (l, n) =>
        Some(l.drop(n.length + 1)).filter(_.nonEmpty)
      }.padTo(names.size, None)
    }

  /** Commit a state record: one `name=value` line per field, in order,
    * None as an empty value; the whole record is one [[write]]. */
  def writeRecord(fs: FileSystem, p: Path, names: Seq[String],
                  values: Seq[Option[String]]): Unit =
    write(fs, p, names.zip(values)
      .map { case (n, v) => s"$n=${v.getOrElse("")}" }.mkString("\n"))

  private def isLocal(fs: FileSystem): Boolean =
    "file" == fs.getUri.getScheme
}
