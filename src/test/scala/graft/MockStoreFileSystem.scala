package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A RawLocalFileSystem masquerading as an object-store scheme with no
  * AbstractFileSystem binding: `FileContext.getFileContext` over its URI
  * throws UnsupportedFileSystemException, which forces SidecarIO's
  * two-phase FileSystem-API fallback — the s3a-shaped commit path,
  * simulated on local disk so its crash windows can be enumerated in a
  * spec. Registered per-test via `fs.graftmock.impl`.
  *
  * [[MockStoreFileSystem.raceOnOpen]] injects the one benign read race
  * the commit protocol admits: a concurrent writer's step-4 delete
  * landing between a reader's `exists(p)` and `open(p)`. The hook runs
  * the "writer" action (delete p / finish the rename) and then throws
  * the FileNotFoundException the reader would see — one-shot, so the
  * retry inside SidecarIO.read proceeds against the post-race state.
  *
  * [[MockStoreFileSystem.failOnCreate]] injects a crash: the next `create`
  * of a file whose name contains the armed string throws, one-shot, so
  * every write before it stays on disk exactly as a killed process would
  * leave it.
  *
  * [[MockStoreFileSystem.swapOps]] enumerates the crash points of one
  * directory swap: it counts the `rename`s, `delete`s and `create`s that
  * name one of the watched paths exactly and throws at the k-th, one-shot.
  *
  * [[MockStoreFileSystem.calls]] logs every `open` and `create`, so a spec
  * can count the sidecar reads and commits of one call. */
class MockStoreFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: URI = URI.create("graftmock:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    MockStoreFileSystem.calls.foreach(_.add("open" -> f))
    MockStoreFileSystem.raceOnOpen match {
      case Some((name, writerAction)) if f.getName == name =>
        MockStoreFileSystem.raceOnOpen = None
        writerAction()
        throw new java.io.FileNotFoundException(
          s"$f (simulated concurrent-commit delete)")
      case _ => super.open(f, bufferSize)
    }
  }

  // RawLocalFileSystem loads a listed status's permission lazily, through
  // a `file:` URI a `graftmock:` path is not (a recursive `listFiles`
  // asks for it): hand out statuses that carry one already
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(s => new FileStatus(s.getLen, s.isDirectory,
      s.getReplication, s.getBlockSize, s.getModificationTime,
      s.getAccessTime, FsPermission.getFileDefault, "", "", s.getPath))

  override def rename(src: Path, dst: Path): Boolean = {
    MockStoreFileSystem.swapOps.foreach(_.visit(src, dst))
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    MockStoreFileSystem.swapOps.foreach(_.visit(f))
    super.delete(f, recursive)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    MockStoreFileSystem.calls.foreach(_.add("create" -> f))
    MockStoreFileSystem.swapOps.foreach(_.visit(f))
    MockStoreFileSystem.failOnCreate match {
      case Some(name) if f.getName.contains(name) =>
        MockStoreFileSystem.failOnCreate = None
        throw new java.io.IOException(s"$f (simulated crash before create)")
      case _ =>
        super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}

object MockStoreFileSystem {
  /** (file name, concurrent-writer action) — armed by a spec, consumed by
    * the next `open` of that name. */
  @volatile var raceOnOpen: Option[(String, () => Unit)] = None

  /** File-name fragment whose next `create` throws — armed by a spec,
    * consumed by the first matching `create`. */
  @volatile var failOnCreate: Option[String] = None

  /** Counts the `rename`/`delete`/`create` calls that name one of `dirs`
    * exactly (compared by path, scheme dropped) and throws instead of
    * running the `crashAt`-th (1-based; 0 only counts). Only the watched
    * paths count, so Spark's task-commit renames underneath them stay out
    * of the count. Thread-safe: bucket swaps run in parallel. */
  final class SwapOps(dirs: Seq[String], crashAt: Int) {
    private def key(p: Path) = p.toUri.getPath.stripSuffix("/")
    private val watched = dirs.map(d => key(new Path(d))).toSet
    private val seen = new java.util.concurrent.atomic.AtomicInteger()
    def count: Int = seen.get
    def visit(paths: Path*): Unit =
      if (paths.exists(p => watched(key(p))) &&
          seen.incrementAndGet() == crashAt)
        throw new java.io.IOException(
          s"${paths.mkString(" -> ")} (simulated crash at swap op $crashAt)")
  }

  /** The armed swap-op counter, if any. */
  @volatile var swapOps: Option[SwapOps] = None

  /** The armed call log, if any: ("open" | "create", path), in order. */
  @volatile var calls
      : Option[java.util.concurrent.ConcurrentLinkedQueue[(String, Path)]] =
    None
}
