package graft

import java.net.URI
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path,
  RawLocalFileSystem}
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
  * leave it. */
class MockStoreFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: URI = URI.create("graftmock:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    MockStoreFileSystem.raceOnOpen match {
      case Some((name, writerAction)) if f.getName == name =>
        MockStoreFileSystem.raceOnOpen = None
        writerAction()
        throw new java.io.FileNotFoundException(
          s"$f (simulated concurrent-commit delete)")
      case _ => super.open(f, bufferSize)
    }
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
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
}
