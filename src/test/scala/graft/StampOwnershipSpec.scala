package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ownership guard: the persisted-index stamp and commit rules live in
  * `graft.core.PersistedIndex` only. A `_GRAFT_*` sidecar name written
  * as a literal, or a direct SidecarIO call, anywhere else in the main
  * sources is a second copy of those rules and fails here. SidecarIO.scala
  * is the sidecar primitive itself. The graft.sync exclusions are not
  * index stamps: AggMaintenance's `_GRAFT_AGG_*` rollup sidecars and
  * DestState's sync destination record keep their own SidecarIO calls.
  *
  * The same guard keeps graft.sync's one directory swap and its heal in
  * `ParquetMergeSink`: a `.rename(` anywhere else under `graft/sync` is a
  * second copy of that protocol. (SidecarIO and PersistedIndex, outside
  * graft.sync, keep their own renames: different protocols.)
  *
  * And it keeps `SyncEndpoint.parse` the one `jdbc:` classifier for the
  * CLI: a `startsWith("jdbc:")` under `graft/cli` is a second copy of it.
  *
  * A rollup root keeps its state in one record; the three sidecars it
  * replaced are named only by AggMaintenance's `SidecarLayout`, the reader
  * of roots written before the record.
  *
  * Every keyed writer reads CDC delete markers through
  * `graft.sync.LastWriterWins`: a boolean `try_cast` or the malformed-flag
  * refusal text anywhere else under `graft/sync` or `graft/sinks` is a
  * second copy of that contract.
  *
  * The JDBC front finds its tables through one catalog lookup,
  * `JdbcSource.Catalog`, and opens connections in two places,
  * `JdbcSource.withConnection` and the sink's `runPerPartition`: a
  * metadata call or a `DriverManager.getConnection` anywhere else under
  * `graft/` is a second copy.
  *
  * Sync, agg and reconcile read their sources through one reader,
  * `graft.sync.Extract`, whose JDBC reads are `JdbcSource`'s: a
  * `read.jdbc(` or `format("jdbc")` anywhere else in the main sources is
  * a second reader. */
class StampOwnershipSpec extends AnyFunSuite {

  private val root = new java.io.File(sys.props("user.dir"), "src/main/scala")
  private val owner = "graft/core/PersistedIndex.scala"
  private val allowed = Set(owner, "graft/core/SidecarIO.scala",
    "graft/sync/AggMaintenance.scala", "graft/sync/DestState.scala")

  private val swapOwner = "graft/sync/ParquetMergeSink.scala"

  private val sidecarName = "\"_GRAFT_[A-Z0-9_]+\"".r
  private val sidecarCall = "\\bSidecarIO\\.".r

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  /** Code lines of a source: comment and scaladoc lines are skipped. */
  private def codeLines(f: java.io.File): Seq[(String, Int)] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }

  /** Indices of the code lines of `rel` from the one containing `marker`
    * up to the first closing brace at that line's indent. */
  private def span(rel: String, marker: String): Set[Int] = {
    val lines = codeLines(new java.io.File(root, rel))
    val start = lines.indexWhere(_._1.contains(marker))
    assert(start >= 0, s"$rel has no '$marker'")
    val indent = lines(start)._1.takeWhile(_ == ' ')
    val end = lines.indexWhere(_._1 == s"$indent}", start)
    assert(end > start, s"'$marker' in $rel has no closing brace")
    lines.slice(start, end + 1).map(_._2).toSet
  }

  test("index stamp names and SidecarIO calls appear only in PersistedIndex") {
    assert(root.isDirectory, s"main sources not found at $root")
    val files = sources(root)
    assert(files.exists(_.getPath.endsWith(owner)), s"$owner is missing")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if !allowed.contains(rel)
      (line, i) <- codeLines(f)
      if sidecarName.findFirstIn(line).isDefined ||
        sidecarCall.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("graft.sync renames directories only in ParquetMergeSink's one swap and heal") {
    val files = sources(new java.io.File(root, "graft/sync"))
    assert(files.exists(_.getPath.endsWith(swapOwner)), s"$swapOwner is missing")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if rel != swapOwner
      (line, i) <- codeLines(f)
      if line.contains(".rename(")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("graft.sync and graft.sinks read tombstone flags only through LastWriterWins") {
    val lww = "graft/sync/LastWriterWins.scala"
    val files = Seq("graft/sync", "graft/sinks")
      .flatMap(d => sources(new java.io.File(root, d)))
    assert(files.exists(_.getPath.endsWith(lww)), s"$lww is missing")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if rel != lww
      (line, i) <- codeLines(f)
      if line.contains("try_cast(\"boolean\")") ||
        line.contains("does not cast to")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("graft.cli classifies endpoints only through SyncEndpoint.parse") {
    val files = sources(new java.io.File(root, "graft/cli"))
    assert(files.nonEmpty, "graft/cli sources not found")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      (line, i) <- codeLines(f)
      if line.contains("startsWith(\"jdbc:\")")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the three old rollup sidecar names appear only in AggMaintenance's SidecarLayout") {
    val sidecarNames = "\"_GRAFT_AGG_(WM|PARAMS|SCHEMA)\"".r
    val agg = "graft/sync/AggMaintenance.scala"
    val files = sources(root)
    assert(files.exists(_.getPath.endsWith(agg)), s"$agg is missing")
    // the reader's span: its `object` line up to the first closing brace
    // at the object's own indent
    val inside = span(agg, "object SidecarLayout {")
    assert(codeLines(new java.io.File(root, agg)).exists { case (l, i) =>
      inside(i) && sidecarNames.findFirstIn(l).isDefined }, "SidecarLayout " +
      "no longer names the old sidecars: update this guard")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      (line, i) <- codeLines(f)
      if sidecarNames.findFirstIn(line).isDefined
      if rel != agg || !inside(i)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("the JDBC front reads the catalog in one lookup and connects in two places") {
    val source = "graft/sources/JdbcSource.scala"
    val sink = "graft/sinks/JdbcUpsertSink.scala"
    val catalog = span(source, "object Catalog {")
    val connects = Map(source -> span(source, "def withConnection[A](url"),
      sink -> span(sink, "def runPerPartition("))
    val metadata = "\\b(getTables|getColumns|getPrimaryKeys)\\(".r
    val offenders = for {
      f <- sources(new java.io.File(root, "graft"))
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      (line, i) <- codeLines(f)
      if (metadata.findFirstIn(line).isDefined && !(rel == source && catalog(i))) ||
        (line.contains("DriverManager.getConnection") &&
          !connects.get(rel).exists(_(i)))
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("Spark JDBC reads are made only in JdbcSource") {
    val source = "graft/sources/JdbcSource.scala"
    val files = sources(root)
    assert(files.exists(_.getPath.endsWith(source)), s"$source is missing")
    val offenders = for {
      f <- files
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if rel != source
      (line, i) <- codeLines(f)
      if line.contains("read.jdbc(") || line.contains("format(\"jdbc\")")
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
