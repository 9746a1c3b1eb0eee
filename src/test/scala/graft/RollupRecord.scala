package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.SidecarIO

/** Direct access to a rollup root's state record (`_GRAFT_AGG_RECORD`:
  * `wm=`, `params=`, `schema=`) for specs that stage crash windows by
  * hand, and to the three root sidecars it replaced (the sidecar layout). */
object RollupRecord {
  val File = "_GRAFT_AGG_RECORD"
  val Fields = Seq("wm", "params", "schema")
  /** The sidecar layout's files, one per field, in field order. */
  val SidecarFiles = Seq("_GRAFT_AGG_WM", "_GRAFT_AGG_PARAMS",
    "_GRAFT_AGG_SCHEMA")

  def fs(dir: String): FileSystem = new Path(dir)
    .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  def read(dir: String): Option[Seq[Option[String]]] =
    SidecarIO.readRecord(fs(dir), new Path(dir, File), Fields,
      "rollup state record")

  def field(dir: String, name: String): Option[String] =
    read(dir).flatMap(_(Fields.indexOf(name)))

  /** Rewrite one field of the root's record, the others kept. */
  def set(dir: String, name: String, value: Option[String]): Unit =
    SidecarIO.writeRecord(fs(dir), new Path(dir, File), Fields,
      read(dir).get.updated(Fields.indexOf(name), value))

  /** Rewind the root's watermark, as a crash before the root commit
    * leaves it. */
  def rewind(dir: String, wm: Long): Unit = set(dir, "wm", Some(wm.toString))

  /** Turn the root into the sidecar layout: each set field in its own
    * sidecar, and no record — or, with `keepRecord`, the record beside
    * them, as a crash between an in-place record write and the old
    * sidecars' drop leaves it. */
  def toSidecarLayout(dir: String, keepRecord: Boolean = false): Unit = {
    SidecarFiles.zip(read(dir).get).foreach { case (f, v) =>
      v.foreach(SidecarIO.write(fs(dir), new Path(dir, f), _))
    }
    if (!keepRecord) SidecarIO.delete(fs(dir), new Path(dir, File))
  }

  /** Which of the record and the old sidecars the root holds, counted
    * under SidecarIO's two-phase rule. */
  def present(dir: String): Set[String] =
    (File +: SidecarFiles).filter(f => SidecarIO.exists(fs(dir),
      new Path(dir, f))).toSet
}
