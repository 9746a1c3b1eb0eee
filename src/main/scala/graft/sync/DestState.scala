package graft.sync

import java.sql.{Connection, ResultSet, SQLException, Types}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.SidecarIO
import graft.sinks.JdbcUpsertSink

/** What a sync destination records about itself. The reference keeps no
  * checkpoint — a sync restarts from state in the destination (SURVEY
  * §3.1, reference README.md:90) — and this record is the part of that
  * state the destination's rows cannot carry. One record per
  * destination, in one of two stores: a framed [[SidecarIO]] file
  * `<dest>.__merge_state` beside a parquet destination (it must survive
  * the merge's whole-directory swap), or one row per destination table in
  * `graft_sync_dest` in a JDBC destination's database.
  *
  * @param restartWm restart marker: the low watermark of a batch whose
  *                  commit is not atomic (a partitioned overwrite commits
  *                  per partition, a JDBC upsert per task). Set before
  *                  the commit starts, cleared once it has fully landed;
  *                  a surviving marker means a possibly-partial commit,
  *                  and the next run re-extracts the whole batch from it
  *                  (the idempotent merge absorbs the replay).
  * @param appliedWm applied high-watermark of a tombstoned destination:
  *                  every extracted row at or below it, deletes included,
  *                  is fully applied. Applied deletes leave no row, so
  *                  dest MAX(wm) alone would re-extract the whole
  *                  accumulated delete feed on every poll (r16 advice).
  *                  Advanced only with a fully-committed (or proven
  *                  no-op) batch, and never backwards. Blind destinations
  *                  never set it: their live rows advance dest MAX.
  * @param params    the frozen parameterisation: `tomb=<col>` for a
  *                  tombstoned destination, None for a blind one (see
  *                  [[DestState.freeze]]).
  * @param destMax   the destination's committed MAX(watermark), canonical
  *                  (core.Watermark); None = unknown. Parquet only: it
  *                  spares T1 the scan that would relearn it every poll.
  * @param schema    the destination schema as a read returns it (every
  *                  field nullable); None = unknown. Parquet only: T1
  *                  reads with it instead of an inference job.
  *
  * `destMax` and `schema` say what the destination's rows are, so only
  * the writes that know them exactly record them. A whole-directory write
  * (the cold write, the unpartitioned rewrite) observes MAX beside the
  * count its write job already takes, and writes the schema it wrote. A
  * partitioned merge without deletes raises a known MAX to the observed
  * MAX of the partitions it rewrote: its upserts only replace a key's row
  * with a later one. Anything that may lower MAX or change the schema
  * clears the field BEFORE its commit starts (a partitioned merge that
  * deletes, an unpartitioned rewrite that deletes, `Reconcile`); Compact
  * rewrites the same rows and leaves both. A missing field is relearned
  * by T1's scan or inference, which records it.
  *
  * No stale-high MAX: every write that could leave the rows below a
  * recorded MAX has cleared it before its commit, and the raises are
  * bounded by rows the destination holds. A crash between a commit and
  * its record write leaves the field stale-LOW, which is safe: the
  * extract's lower bound is inclusive and the merge idempotent, so the
  * next poll re-reads the committed batch, proves it applied and raises
  * the field to the batch's live MAX. Like the merge, the record assumes
  * one writer per destination (ROADMAP D8): a foreign write into the
  * directory makes both fields stale.
  *
  * Every state change is one write of the record, through [[DestState.Store]]. */
final case class DestState(restartWm: Option[Long], appliedWm: Option[Long],
                           params: Option[String],
                           destMax: Option[Long] = None,
                           schema: Option[StructType] = None) {

  /** T1's restart point, given the destination's MAX(watermark): the
    * higher of dest MAX and the applied bound (both promise "everything
    * at or below me is applied"), lowered to a surviving restart marker
    * so an interrupted batch is re-extracted in full. None when neither
    * the rows nor the record say anything — the caller starts from the
    * source MIN. */
  def restart(destMax: Option[Long]): Option[Long] =
    ((destMax ++ appliedWm).maxOption ++ restartWm).minOption

  /** The record after a batch through `hi` has fully landed: marker
    * cleared, applied bound advanced but never regressed. */
  private def committed(hi: Option[Long]): DestState =
    copy(restartWm = None, appliedWm = (appliedWm ++ hi).maxOption)

  /** A known MAX raised to `m`, the MAX of rows the destination now
    * holds; an unknown one stays unknown. */
  private[sync] def raised(m: Option[Long]): DestState =
    copy(destMax = destMax.map(d => (m.toSeq :+ d).max))
}

object DestState {

  val Empty: DestState = DestState(None, None, None)

  /** The tombstone-freeze rule, shared by both fronts (the keyed IVM
    * lanes' `tomb=` stamp rule, transposed to the sync destination): one
    * destination, one tombstone setting. Returns the params the record
    * must hold, or refuses. An unpopulated destination (none yet, or
    * emptied) adopts this run's setting; a populated one must present
    * the setting it was built under. Mixing is the silent-corruption case
    * this refuses: a tombstone-blind sync into a tombstoned destination
    * would apply delete markers as upserts (NULL-payload rows landing as
    * data); a tombstoned sync into a blind one means earlier batches'
    * markers (if any) were already mis-applied. `populated` is asked
    * only on a mismatch. */
  def freeze(stored: Option[String], tomb: Option[String],
             populated: => Boolean, dest: String): Option[String] = {
    val wanted = tomb.map(t => s"tomb=$t")
    if (stored == wanted || !populated) wanted
    else throw graft.core.GraftError.InvalidConfig((stored, tomb) match {
      case (Some(s), Some(t)) =>
        s"$dest is frozen as '$s' but this sync says tomb=$t — one " +
          "destination, one tombstone column; rebuild the destination " +
          "to change it"
      case (Some(s), None) =>
        s"$dest was maintained WITH tombstones ('$s') — a tombstone-blind " +
          "sync would apply delete markers as upserts; pass the tombstone " +
          "column or rebuild the destination"
      case (None, _) =>
        s"$dest was populated tombstone-blind — earlier batches' delete " +
          "markers (if any) were applied as upserts, so its current state " +
          "cannot be trusted under delete semantics; rebuild the " +
          "destination with the tombstone column frozen from the start"
    })
  }

  /** The store of the parquet destination at `dir`. */
  private[graft] def parquet(fs: FileSystem, dir: String): Store =
    new ParquetStore(fs, dir)

  /** The store of JDBC destination table `table`, on `conn`. */
  private[graft] def jdbc(conn: Connection, table: String): Store =
    new JdbcStore(conn, table)

  /** One destination's record and the lifecycle over it: [[open]] once
    * per run, then [[markRestart]] before a non-atomic commit and
    * [[commit]] after a batch has landed; [[describe]] changes only what
    * the record says about the destination's rows. A change that leaves
    * the record as it is writes nothing, so an idle poll costs one read. */
  private[graft] abstract class Store {
    protected def where: String
    protected def read(): Option[DestState]
    /** The pre-record artifacts' state, folded into one record. */
    protected def readLegacy(): DestState
    /** False when a concurrent writer created the record first. */
    protected def create(s: DestState): Boolean
    protected def update(from: DestState, to: DestState): Unit
    protected def dropLegacy(): Unit

    private var cached: Option[Option[DestState]] = None

    /** The record as stored (None: there is none), read once. */
    private[graft] def stored: Option[DestState] = cached.getOrElse {
      val r = read()
      cached = Some(r)
      r
    }

    /** The state T1 reads: the record, else — for a populated
      * destination written before the record existed — its old
      * artifacts' state, else empty. */
    def current(populated: => Boolean): DestState =
      stored.getOrElse(if (populated) readLegacy() else Empty)

    /** Admit a run with tombstone setting `tomb` ([[freeze]]). A cold
      * start (`populated` false) owns the whole record: the marker and
      * applied bound of an earlier, since dropped incarnation would
      * silently skip this one's rows, so it writes `{no restart, no
      * applied, params}` before any data is committed. The first run to
      * find a populated destination without a record writes the record
      * from the old artifacts' state, and only then drops them.
      * `populated` is asked only when the answer matters, so a
      * steady-state blind poll, whose record a reset would not change,
      * never asks. */
    def open(tomb: Option[String], populated: => Boolean): DestState = {
      val found = current(populated)
      val fresh = DestState(None, None,
        freeze(found.params, tomb, populated, where))
      val want = if (populated) found else fresh
      stored match {
        case None =>
          if (!create(want)) {
            // a concurrent run created it: re-admit against its record
            cached = None
            return open(tomb, populated)
          }
          dropLegacy()
        case Some(r) if r != want => update(r, want)
        case _ => ()
      }
      cached = Some(Some(want))
      want
    }

    def markRestart(wm: Long): Unit = set(_.copy(restartWm = Some(wm)))

    /** Clear the marker, advance the applied bound to `hi` and record
      * what the commit left in the destination (`seen`: its MAX and
      * schema), in one write. */
    def commit(hi: Option[Long],
               seen: DestState => DestState = identity): Unit =
      set(s => seen(s.committed(hi)))

    /** Change only the destination's MAX and schema; the marker and the
      * applied bound stay. Without a record there is nothing to change. */
    def describe(f: DestState => DestState): Unit =
      if (stored.isDefined) set(f)

    private def set(f: DestState => DestState): Unit = {
      val from = stored.getOrElse(
        throw new IllegalStateException(s"$where: state record not opened"))
      val to = f(from)
      if (to != from) {
        update(from, to)
        cached = Some(Some(to))
      }
    }
  }

  private final class ParquetStore(fs: FileSystem, dir: String) extends Store {
    protected val where = s"destination $dir"

    private def beside(suffix: String) = new Path(dir.stripSuffix("/") + suffix)
    private val path = beside(".__merge_state")

    /** Five lines, `restart=`, `applied=`, `params=`, `max=`, `schema=`
      * (Catalyst JSON, one line); an empty value is None. A record from
      * before the last two fields has three lines and reads them as
      * None. */
    protected def read(): Option[DestState] =
      SidecarIO.read(fs, path).map { s =>
        def field(line: String, name: String): Option[String] =
          if (line.startsWith(s"$name=")) Some(line.drop(name.length + 1))
          else throw new java.io.IOException(s"unreadable sync state record $path")
        val lines = s.split("\n", 5)
        if (lines.length != 3 && lines.length != 5)
          throw new java.io.IOException(s"unreadable sync state record $path")
        val Seq(r, a, p, m, sc) = lines.toSeq.zip(
          Seq("restart", "applied", "params", "max", "schema"))
          .map { case (l, n) => field(l, n).filter(_.nonEmpty) }
          .padTo(5, None)
        DestState(r.flatMap(_.toLongOption), a.flatMap(_.toLongOption), p,
          m.flatMap(_.toLongOption),
          sc.map(DataType.fromJson(_).asInstanceOf[StructType]))
      }

    protected def create(s: DestState): Boolean = { update(s, s); true }

    protected def update(from: DestState, to: DestState): Unit =
      SidecarIO.write(fs, path,
        s"restart=${to.restartWm.getOrElse("")}\n" +
          s"applied=${to.appliedWm.getOrElse("")}\n" +
          s"params=${to.params.getOrElse("")}\n" +
          s"max=${to.destMax.getOrElse("")}\n" +
          s"schema=${to.schema.fold("")(_.json)}")

    // the three sidecars the record replaces: pending marker, applied
    // bound, params stamp
    private val legacy = Seq(".__merge_pending", ".__merge_applied_wm",
      ".__merge_params").map(beside)

    protected def readLegacy(): DestState = {
      val Seq(pending, applied, params) =
        legacy.map(SidecarIO.read(fs, _).map(_.trim))
      DestState(pending.flatMap(_.toLongOption),
        applied.flatMap(_.toLongOption), params)
    }

    protected def dropLegacy(): Unit = legacy.foreach(SidecarIO.delete(fs, _))
  }

  private final class JdbcStore(conn: Connection, table: String) extends Store {
    protected val where = s"destination table $table"

    private val Table = "graft_sync_dest"

    private def select[A](sql: String)(f: ResultSet => A): Option[A] = {
      val ps = conn.prepareStatement(sql)
      try {
        ps.setString(1, table)
        val rs = ps.executeQuery()
        try { if (rs.next()) Some(f(rs)) else None } finally rs.close()
      } finally ps.close()
    }

    private def wm(rs: ResultSet, i: Int): Option[Long] =
      graft.core.Watermark.toMicros(rs.getObject(i))

    private def exists(t: String) = JdbcUpsertSink.tableExists(conn, t)

    protected def read(): Option[DestState] =
      if (!exists(Table)) None
      else select(s"SELECT restart_wm, applied_wm, params FROM $Table " +
        "WHERE table_name = ?")(rs =>
        DestState(wm(rs, 1), wm(rs, 2), Option(rs.getString(3))))

    /** INSERT only when absent. A failed CREATE or INSERT is judged by
      * fact, as `JdbcUpsertSink.insertMisses` judges a duplicate key: the
      * table or row is there now → a concurrent run made it; absent → a
      * real error, rethrown. */
    protected def create(s: DestState): Boolean = {
      if (!exists(Table)) {
        val st = conn.createStatement()
        try st.executeUpdate(s"CREATE TABLE $Table (" +
          "table_name VARCHAR(128) NOT NULL PRIMARY KEY, restart_wm BIGINT, " +
          "applied_wm BIGINT, params VARCHAR(256))")
        catch { case _: SQLException if exists(Table) => 0 }
        finally st.close()
      }
      val ps = conn.prepareStatement(s"INSERT INTO $Table " +
        "(table_name, restart_wm, applied_wm, params) VALUES (?, ?, ?, ?)")
      try {
        ps.setString(1, table)
        bind(ps, 2, s.restartWm, Types.BIGINT)
        bind(ps, 3, s.appliedWm, Types.BIGINT)
        bind(ps, 4, s.params, Types.VARCHAR)
        ps.executeUpdate()
        true
      } catch {
        case e: SQLException => if (read().isDefined) false else throw e
      } finally ps.close()
    }

    /** One UPDATE of the changed columns — never DELETE+INSERT, which
      * could lose the record to a crash between the two and trips
      * DuckDB's ART-index limitation inside one transaction. */
    protected def update(from: DestState, to: DestState): Unit = {
      val sets = Seq(
        Option.when(to.restartWm != from.restartWm)(
          ("restart_wm = ?", Seq(to.restartWm), Types.BIGINT)),
        Option.when(to.appliedWm != from.appliedWm)(to.appliedWm match {
          // monotone: a concurrent run's higher bound stays
          case Some(_) => ("applied_wm = CASE WHEN applied_wm IS NULL OR " +
            "applied_wm < ? THEN ? ELSE applied_wm END",
            Seq(to.appliedWm, to.appliedWm), Types.BIGINT)
          case None => ("applied_wm = ?", Seq(None), Types.BIGINT)
        }),
        Option.when(to.params != from.params)(
          ("params = ?", Seq(to.params), Types.VARCHAR))).flatten
      val ps = conn.prepareStatement(s"UPDATE $Table SET " +
        sets.map(_._1).mkString(", ") + " WHERE table_name = ?")
      try {
        val binds = sets.flatMap { case (_, vs, t) => vs.map(_ -> t) }
        binds.zipWithIndex.foreach { case ((v, t), i) => bind(ps, i + 1, v, t) }
        ps.setString(binds.size + 1, table)
        ps.executeUpdate()
        ()
      } finally ps.close()
    }

    private def bind(ps: java.sql.PreparedStatement, i: Int, v: Option[Any],
                     sqlType: Int): Unit = v match {
      case Some(l: Long) => ps.setLong(i, l)
      case Some(s) => ps.setString(i, s.toString)
      case None => ps.setNull(i, sqlType)
    }

    // the three tables the record replaces: restart marker, applied
    // bound, params stamp
    private val legacy = Seq("graft_sync_state" -> "restart_wm",
      "graft_sync_applied" -> "applied_wm", "graft_sync_params" -> "params")

    protected def readLegacy(): DestState = {
      val Seq(restart, applied, params) = legacy.map { case (t, c) =>
        if (!exists(t)) None
        else select(s"SELECT $c FROM $t WHERE table_name = ?")(_.getObject(1))
          .flatMap(Option(_))
      }
      DestState(restart.flatMap(graft.core.Watermark.toMicros),
        applied.flatMap(graft.core.Watermark.toMicros), params.map(_.toString))
    }

    /** Only this destination's rows: other tables' syncs still read the
      * old tables until their own first run. */
    protected def dropLegacy(): Unit = legacy.foreach { case (t, _) =>
      if (exists(t)) {
        val ps = conn.prepareStatement(s"DELETE FROM $t WHERE table_name = ?")
        try { ps.setString(1, table); ps.executeUpdate(); () }
        finally ps.close()
      }
    }
  }
}
