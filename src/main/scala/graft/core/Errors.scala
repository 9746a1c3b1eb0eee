package graft.core

/** Typed failure ADT (SURVEY §2.10 M3) — replaces the reference's
  * error-string matching (session.py:170-192) with sealed types the CLI
  * maps to exit codes. */
sealed abstract class GraftError(message: String, cause: Throwable = null)
    extends RuntimeException(message, cause)

object GraftError {
  final case class AuthenticationFailed(target: String, cause: Throwable = null)
      extends GraftError(s"authentication failed for $target", cause)
  final case class Unreachable(target: String, cause: Throwable = null)
      extends GraftError(s"database unreachable: $target", cause)
  final case class MissingDatabase(name: String)
      extends GraftError(s"database does not exist: $name")
  final case class MissingTable(name: String)
      extends GraftError(s"source table does not exist: $name")
  final case class MissingPrimaryKey(table: String)
      extends GraftError(s"table $table has no primary key (required as merge conflict target)")
  final case class InvalidConfig(reason: String)
      extends GraftError(s"invalid configuration: $reason")
  final case class SchemaDrift(added: Seq[String], removed: Seq[String])
      extends GraftError("source/destination schema drift:" +
        (if (added.nonEmpty) s" source added [${added.mkString(", ")}]" else "") +
        (if (removed.nonEmpty) s" source no longer has [${removed.mkString(", ")}]"
         else "") +
        " — migrate the destination (full re-sync into a fresh directory," +
        " or alter the destination schema) before continuing")

  object SchemaDrift {

    /** The drift of a `source` column set against a `dest` one, compared
      * case-folded (the case-insensitive catalogs and Spark's own
      * resolution fold identifiers, so a case-only rename is no drift);
      * each side keeps its own casing in the message. None when the sets
      * agree. */
    def between(source: Seq[String], dest: Seq[String]): Option[SchemaDrift] = {
      def missing(from: Seq[String], in: Seq[String]) = {
        val folded = in.map(_.toLowerCase).toSet
        from.filterNot(c => folded(c.toLowerCase))
      }
      val (added, removed) = (missing(source, dest), missing(dest, source))
      Option.when(added.nonEmpty || removed.nonEmpty)(SchemaDrift(added, removed))
    }
  }
}

/** Connection configuration (SURVEY §2.7 X6, reference utils.py:5-13) —
  * credentials ride in Properties, never in the URL. Rejects blank fields
  * like the reference's `attrs_to_uri` (test_utils.py:11-15 analog). */
final case class DbConfig(host: String, port: Int, database: String,
                          user: String, password: String) {
  Seq("host" -> host, "database" -> database, "user" -> user).foreach {
    case (k, v) => if (v == null || v.trim.isEmpty)
      throw GraftError.InvalidConfig(s"$k must be non-empty")
  }
  if (port <= 0 || port > 65535)
    throw GraftError.InvalidConfig(s"port out of range: $port")

  def jdbcUrl: String = s"jdbc:postgresql://$host:$port/$database"

  def properties: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p
  }
}
