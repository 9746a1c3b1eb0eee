package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.core.{DbConfig, GraftError}
import graft.sinks.SqlDialect

/** Pure-unit coverage of the JDBC path (SURVEY §2.1 S3/S4, §2.7 X6):
  * the PostgreSQL SQL shapes (ON CONFLICT upsert, PK-preserving DDL).
  * The live end-to-end pipeline is exercised against embedded Derby in
  * JdbcSyncSpec; PostgreSQL differs only in these (unit-pinned) strings.
  */
class JdbcSpec extends AnyFunSuite {

  test("X6: config validation rejects blank fields and bad ports") {
    assertThrows[GraftError.InvalidConfig](DbConfig("", 5432, "db", "u", "p"))
    assertThrows[GraftError.InvalidConfig](DbConfig("h", 5432, " ", "u", "p"))
    assertThrows[GraftError.InvalidConfig](DbConfig("h", 0, "db", "u", "p"))
    val cfg = DbConfig("localhost", 5432, "analytics", "app", "secret")
    assert(cfg.jdbcUrl == "jdbc:postgresql://localhost:5432/analytics")
    assert(!cfg.jdbcUrl.contains("secret")) // credentials never in URL
  }

  test("S4: upsert SQL matches the reference's ON CONFLICT shape") {
    val sql = SqlDialect.Postgres.upsertSql("user_balance",
      Seq("user_id", "balance", "updated"), Seq("user_id"), None).get
    assert(sql == "INSERT INTO user_balance (user_id, balance, updated) " +
      "VALUES (?, ?, ?) ON CONFLICT (user_id) DO UPDATE SET " +
      "balance = EXCLUDED.balance, updated = EXCLUDED.updated")
  }

  test("S4: ordering guard makes stale-batch replays a no-op") {
    val sql = SqlDialect.Postgres.upsertSql("user_balance",
      Seq("user_id", "balance", "updated"), Seq("user_id"),
      orderCol = Some("updated")).get
    assert(sql.endsWith("DO UPDATE SET balance = EXCLUDED.balance, " +
      "updated = EXCLUDED.updated " +
      "WHERE user_balance.updated <= EXCLUDED.updated"))
  }

  test("S4: key-only table degrades to DO NOTHING") {
    val sql = SqlDialect.Postgres.upsertSql("ids", Seq("id"), Seq("id"), None).get
    assert(sql.endsWith("ON CONFLICT (id) DO NOTHING"))
  }

  test("S4: composite key conflict target") {
    val sql = SqlDialect.Postgres.upsertSql("t", Seq("a", "b", "v"), Seq("a", "b"),
      None).get
    assert(sql.contains("ON CONFLICT (a, b) DO UPDATE SET v = EXCLUDED.v"))
  }

  test("S3: create-table DDL preserves primary key and types") {
    val schema = StructType(Seq(
      StructField("user_id", StringType, nullable = false),
      StructField("balance", DecimalType(18, 2), nullable = false),
      StructField("updated", LongType, nullable = false),
      StructField("note", StringType, nullable = true)))
    val ddl = SqlDialect.Postgres.createTableSql("user_balance", schema, Seq("user_id"))
    assert(ddl == "CREATE TABLE IF NOT EXISTS user_balance (" +
      "user_id TEXT NOT NULL, balance NUMERIC(18,2) NOT NULL, " +
      "updated BIGINT NOT NULL, note TEXT, PRIMARY KEY (user_id))")
  }
}
