package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator query: the Spark build plus (when SQL-expressible)
  * the equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables (SURVEY §5.2). `oracle = None` → driver records a weaker rows-only
  * check.
  *
  * Cross-engine determinism rules used throughout the query library:
  *   - money/quantity sums go through DECIMAL(18,2|4) before summing
  *     (exact, order-independent) and are cast back to DOUBLE for a stable
  *     output schema: `cast(sum(cast(x as decimal(18,2))) as double)`;
  *   - every ts output/comparison is epoch-micros or epoch-millis (see
  *     graft.core.Tables);
  *   - every LIMIT sits on a total order (unique tie-break column);
  *   - window orderings are total orders.
  */
final case class Q(build: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

object Q {
  def apply(oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(build, Some(oracle))
}
