package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the driver contract: the frame `build` makes from a
  * session and a testdata directory, and the DuckDB `oracle` text whose
  * result must hash-match it (column names and aliases match the Spark
  * result exactly; the compare sorts columns by name). Names are stable
  * across rounds; each parity query routes through the engine surface
  * (Catalog/Frame/Exprs) it demonstrates.
  *
  * The oracle is rendered on first read, so building the registry
  * renders none. `quadratic` marks an oracle that compares every
  * document pair: DuckDB needs minutes per such oracle at sf0.1, and
  * `Verify` lists them in `oracle_quadratic.txt` for the compare's skip
  * list. */
final class Query private (val name: String,
    val build: (SparkSession, String) => DataFrame,
    oracleText: => String, val quadratic: Boolean) {
  lazy val oracle: String = oracleText
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracle: => String, quadratic: Boolean = false): Query =
    new Query(name, build, oracle, quadratic)

  /** Every registered query, family by family. A new query is one record
    * in its family's `queries`. */
  lazy val all: Seq[Query] = Seq(
    RelationalQueries.queries, TpchQueries.queries,
    TimeSeriesQueries.queries, AnalyticsQueries.queries,
    SketchQueries.queries, GraphQueries.queries, ScaleQueries.queries,
    TextQueries.queries, LmQueries.queries, DedupQueries.queries,
    RetrievalQueries.queries, WebQueries.queries,
    MultimodalQueries.queries).flatten
}
