package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.etl.{Metrics, Normalize}
import graft.plans.GraftExtensions
import graft.queries.{CurationQueries, DedupQueries, EmbeddingQueries, LakehouseQueries, MediaQueries, OperatorQueries, ParityQueries, StarQueries, StreamQueries, TextQueries}
import graft.sources.MockUserSource

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of every registered query suite; each key has a
  * matching DuckDB oracle in `oracleSql` unless the operator is not
  * SQL-expressible (then the driver records a weaker rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full reference pipeline
    * (mock source → normalize → clean/dedup → single-pass metrics record).
    * Reference: src/lib/randomuser.js:30-123 end-to-end.
    */
  def entry(spark: SparkSession): DataFrame =
    Metrics.compute(Normalize(MockUserSource.rawUsers(spark)))

  /** One entry per implemented operator from SURVEY.md §2. Each query
    * first installs the native functions, so it also runs in a session
    * that was not built by [[GraftSession]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ParityQueries.queries ++ StarQueries.queries ++ DedupQueries.queries ++
      TextQueries.queries ++ EmbeddingQueries.queries ++
      StreamQueries.queries ++ MediaQueries.queries ++ OperatorQueries.queries ++
      CurationQueries.queries ++ LakehouseQueries.queries).map { case (name, fn) =>
      name -> { (s: SparkSession, dir: String) => GraftExtensions.install(s); fn(s, dir) }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ParityQueries.oracle ++ StarQueries.oracle ++ DedupQueries.oracle ++
      TextQueries.oracle ++ EmbeddingQueries.oracle ++
      StreamQueries.oracle ++ MediaQueries.oracle ++ OperatorQueries.oracle ++
      CurationQueries.oracle ++ LakehouseQueries.oracle
}
