package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from per-domain objects under
  * [[graft.queries]]; each query name appears in both maps (or only in
  * `queries` for non-SQL-expressible ops, which get a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's whole value in one query: the snapshot change-delta
    * (SURVEY.md §7.2).
    */
  def entry(spark: SparkSession): DataFrame =
    DeltaQueries.queries("delta_updated")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    DeltaQueries.queries ++
    LakeQueries.queries ++
    RelationalQueries.queries ++
    IngestQueries.queries ++
    DedupQueries.queries ++
    CurationQueries.queries ++
    SimilarityQueries.queries ++
    TextQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    DeltaQueries.oracleSql ++
    LakeQueries.oracleSql ++
    RelationalQueries.oracleSql ++
    IngestQueries.oracleSql ++
    DedupQueries.oracleSql ++
    CurationQueries.oracleSql ++
    SimilarityQueries.oracleSql ++
    TextQueries.oracleSql
}
