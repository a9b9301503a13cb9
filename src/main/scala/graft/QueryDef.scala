package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. Column names/aliases MUST match between the two — the
  * driver sorts columns by name before hashing.
  *
  * `staged` is an OPTIONAL second oracle for the materialized-tier gate
  * (tools/check.py --staged): SQL that may reference `dump_<query>` views
  * over OTHER queries' verified parquet dumps in the same Verify outDir,
  * so a composed pipeline whose monolithic oracle exceeds the oracle
  * engine's disk at the top tier can be verified stage-against-predecessor
  * instead (the q_funnel_stage_* chain). Chain of trust: stage 1's staged
  * oracle recomputes from base tables; each later stage recomputes ONLY
  * its own transformation from the predecessor's dump, which the same
  * artifact already hash-verified.
  */
final case class QueryDef(
    name: String,
    query: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    staged: Option[String] = None)

object QueryDef {
  def apply(name: String, oracle: String)(
      query: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, query, Some(oracle))

  def withStaged(name: String, oracle: String, staged: String)(
      query: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, query, Some(oracle), Some(staged))
}
