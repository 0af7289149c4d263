package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One oracle-checked query: its Spark builder, run as
 * `build(session, sfDir)`, and the DuckDB oracle SQL the result must equal
 * over the same sf dir's tables. Column names and numeric types are aligned
 * on both sides (the oracle compare sorts columns by name and hashes
 * values).
 *
 * Numeric-parity rules used throughout:
 *  - money/quantity sums go through DECIMAL(18,2) (exact) and are cast to
 *    double at the end — bit-identical across engines;
 *  - transcendental scores are round(x, 6) on both sides;
 *  - integer division is exact (`cast` after exact division, or `//`).
 *
 * Oracle SQL fragments are `val`s evaluated when their declaring object
 * initializes: a fragment `val` must be declared above the `defs` that
 * read it.
 */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracle: String)

object QueryDef {
  /** Every query, grouped by domain. */
  val registry: Seq[QueryDef] =
    RdfSurfaceQueries.defs ++ KgQueries.defs ++ CorpusQueries.defs ++
      AnnQueries.defs ++ EventQueries.defs
}
