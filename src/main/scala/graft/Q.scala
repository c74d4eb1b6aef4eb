package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query: the Spark implementation plus (optionally) an
  * equivalent ANSI SQL string the driver runs in DuckDB as a differential
  * oracle. Column names and row order MUST match between the two (the
  * driver sorts columns by name and hash-compares values).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** flagship queries highlighted in reporting; the driver's Bench
      * times EVERY registered query, not just these */
    headline: Boolean = false)

object Q {
  /** Oracled query. */
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle))

  /** Oracled query whose Spark body IS the oracle text, run through
    * [[runSql]]: one copy of the SQL serves both engines. */
  def sql(name: String, text: String): Q = Q(name, text)(runSql(_, _, text))

  /** `s.sql(text)` over temp views of only the tables `text` names
    * (case-insensitive whole word — a superset of the tables it reads).
    * Each registered view costs one schema-inference job, so a
    * one-table query must not register all ten. */
  def runSql(s: SparkSession, sfDir: String, text: String): DataFrame = {
    Tables.registerViews(s, sfDir,
      Tables.names.filter(t => s"(?i)\\b$t\\b".r.findFirstIn(text).isDefined))
    s.sql(text)
  }

  /** Query with no SQL-expressible oracle (driver records a rows-only check). */
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)
}
