package graft

import graft.sources.Tables
import org.scalatest.funsuite.AnyFunSuite

/** The SQL-text queries run one copy of their SQL (`Q.sql` / `Q.runSql`)
  * over temp views of only the tables that text names: each view is a
  * schema-inference job at construction, so a one-table query that
  * registered all ten would pay nine jobs for nothing. */
class SqlTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val expected = Map(
    "tpch_q2ish" -> Set("lineitem"),
    "tpch_q22ish" -> Set("customer", "nation", "orders"),
    "subquery_exists" -> Set("customer", "orders"),
    "grouping_sets" -> Set("lineitem"),
    "sql_entry_ngrams" -> Set("documents"),
    "sql_entry_ngrams_fold" -> Set("documents"))

  private def tableViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
      .intersect(Tables.names.toSet)

  test("SQL-text queries analyse and register exactly the views they name") {
    try expected.toSeq.sortBy(_._1).foreach { case (name, views) =>
      Tables.names.foreach(spark.catalog.dropTempView)
      val df = SparkEntry.queries(name)(spark, SparkTestSession.sf0001)
      df.queryExecution.assertAnalyzed()
      assert(tableViews == views, s"$name registered $tableViews")
    } finally Tables.registerViews(spark, SparkTestSession.sf0001) // restore for sibling suites
  }

}
