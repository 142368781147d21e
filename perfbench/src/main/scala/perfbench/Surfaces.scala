package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** The declared relational query surface. */
object Surfaces {
  type Query = (SparkSession, String) => DataFrame

  private def relational(m: Map[String, Query]): Map[String, Query] =
    m -- graft.SparkEntry.nonRelationalLifecycle

  /** Relational, Candy, Analytics 1-3 and Tpch2/3 modules. */
  lazy val floor: Map[String, Query] = relational(
    RelationalQueries.queries ++ CandyQueries.queries ++ AnalyticsQueries.queries ++
      Analytics2Queries.queries ++ Analytics3Queries.queries ++
      Tpch2Queries.queries ++ Tpch3Queries.queries)
}
