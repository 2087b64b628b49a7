package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.queries._
import graft.queries.Shared.pointsLayer

/** Driver contract — see SURVEY.md §7: the named queries (each family's
  * list in `graft.queries`, every query beside its DuckDB oracle), keyed by
  * name, and the flagship `entry`. The driver's correctness gate runs each
  * query at sf0.01 and compares its rows with its oracle's.
  */
object SparkEntry {

  /** Every named query, family by family. Building it builds no DataFrame
    * and reads no file.
    */
  private[graft] lazy val registry: Seq[QuerySpec] =
    TpchQueries.all ++ SpQueries.all ++ EvQueries.all ++ TxQueries.all ++
      GrQueries.all ++ SimQueries.all ++ DdQueries.all ++ StQueries.all ++
      MmQueries.all ++ IoQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * `spatial.withinDistance` over the customer point layer.
    */
  def entry(spark: SparkSession): DataFrame =
    pointsLayer(spark, "/root/testdata/sf0.001")
      .withinDistanceKm(10.5, 20.5, 3000.0)
      .df.select(col("ck").as("id"), col("x"), col("y"), col("distance"))
}
