package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the driver contract: `run` builds its result from a
  * session and an sf data directory, and `oracleSql` is the DuckDB SQL
  * whose rows the result must hash-match. Each family object lists its
  * queries in `all`; [[graft.SparkEntry]] derives the name-keyed maps.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)
