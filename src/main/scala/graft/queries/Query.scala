package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: the DataFrame builder and the DuckDB SQL
  * twin the oracle gate compares it with, declared side by side so a
  * query without a twin does not compile. `sql` is by-name: some twins
  * encode fixtures when evaluated (m11/m12), and building the registry
  * must not pay for that.
  */
final class Query(val name: String,
                  val build: (SparkSession, String) => DataFrame,
                  sqlText: => String) {
  def sql: String = sqlText
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
            sql: => String): Query = new Query(name, build, sql)
}
