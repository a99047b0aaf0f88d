package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** The catalog's fixed-point format: a double x is stored as the
  * BIGINT round(x·1e6) ("micro" units), so sums, distances and dot
  * products over it are exact integers on both engines. The fragment
  * is valid Spark SQL and DuckDB alike, so the Spark plans and the
  * oracles read one spelling.
  */
private[queries] object Micro {
  def sql(x: String): String = s"CAST(round($x * 1e6) AS BIGINT)"

  def of(x: String): Column = expr(sql(x))

  /** Element-wise over the array `arr`: Spark `transform`. */
  def vec(arr: String): Column = expr(s"transform($arr, x -> ${sql("x")})")

  /** [[vec]]'s DuckDB twin. */
  def vecSql(arr: String): String = s"list_transform($arr, x -> ${sql("x")})"
}
