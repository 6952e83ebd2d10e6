package graft.etl

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.RunConstant

/** Audit-column conventions of the reference's Delta writers
  * (code/ukg_wrkload_dtl.py:194-203, ukg_dept_bus_strctr.py:74-81):
  * every table carries RUN_ID, ROW_INSERT_TSP, ROW_UPDT_TSP,
  * INSERT_USER_ID, UPDT_USER_ID.
  */
object Audit {

  /** The reference's RUN_ID encoding (ukg_wrkload_dtl.py:253-263):
    * yyyy*10^12 + MM*10^10 + dd*10^8 + HH*10^6 + mm*10^4 + ss*100
    * (+ 2 microsecond digits, dropped here for determinism). Equals
    * `yyyyMMddHHmmss * 100` of the supplied timestamp column.
    */
  def runIdFrom(ts: Column): Column =
    date_format(ts, "yyyyMMddHHmmss").cast("long") * 100

  /** Append the audit columns. `runId` should come from `runIdFrom`
    * over a data-derived timestamp when determinism matters. An input
    * column with an audit column's name is replaced in place, as by
    * `withColumn`. One projection: chained `withColumn`s re-analyze
    * the growing plan once per column.
    *
    * `RUN_ID` and the two timestamps are bound as run constants
    * ([[graft.plans.RunConstant]]): the timestamps are the query's
    * `current_timestamp()` and `RUN_ID` is `runId`'s value, as
    * before, but a new run's values do not change the generated
    * class, so a warm write compiles nothing. */
  def withAuditColumns(df: DataFrame, runId: Column, user: String): DataFrame =
    // ListMap: `withColumns` appends new columns in the map's order
    df.withColumns(ListMap(
      "RUN_ID" -> RunConstant(runId),
      "ROW_INSERT_TSP" -> RunConstant(current_timestamp()),
      "ROW_UPDT_TSP" -> RunConstant(current_timestamp()),
      "INSERT_USER_ID" -> lit(user),
      "UPDT_USER_ID" -> lit(user)))
}
