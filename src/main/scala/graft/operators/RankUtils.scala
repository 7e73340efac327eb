package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

/** Ranking in one ordered pass ([[graft.plans.RowNumberExec]]), for windows
  * whose parallelism is 1 (`Window.orderBy`) or |groups| (`partitionBy`):
  * here it is the range-partition count. Results equal the windows' when
  * `order` is total within a group (include a unique tiebreak key). */
object RankUtils {
  /** Append `rankCol` = 1-based global row number under `order`. */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame =
    ordered(df, Nil, order, lit(1L), rankCol)

  /** Append `sumCol` = inclusive running sum of integral `value` (NULL adds 0). */
  def globalRunningSum(df: DataFrame, order: Seq[Column], value: Column,
                       sumCol: String): DataFrame =
    ordered(df, Nil, order, value, sumCol)

  /** Append `rankCol` = 1-based row number per group (a NULL key is a group). */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                       rankCol: String): DataFrame =
    ordered(df, groupCols.map(col), order, lit(1L), rankCol)

  private def ordered(df: DataFrame, groups: Seq[Column], order: Seq[Column],
                      value: Column, outCol: String): DataFrame = {
    val Sort(sortOrder, _, child, _) =
      df.drop(outCol).sort(groups.map(_.asc) ++ order: _*).queryExecution.analyzed
    graft.GraftFunctions.installStrategy(df.sparkSession, graft.plans.RowNumberStrategy)
    // Re-aliased, as in asofJoinNative: the analyzer cannot renew a custom
    // node's attribute, so a self-join of the bare node's output conflicts.
    GraftColumnBridge.ofRows(df.sparkSession, graft.plans.RowNumberNode(sortOrder, groups.size,
      GraftColumnBridge.parsedExpression(value.cast("long")),
      AttributeReference(outCol, LongType, nullable = false)(), child))
      .withColumn(outCol, col(outCol))
  }
}
