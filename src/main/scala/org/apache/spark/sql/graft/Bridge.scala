package org.apache.spark.sql.graft

import java.io.CharArrayWriter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge.
  *
  * Spark 4 moved Column onto ColumnNode and made the classic
  * converters `private[sql]`; libraries that define native Catalyst
  * expressions conventionally host a one-file bridge inside the
  * `org.apache.spark.sql` package to wrap/unwrap without a session
  * registry round-trip (the same access pattern Spark's own
  * connectors use). Only minimal hooks are exposed.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (possibly custom) logical plan as a DataFrame — the hook
    * a library-defined LogicalPlan node needs to enter the Dataset
    * API (the analyzer resolves any still-unresolved expressions in
    * the plan on first use).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s rows as JSON lines, encoded on the driver with Spark's own
    * generator under the session's JSON options, so each line is the
    * one `toJSON` and `write.json` produce for that row (dropped null
    * fields, session-zone timestamp format). Rows come from the
    * executed plan's collect: a plan that optimizes to a local
    * relation runs no Spark job. Meant for small, per-request results.
    */
  def jsonLines(df: DataFrame): Seq[String] = df.sparkSession.withActive {
    val conf = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val options = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val rows = df.queryExecution.executedPlan.executeCollect()
    val out = new CharArrayWriter()
    val gen = new JacksonGenerator(df.schema, out, options)
    try rows.toSeq.map { row =>
      gen.write(row)
      gen.flush()
      val line = out.toString
      out.reset()
      line
    } finally gen.close()
  }
}
