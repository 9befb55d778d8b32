package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Schema alignment and gate filters — SURVEY.md §2.2 P1–P3,
  * re-expressing Data_Cleaning/format_alignment.py:4-29 and
  * Data_Enhancement/bulid_final_dataset.py:291-333.
  */
object Align {

  /** P1 — project to exactly the given (name → default) field list:
    * existing columns pass through null-coalesced to their default,
    * missing columns materialize as the default. Extra columns drop.
    * Ref: format_alignment.py:22-29.
    */
  def alignTo(df: DataFrame, fields: Seq[(String, Column)]): DataFrame = {
    val have = df.columns.toSet
    df.select(fields.map { case (name, default) =>
      (if (have(name)) coalesce(col(name), default) else default).as(name)
    }: _*)
  }

  /** P3 — quality gate: keep rows passing ALL conditions; companion
    * drop-reason accounting counts each failed condition independently
    * (a row failing two gates counts in both), plus kept/total.
    * Ref: bulid_final_dataset.py:291-333,357-363.
    */
  def gate(df: DataFrame, conds: Seq[(String, Column)]): DataFrame =
    df.filter(conds.map(_._2).reduce(_ && _))

  /** Drop-reason accounting for [[gate]] — single aggregate pass. */
  def gateReasons(df: DataFrame, conds: Seq[(String, Column)]): DataFrame = {
    val all = conds.map(_._2).reduce(_ && _)
    val aggs = Seq(
      count(lit(1)).as("n_total"),
      sum(when(all, 1L).otherwise(0L)).as("n_kept")) ++
      conds.map { case (name, c) =>
        sum(when(!c, 1L).otherwise(0L)).as(s"drop_$name")
      }
    df.agg(aggs.head, aggs.tail: _*)
  }
}
