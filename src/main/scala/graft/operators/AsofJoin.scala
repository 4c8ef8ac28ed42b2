package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for each left row, the latest right row whose time is ≤ the
  * left row's time within the same key group (the time-series point-in-time
  * lookup; ClickHouse spells it ASOF JOIN, kdb `aj`).
  *
  * Spark-first shape: NO join operator at all. Both sides union into one
  * stream tagged by origin, one window partitioned by the join keys and
  * ordered by (time, origin) carries the right side's payload forward with
  * `last(_, ignoreNulls)`, and left rows read the carried value. That is
  * ONE shuffle on the keys and a linear scan per group — the range-join
  * formulation (`l JOIN r ON l.k = r.k AND r.t <= l.t` + max-per-row)
  * explodes quadratically on hot keys and cannot survive 100 TB. Right
  * rows sort BEFORE left rows at equal timestamps, so an exactly-
  * simultaneous right row matches (the `>=` ASOF convention).
  *
  * Contract: `right`'s non-key non-time columns are the payload; callers
  * must pre-aggregate `right` to one row per (keys, time) — which row of a
  * timestamp tie wins is otherwise engine-defined in every ASOF
  * implementation. The payload travels as one struct, so multi-column
  * payloads stay row-atomic (no per-column drift on nulls).
  */
object AsofJoin {

  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String): DataFrame = {
    val valueCols = right.columns.filterNot((keys :+ timeCol).contains).toSeq
    // fail fast with the cause, not an AMBIGUOUS_REFERENCE three operators
    // downstream: payload names must not collide with left columns, and
    // the internal carrier names must be free on both sides
    val collisions = valueCols.intersect(left.columns.toSeq)
    require(collisions.isEmpty,
      s"asof: right payload column(s) ${collisions.mkString(", ")} already exist on the left side")
    val reserved = Seq("__rv", "__left", "__match")
      .intersect(left.columns.toSeq ++ right.columns.toSeq)
    require(reserved.isEmpty,
      s"asof: reserved internal column name(s) in use: ${reserved.mkString(", ")}")
    val rv = struct(valueCols.map(col): _*)
    val r2 = right
      .select((keys :+ timeCol).map(col) :+ rv.as("__rv"): _*)
      .withColumn("__left", lit(0))
    val l2 = left
      .withColumn("__rv", lit(null).cast(r2.schema("__rv").dataType))
      .withColumn("__left", lit(1))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("__left").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.unionByName(r2, allowMissingColumns = true)
      .withColumn("__match", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__left") === 1)
      .select(left.columns.toSeq.map(col) ++
        valueCols.map(c => col(s"__match.$c").as(c)): _*)
  }
}
