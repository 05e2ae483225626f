package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of and range joins — operators the reference's downstream consumers
  * need but Spark lacks as single primitives (SURVEY §2.8 mapping).
  */
object AsOf {

  /** As-of join: for each left row, the single right row with the greatest
    * `rightTs <= leftTs` within the same key. Ties on `rightTs` break by
    * the greatest `rightTieBreak`.
    *
    * Implementation is the LINEAR union formulation, not join+dedup: tag
    * both sides, sort once per key by (ts, side, tiebreak) with right rows
    * ordered before left rows at equal timestamps, and carry the most
    * recent right row forward with `last(..., ignoreNulls)`. One shuffle +
    * one sort, O(|L|+|R|) rows — a naive equi-join + row_number dedup
    * materializes every (left × preceding-right) pair first, which is
    * quadratic per key at scale. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, rightTieBreak: String,
               leftCols: Seq[String], rightCols: Seq[String]): DataFrame =
    asofJoinDirected(left, right, key, leftTs, rightTs, rightTieBreak,
      leftCols, rightCols)

  /** `asofJoin` with the pandas `merge_asof` knobs: `forward = true`
    * matches the single right row with the SMALLEST `rightTs >= leftTs`
    * (ties on `rightTs` still break by the greatest `rightTieBreak`);
    * `tolerance` drops matches whose gap exceeds it — compared on
    * `cast("double")` of the ts columns, i.e. SECONDS for timestamp
    * columns and plain units for numeric ones. The tolerance filters the
    * chosen nearest match (merge_asof semantics), it does not fall back
    * to the next-nearest row.
    *
    * Same linear plan as the backward form: one shuffle + one sort over
    * |L|+|R| tagged rows; `forward` only flips the traversal order. */
  def asofJoinDirected(left: DataFrame, right: DataFrame, key: String,
                       leftTs: String, rightTs: String, rightTieBreak: String,
                       leftCols: Seq[String], rightCols: Seq[String],
                       forward: Boolean = false,
                       tolerance: Option[Double] = None): DataFrame = {
    val rightPayload = struct((rightTs +: rightTieBreak +: rightCols)
      .distinct.map(col): _*)
    // null keys / null timestamps never satisfy the SQL join predicate
    // (k = k AND rTs <= lTs) — filter them so the window's null-grouping
    // can't fabricate null-key matches (same contract as AsOfJoinExec)
    val l = left.filter(col(key).isNotNull && col(leftTs).isNotNull).select(
      col(key).as("_k"), col(leftTs).as("_ts"), lit(1).as("_side"),
      struct(leftCols.distinct.map(col): _*).as("_l"))
    val r = right.filter(col(key).isNotNull && col(rightTs).isNotNull).select(
      col(key).as("_k"), col(rightTs).as("_ts"), lit(0).as("_side"),
      rightPayload.as("_r"))
    // backward: ts asc — `last` right seen = greatest rightTs <= leftTs.
    // forward: ts DESC — `last` right seen = smallest rightTs >= leftTs.
    // Either way right rows order before left at equal ts (inclusive
    // bound) and tiebreak asc makes `last` pick the greatest tiebreak.
    val tsOrd = if (forward) col("_ts").desc else col("_ts").asc
    val w = Window.partitionBy(col("_k"))
      .orderBy(tsOrd, col("_side"), col("_r").getField(rightTieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r, allowMissingColumns = true)
      .withColumn("_match", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_match").isNotNull)
    val gated = tolerance match {
      case Some(tol) =>
        val mTs = col("_match").getField(rightTs).cast("double")
        val lTs = col("_ts").cast("double")
        matched.filter((if (forward) mTs - lTs else lTs - mTs) <= tol)
      case None => matched
    }
    gated.select(leftCols.map(c => col("_l." + c).as(c)) ++
      rightCols.map(c => col("_match." + c).as(c)): _*)
  }

  /** Band (interval) join with NO equi key: all (l, r) with
    * |leftTs - rightTs| <= delta. Spark plans a bare interval predicate as
    * a BroadcastNestedLoopJoin — O(|L|·|R|) at any scale. This is the
    * classic bucketing rewrite: quantize each timestamp to delta-width
    * buckets, join the left row's bucket and its two neighbors by
    * equi-join (every within-delta pair shares one of those three bucket
    * pairs), then filter exactly. Shuffle cost is 3 rows per left row on
    * an equi key; per-bucket load is bounded by data density per delta
    * window, so the plan survives 100×. Timestamps are compared in
    * microseconds (`unix_micros`), delta in micros. */
  def bandJoin(left: DataFrame, right: DataFrame, leftTs: Column,
               rightTs: Column, deltaMicros: Long): DataFrame = {
    val l = left.withColumn("_lb", unix_micros(leftTs))
      .withColumn("_bucket",
        explode(array(floor(col("_lb") / deltaMicros) - 1,
          floor(col("_lb") / deltaMicros),
          floor(col("_lb") / deltaMicros) + 1)))
    val r = right.withColumn("_rb", unix_micros(rightTs))
      .withColumn("_bucket", floor(col("_rb") / deltaMicros))
    l.join(r, Seq("_bucket"))
      .filter(abs(col("_lb") - col("_rb")) <= deltaMicros)
      .drop("_bucket", "_lb", "_rb")
  }

  /** As-of join through the native physical operator
    * (`graft.plans.AsOfJoinExec`): same contract as `asofJoin`, but planned
    * as one clustered-merge pass — both sides shuffle on the key, sort, and
    * stream; no union row-padding and no window-frame buffering. Prefer
    * this form; `asofJoin` remains the pure-DataFrame formulation (and the
    * differential test partner). */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String,
                     leftTs: String, rightTs: String, rightTieBreak: String,
                     leftCols: Seq[String], rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val spark = left.sparkSession
    graft.plans.AsOfJoinStrategy.install(spark)
    // narrow each side to what the operator consumes, RE-ALIASING every
    // column: the fresh exprIds guarantee the two children's outputs are
    // disjoint even when both derive from the same relation (self-join),
    // so the analyzer's relation-deduplication never rewrites the right
    // subtree underneath the node's resolved attribute references
    val l = left.select(
      (key +: leftTs +: leftCols).distinct.map(c => col(c).as(c)): _*)
    val r = right.select((key +: rightTs +: rightTieBreak +: rightCols)
      .distinct.map(c => col(c).as(c)): _*)
    val lPlan = bridge.analyzed(l)
    val rPlan = bridge.analyzed(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    val node = graft.plans.AsOfJoinPlan(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), attr(rPlan, rightTieBreak))
    bridge.ofRows(spark, node).select(
      leftCols.map(c => bridge.column(attr(lPlan, c)).as(c)) ++
        rightCols.map(c => bridge.column(attr(rPlan, c)).as(c)): _*)
  }
}
