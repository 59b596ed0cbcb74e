package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate-join ("map_join" in the reference): pre-aggregate a child
  * table to one row per key, then left-join onto the fact table.
  *
  * The reference builds this shape by hand in SQL
  * (`scrc/utils/sql_select_utils.py:240-257` — `json_agg(json_build_object(...))
  * GROUP BY decision_id` subqueries joined onto `decision`); it is the
  * single most load-bearing operator there (sections, citations,
  * judgments, file_numbers, parties are all attached this way).
  *
  * Scale notes: aggregating BEFORE the join shrinks the shuffled child
  * to ≤ one row per key (Catalyst will not invent this rewrite — a
  * join-then-aggregate formulation shuffles the full child). Partial
  * (map-side) aggregation applies to the groupBy, and AQE can still
  * pick a broadcast join if the aggregated side turns out small.
  *
  * Skew (measured, PERF.md "Skew evidence for the relational family"):
  * algebraic aggs (count/sum) are skew-immune — partials absorb a hot key
  * before the shuffle. `collectJoin` is holistic: one reducer must hold a
  * hot key's full array, which is irreducible because the OUTPUT row is
  * that array (the reference's json_agg has the same bound) — cost is
  * bounded by hot-key volume, not corpus size. Raw (unaggregated)
  * joins rely on AQE's skew split (verified firing: SortMergeJoin
  * (skew=true)), with Salting.saltedJoin as the AQE-ineligible
  * fallback.
  */
object MapJoin {

  /** fact ⟕ (child groupBy key agg aggs). `aggs` must be aliased. */
  def aggregateJoin(fact: DataFrame, child: DataFrame, key: String,
                    aggs: Seq[Column]): DataFrame =
    fact.join(child.groupBy(key).agg(aggs.head, aggs.tail: _*), Seq(key), "left")

  /** The reference's exact shape: attach all child rows as one
    * array-of-struct column (`ArrayType(StructType)` instead of the
    * reference's JSON strings). Sorted for determinism.
    */
  def collectJoin(fact: DataFrame, child: DataFrame, key: String,
                  outCol: String, childCols: Column*): DataFrame =
    aggregateJoin(fact, child, key,
      Seq(sort_array(collect_list(struct(childCols: _*))).as(outCol)))

  /** Just the aggregated side (for chains that join several children —
    * each child collapses to one row per key before its join).
    */
  def collectJoinSide(child: DataFrame, key: String, outCol: String,
                      childCols: Column*): DataFrame =
    child.groupBy(key).agg(
      sort_array(collect_list(struct(childCols: _*))).as(outCol))
}
