package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Neighbor-label MODE for synchronous label propagation, composed from
  * Spark's built-in aggregates: per group (= per vertex), the most frequent
  * non-self label, ties broken by the SMALLEST label — `ORDER BY cnt DESC,
  * label ASC LIMIT 1` exactly (`mode(_, deterministic = true)`).
  *
  * The second input marks the caller's PLUMBING self-loop row (dst == src,
  * added so every vertex has a group): it is excluded from the mode — LP
  * adopts the neighbors' mode, never its own label — and carries the
  * vertex's own previous label out as `x_old`, for the loop's fused
  * changed-count convergence (Iterate/IterConfig). A null flag counts as a
  * neighbor row; null labels are ignored.
  *
  * `mode` keeps one whole histogram per group, so [[graft.algo.LabelPropagation]]
  * does not use this in its rounds (it counts per (vertex, label) instead);
  * it is the `label_mode` SQL function and a Column for ad-hoc queries.
  */
object LabelMode {

  /** `labelMode(label, isSelf)` aggregates to struct(x = neighbor mode, or
    * the own label when there is no neighbor, x_old = own previous label). */
  def labelMode(label: Column, isSelf: Column): Column = {
    val self = coalesce(isSelf, lit(false))
    val own = max(when(self, label))
    val nbr = mode(when(!self, label), true)
    struct(coalesce(nbr, own).as("x"), coalesce(own, nbr).as("x_old"))
  }
}
