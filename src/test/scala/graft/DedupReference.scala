package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference implementations the specs compare the engine against. */
object DedupReference {

  /** Min-label propagation over an undirected edge list (a, b) →
    * connected-component representative per node: (id, rep). Each round
    * is a join+groupBy; the fixpoint test is a 1-row aggregate (label
    * sum is strictly decreasing until convergence) — no driver-side
    * graph, rounds bounded by component diameter. Nodes with no edges
    * are NOT emitted (callers coalesce to self).
    *
    * Superseded in the registered queries by
    * [[graft.queries.DedupQueries.starContract]] (same output, O(log² n)
    * rounds instead of diameter); kept here as the independent reference
    * implementation StarContractSpec A/Bs against.
    */
  def labelPropagate(edges: DataFrame): DataFrame = {
    val adj = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    // init fused with round 1: rep = min(self, min neighbor) — one
    // aggregate instead of a distinct + a join round
    var labels = adj
      .groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("rep"))
      .select(col("a").as("id"), col("rep"))
      .localCheckpoint()
    // ADVICE r5: on an empty edge set sum(rep) aggregates to NULL —
    // read it null-safely and return the (empty) labels frame at once
    // instead of NPE-ing in getLong. A corpus with no near-dup pairs is
    // a legal input to every caller (clusters, triangles, split).
    def repSum(): Long = {
      val row = labels.agg(sum(col("rep"))).first()
      if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
    }
    var prevSum = Long.MaxValue
    var curSum = repSum()
    while (curSum != Long.MinValue && curSum < prevSum) {
      val nbrMin = adj
        .join(labels, adj("b") === labels("id"))
        .groupBy(adj("a").as("nid"))
        .agg(min(col("rep")).as("nrep"))
      labels = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(
          col("id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep")
        )
        .localCheckpoint()
      prevSum = curSum
      curSum = repSum()
    }
    labels
  }
}
