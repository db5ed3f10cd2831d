package graft.core

import org.apache.spark.sql.SparkSession

/** Session switch for the ε-gate on approximate-by-design queries
  * (agg_approx_distinct, agg_approx_percentile, hll_union_distinct).
  *
  * Gated (default): the plan ALSO computes the exact holistic twin and
  * raise_errors if the sketch lands outside ε — the form the DuckDB
  * oracle hash-checks, keeping zero oracle exemptions. That exact twin
  * is a verification harness, not the production shape: a real 100 TB
  * run uses the sketch precisely to avoid the holistic aggregate's
  * full-multiset buffers.
  *
  * Ungated (`graft.approx.exactGate=false`, the Scale session shape of
  * graft.core.Sessions that Bench runs): the plan is the sketch
  * ALONE — fixed-memory partial aggregation, the representative scale
  * shape — so the benchmarked/soaked cost is the cost a user would
  * actually pay. Verify keeps the gate ON, so every
  * execution the correctness gate sees remains ε-asserted in-plan.
  */
object ApproxGate {
  def exactGate(s: SparkSession): Boolean =
    s.conf.get("graft.approx.exactGate", "true").toBoolean
}
