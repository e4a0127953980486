package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-aware regime dispatch (r13 verdict #2).
  *
  * Every iterative/skew-sensitive operator in the engine carries two
  * regimes pinned to ONE oracle: a small/medium form that wins at
  * serving scale (one-task fold, broadcast CSR, window over a key) and
  * an at-scale form that survives 100 TB (relational rounds,
  * groupBy+join-back, per-document streams). Most pairs already route
  * INTERNALLY on a cheap row-count stat, with `0` forcing the
  * distributed branch (the explicit `_dist` lane pins):
  *
  *   - a6/a7/g9  GraphOps       `localMaxEdges`  (sym edge rows)
  *   - g6        Chas.randomize `localMaxChainRows`
  *   - g8        Layout.coseRouted  per-component node counts
  *                                  (`BhMinNodes`/`BhLocalMaxNodes`)
  *   - t16       TextOps.bpeCore    `localMaxWords` (distinct words)
  *   - s11       Pipeline           `DocStreamMaxEdges`
  *   - q5/q6     Serving.open       `residentMaxEdges` (snapshot edge
  *                                  rows, [[ResidentMaxEdges]]): at or
  *                                  below it requests answer in the
  *                                  driver; above it over pinned frames
  *   - g8        Layout.cose        plan shape: inputs whose optimized
  *                                  plans are `LocalRelation`s (a
  *                                  resident search's subnet) lay out in
  *                                  the driver, within `localMaxRows`
  *
  * Routing picks a regime and nothing else: no branch writes session
  * conf (shuffle width, AQE), so every regime runs at the session's
  * own settings and concurrent callers may share one session.
  *
  * This object hosts the shared stat for the remaining pairs — the
  * d16 span family (window vs groupBy+join-back) and r3 MMR (one-task
  * pool fold vs relational rounds) — where the right cheap stat is
  * the INPUT SIZE ESTIMATE, not an exact count: the dispatch must not
  * cost a job, and Catalyst's logical-plan statistics are free (for a
  * parquet scan they come from file sizes; for derived frames from
  * the propagation rules). The estimate errs toward the safe branch:
  * both regimes serve the same oracle, so a misrouted input loses
  * only the small-regime constant factor, never correctness.
  */
object Regime {

  /** Snapshot edge rows at or below which [[Serving.open]] also keeps a
    * driver-resident copy and answers requests with no Spark job: ~3x
    * the reference's largest dataset (Human Monocyte, 171k edges / 96k
    * nodes; BASELINE.md). The copy measured 10.6 MB (Spark's
    * SizeEstimator) for 15.5k edges / 9.9k nodes, so the cutoff bounds
    * it near 350 MB of driver heap at that node/edge ratio. Above it the
    * pinned frames serve (relational joins), and the
    * chromosome-partitioned snapshot is the at-scale form. */
  val ResidentMaxEdges = 500000L

  /** Catalyst's estimated size of the frame in bytes — read from the
    * optimized logical plan's statistics; never launches a job. */
  def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `df`'s size estimate exceeds `maxBytes` — the shared
    * routing predicate. `maxBytes <= 0` forces true (the `_dist` lane
    * convention: 0 pins the at-scale branch, matching
    * `localMaxEdges = 0L` elsewhere). */
  def overBytes(df: DataFrame, maxBytes: Long): Boolean =
    maxBytes <= 0L || estimatedBytes(df) > BigInt(maxBytes)
}
