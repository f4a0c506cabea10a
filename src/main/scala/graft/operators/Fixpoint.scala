package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** The one iterate-to-fixpoint loop; it owns the cut-and-probe policy.
  * Each checked frame is `localCheckpoint`ed, so the next round joins
  * materialized rows instead of replaying every earlier round, and the
  * probe reads the cut rows. Two rounds run per check: a check costs a
  * cut job plus a collect job, and these fixpoints are shallow
  * (near-dup clusters have diameter 1-2; path doubling closes depth d
  * in log2 d rounds), so checking every round spent about half the
  * jobs on bookkeeping. That is sound because the probe is monotone:
  * unchanged across two rounds means neither round moved it, and
  * rounds past the fixpoint are identity.
  *
  * Callers: connected components ([[DedupOps.dupClustersOf]], label
  * sum) and transitive closure ([[ClosureOps.ancestorClosure]], pair
  * count); both lattices are finite, so both stop on their own. */
object Fixpoint {

  /** Iterate `step` from `init` until the aggregate `probe` reads the
    * same after a double round as before it; returns the last cut. An
    * empty `init` (null probe) is already the fixpoint. */
  def converge(init: DataFrame, probe: Column)(step: DataFrame => DataFrame): DataFrame = {
    def read(df: DataFrame): Any = df.agg(probe).collect()(0).get(0)
    var cur = init.localCheckpoint()
    var prev: Any = null
    var now = read(cur)
    while (now != prev) {
      cur = step(step(cur)).localCheckpoint()
      prev = now
      now = read(cur)
    }
    cur
  }
}
