package graft.core

import org.apache.spark.sql.DataFrame

/** Checkpoint discipline for the engine's long iterative DataFrame loops
  * (BPE training, k-NN recall sweeps, k-truss and coreness peels): per-round
  * `localCheckpoint` truncates lineage cheaply but stores its blocks ON
  * EXECUTORS — non-recomputable, so one lost executor kills a multi-hour
  * run. `reliableEvery > 0` swaps every k-th round's truncation for a
  * RELIABLE `checkpoint` (checkpoint-dir-backed, requires
  * `sparkContext.setCheckpointDir`), bounding replay after a loss to at
  * most k rounds of work. Off by default: the gates run single-JVM where
  * executor loss means the app is gone anyway.
  */
object Iterate {
  def save(df: DataFrame, reliableEvery: Int, round: Int): DataFrame = {
    val ck =
      if (reliableEvery > 0 && round % reliableEvery == 0) df.checkpoint()
      else df.localCheckpoint()
    // checkpoints truncate RDD lineage but INHERIT the origin plan's
    // size estimate, whose BigInt bit-length compounds multiplicatively
    // across rounds of join-heavy loops until the driver spends minutes
    // per stats walk (found live: the k-truss sweep's second peel).
    // Clamp at the round boundary — see Glue.clampCheckpointStats.
    org.apache.spark.sql.graftglue.Glue.clampCheckpointStats(ck, df)
  }
}
