package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The iterative loops' checkpoint seam — every fixpoint/K-round engine
  * ([[LabelPropagation]], `GraphQueries.pagerankConverged`,
  * `BpeQueries.train`) ends each round by materializing its state here
  * instead of calling `localCheckpoint` directly, so ONE session config
  * decides the durability/speed trade:
  *
  *   - `graft.iter.checkpoint = local` (default): eager
  *     `localCheckpoint` — state lives in executor-local blocks,
  *     lineage truncated. Fastest (no extra write), and correct on a
  *     non-preemptible cluster or in `local[*]`. The known failure
  *     mode at scale: lose ONE executor at round 40 of an hours-long
  *     fixpoint and the job dies unrecoverably, because the truncated
  *     lineage points at blocks that no longer exist.
  *   - `graft.iter.checkpoint = reliable`: eager `checkpoint` to the
  *     context's checkpoint directory (HDFS/object store on a real
  *     cluster — callers must have called
  *     `spark.sparkContext.setCheckpointDir` first; we fail loudly,
  *     not silently-local, if they haven't). Each round pays one
  *     distributed-filesystem write of the state, and in exchange a
  *     preempted executor costs one task retry (re-read from the
  *     checkpoint file) instead of the whole job — the right default
  *     for spot/preemptible fleets. Measured cost delta is recorded in
  *     SCALE.md's iterative-regime ledger.
  *
  * Both modes are EAGER — the round state is referenced 2-3× per round
  * (propagate + shortcut + convergence diff), and a lazy checkpoint
  * would re-execute the round's plan per reference, which is the
  * 2^K-plan-blowup this seam exists to prevent.
  *
  * Not every materialization goes through this seam yet. Six sites
  * call `localCheckpoint` directly and so ignore `graft.iter.checkpoint`
  * today: their blocks stay executor-local even under `reliable`. They
  * are `GraphQueries.relaxRounds`' loop relation, the `ExpandPageRank`
  * and `ExpandPpr` TVF rules' weighted relation, `DocQueries`'
  * span-dedup `occ` and lm-surprisal transition table `tr`, and
  * `Multimodal`'s shared decode. Routing them through [[iter]] is
  * ROADMAP.md direction 3, "Materialize at execution time, through one
  * seam".
  */
object Checkpoints {

  val ConfKey = "graft.iter.checkpoint"

  /** Materialize one round of loop state under the session's configured
    * backend.
    */
  def iter(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ConfKey, "local") match {
      case "local" => df.localCheckpoint(eager = true)
      case "reliable" =>
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$ConfKey=reliable requires spark.sparkContext.setCheckpointDir " +
            "to point at cluster-durable storage; refusing to fall back to " +
            "executor-local blocks")
        df.checkpoint(eager = true)
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** `body` over `df` materialized by [[iter]]; the blocks are
    * [[release]]d when `body` returns or throws.
    */
  def withIter[A](df: DataFrame)(body: DataFrame => A): A = {
    val m = iter(df)
    try body(m) finally release(m)
  }

  /** Release the storage behind a frame returned by [[iter]] (or by
    * `localCheckpoint` directly): unpersist the `LogicalRDD` leaf's
    * backing RDD blocks. Session caches holding checkpointed state pass
    * this as their evict hook so superseded entries free their blocks
    * immediately instead of at session death. Safe on any frame — a
    * plan without `LogicalRDD` leaves is a no-op, and unpersisting a
    * reliable-checkpointed RDD drops only its transient cache blocks,
    * never the checkpoint files.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
