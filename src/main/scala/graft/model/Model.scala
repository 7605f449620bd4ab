package graft.model

/** Per-iteration execution metrics (north rule: throughput, shuffle-bytes,
  * and skew emitted per iteration). `delta` is the iteration's convergence
  * delta under its norm ([[graft.exec.IterConfig]]).
  * `shuffleReadBytes`/`shuffleWriteBytes` are the task-level totals of the
  * iteration's span — the jobs that ran under its `graft.span`
  * ([[graft.obs.Obs]]), never a concurrent job's; `taskSkew` is the largest
  * per-stage max-task-time / mean-task-time over those jobs' stages (1.0 =
  * perfectly balanced; a hot key or straggler shows as >> 1). -1 / NaN =
  * not collected (the array tiers record neither). */
final case class IterationMetrics(
    iteration: Int,
    edges: Long,
    seconds: Double,
    edgesPerSec: Double,
    delta: Double,
    strategy: String,
    shuffleReadBytes: Long = -1L,
    shuffleWriteBytes: Long = -1L,
    taskSkew: Double = Double.NaN)
