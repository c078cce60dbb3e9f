package perfbench

/** One timed round: one corpus ingest, one 17-panel pass or one
  * stream replay.
  *
  * @param wallS   wall time of the whole round
  * @param items   units of work the round completed (observation rows,
  *                panels, frames)
  * @param busyS   the time those items took
  * @param ops     (check key, latency ms) of each operation; the
  *                checker drops the samples of keys it finds wrong
  * @param attempted operations the round attempted
  * @param failed  keys of operations that threw
  * @param info    what the checker needs to verify the round */
final case class Round(
    wallS: Double,
    items: Double,
    busyS: Double,
    ops: Seq[(String, Double)],
    attempted: Int,
    failed: Seq[String],
    info: Map[String, Any])

trait Workload {
  /** One set-up, timed by the caller. Repeated; each call replaces the
    * previous one's state. */
  def setup(): Unit

  /** Untimed, after set-up: runs the code the rounds run, so that no
    * timed round pays for class loading and compilation. */
  def warmup(): Unit

  def round(index: Int): Round

  /** After the timed rounds: everything the checker compares. */
  def finish(): Map[String, Any]

  /** Traced runs only: layer figures measured outside the rounds. */
  def layers(): Map[String, Double] = Map.empty
}
