package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The one micro-batch stream builder: every maintained index, the MV and
  * drift monitors, and the CDC merge sink run their per-batch step
  * through it. Append mode, `AvailableNow`, one `foreachBatch` that runs
  * `step(batch, id)` and then, on every `maintainEvery`-th batch (ids
  * K−1, 2K−1, … for K = `maintainEvery` > 0; never for 0),
  * `tick(spark)` — the auto-tick a builder declares once (r17/r18).
  *
  * The tick runs AFTER the batch's writes, inside the same trigger, so a
  * crash between the tick and the checkpoint commit replays the batch
  * over the maintained layout; each tick's verbs guard that window
  * themselves (every fold protects the newest committed run — the
  * partial the replay overwrites). Per-run state (a seed flag, a
  * vocabulary cache) lives in the caller's `step` closure. */
object Maintainer {

  def start[T](input: Dataset[T], checkpointDir: String,
      maintainEvery: Int = 0, tick: SparkSession => Unit = _ => ())(
      step: (Dataset[T], Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[T], id: Long) =>
        step(b, id)
        if (maintainEvery > 0 && (id + 1) % maintainEvery == 0)
          tick(b.sparkSession)
      }
      .start()
}
