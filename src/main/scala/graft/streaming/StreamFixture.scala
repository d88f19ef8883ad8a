package graft.streaming

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** Shared fixture helpers for the driver-gated streaming entries
  * (`s_*`): every gate keys its scratch state off the same
  * `/tmp/<kind>/<sanitized sf dir>` layout ([[root]]), resets the STREAM
  * state (checkpoint + maintained stores) per run ([[reset]]), and
  * caches its deterministic input across runs behind a marker file
  * ([[cached]]). The CDC gates' input is the recorded chunk fixture
  * ([[CdcPipeline.recordFixtureCached]]); the corpus gates' input is
  * the 4-batch split streamed one file per trigger ([[fourBatches]]).
  *
  * Deliberately `java.io.File`: these are the driver-gated FIXTURE
  * entry points, hardcoded to local /tmp by design (the r13 verdict's
  * exemption) — production read/write paths go through the Hadoop FS
  * API instead. */
private[streaming] object StreamFixture {

  /** The gate's fixture root: `/tmp/<kind>/<sf dir, sanitized>`. */
  def root(kind: String, d: String): File =
    new File(s"/tmp/$kind/${d.replaceAll("[^A-Za-z0-9.]", "_")}")

  /** Recursive delete (missing files are fine). */
  def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete(): Unit
  }

  /** Reset the named stream-state children under `root` — every run
    * replays the stream from scratch; only the input fixture persists. */
  def reset(root: File, names: String*): Unit =
    names.foreach(n => rm(new File(root, n)))

  /** Build-once guard for the deterministic input fixture: runs `build`
    * only when `dir`'s marker file is absent, then creates it — the
    * batch files are a pure function of the input dir, so they cache
    * across runs. */
  def cached(dir: File, marker: String)(build: => Unit): Unit =
    if (!new File(dir, marker).exists()) {
      build
      new File(dir, marker).createNewFile(): Unit
    }

  /** The corpus gates' micro-batch stream over `frame`: split once
    * (behind `marker`) into `dir/b0` … `dir/b3` by `(idCol div 4) % 4`,
    * one parquet file each, then stream those dirs with
    * `maxFilesPerTrigger=1` — batch k holds the rows whose
    * `(idCol div 4) % 4` is k, in that order (the batch assignment the
    * curation oracle of `s_dedup_index` unrolls). */
  def fourBatches(frame: DataFrame, idCol: String, dir: File,
      marker: String): DataFrame = {
    cached(dir, marker) {
      (0 until 4).foreach { b =>
        frame.filter(expr(s"($idCol div 4) % 4 = $b"))
          .coalesce(1).write.mode("overwrite")
          .parquet(new File(dir, s"b$b").getAbsolutePath)
      }
    }
    frame.sparkSession.readStream.schema(frame.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${dir.getAbsolutePath}/*")
  }
}
