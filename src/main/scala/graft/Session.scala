package graft

import org.apache.spark.sql.SparkSession

/** One place for session config shared by Verify, Bench, and tests.
  *
  * - UTC session time zone: oracle (DuckDB) parity for naive timestamps.
  * - `nanosAsLong`: the driver's events.parquet carries TIMESTAMP(NANOS),
  *   which Spark 4 otherwise rejects ([[Tables.events]] converts to µs).
  * - Shuffle partitions sized to the local core count, not the 200 default —
  *   on a real cluster this would be tuned to cores × executors (or left to
  *   AQE coalescing, which is enabled).
  * - Partition discovery lists on the driver up to
  *   [[DriverListingThreshold]] directories. Spark's default (32) sends
  *   every read of a bucketed store to a parallel listing JOB: a
  *   `batch=` run holds 64 `bb=` dirs (16 `lb=`/`ib=`), so each
  *   `spark.read.parquet` of a streaming index started one Spark job per
  *   run before its scan — about 0.4 s each on the label maintainer, a
  *   cost that grew with the run count. 1024 sits above every default
  *   store fan-out and below the 65k bucket counts the stores' scaladocs
  *   recommend at 100 TB, where listing on the cluster pays again.
  */
object Session {
  /** The directory count above which Spark lists in a distributed job. */
  val DriverListingThreshold = 1024

  def build(master: String, shufflePartitions: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.functions.DotF32.install)
      .withExtensions(graft.functions.TextHash.install)
      .withExtensions(graft.functions.SampleK.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        DriverListingThreshold.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
