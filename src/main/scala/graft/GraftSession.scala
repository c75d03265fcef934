package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard conf.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting),
  * shuffle partitions sized for the local harness (a real cluster sets
  * this to ~2-3x total cores), UTC so timestamp_ntz vs timestamp never
  * shifts, and nanos-as-long so the parquet TIMESTAMP(NANOS) events table
  * is readable (Spark has no nanosecond timestamp type).
  */
object GraftSession {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor: Spark's own 1m default (not set here) — a
      // same-process alternating A/B over the 325-query map at 32 cores
      // read it at 0.969x of the 256k floor an earlier round had set.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // storage-partitioned joins: honor a DSv2 scan's reported
      // KeyGroupedPartitioning (the snapshot format's clustered arm) —
      // off by default upstream only for ecosystem compatibility
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // static conf: managed-table home for bucketed writes
      .config(
        "spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  def local(cpus: Int = 32): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftMetrics.install(spark)
    spark
  }
}
