package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All declared queries read parquet directly so Catalyst sees the scan:
  * filters and column pruning reach the parquet reader (PushedFilters /
  * ReadSchema in `.explain`), which is the 100 TB posture — never cache a
  * full table when the plan only needs two columns of it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** `df` spread across the session's core budget WHEN its physical
    * partitioning came back narrower (r19, guide §2.5's unsplittable-
    * input remedy): the driver fixtures are single-file, SINGLE-ROW-GROUP
    * parquet, so a scan cannot split and heavy per-row work downstream —
    * shingling, regex redaction, tokenization — runs at file granularity
    * no matter the core count (measured: px2's 1.1M-shingle explode and
    * px35's triple-regex pass each ran as ONE task). A NO-OP whenever the
    * input already carries ≥ cores partitions — the 100 TB shape, where
    * scans have thousands of splits and an added exchange would reshuffle
    * the corpus for nothing. The gate reads the partition count of the
    * frame's own planned RDD (`df.rdd` would plan the query a second time,
    * behind a deserializer) — zero jobs run. Row-preserving: callers'
    * aggregations and two-phase ranks are partitioning-insensitive by
    * construction.
    */
  def spread(df: DataFrame): DataFrame = {
    // streaming plans cannot be probed for an RDD (and micro-batches are
    // already split by the source) — pass through untouched
    if (df.isStreaming) return df
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** The fixture has stored `events.ts` two ways across driver
    * generations: parquet TIMESTAMP(NANOS) (no native Spark type — read
    * as nanos-since-epoch LONG via `nanosAsLong`) and, currently,
    * TIMESTAMP_MICROS (surfaced as TIMESTAMP_NTZ). [[nanosToTs]] adapts to
    * whichever the file carries, so both generations normalize to the same
    * two columns: `ts` TIMESTAMP (session tz is UTC everywhere, so the
    * NTZ→TZ cast is lossless) and `ts_ns` nanos-since-epoch LONG, kept
    * for consumers whose ORDERING must match an ns-precision engine (r7
    * orders by ts_ns; under µs data it is exactly unix_micros(ts)·1000,
    * so the ordering degrades gracefully to µs + event_id on both sides).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanosToTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** The single `ts` normalization (see [[events]]), shared by the batch
    * reader above and the streaming reader (EventStreams.readEvents) so
    * the two can never drift. Integer arithmetic only — a double
    * intermediate would lose precision above 2^53 ns.
    */
  private[graft] def nanosToTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>                     // TIMESTAMP(NANOS) read as nanos LONG
        df.withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>                            // TIMESTAMP / TIMESTAMP_NTZ (µs)
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
}
