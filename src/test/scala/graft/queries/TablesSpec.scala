package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.TestSpark
import graft.tools.CostProbe

/** The events `ts` normalization (Tables.nanosToTs) must handle BOTH
  * driver fixture generations — TIMESTAMP(NANOS) surfaced as nanos LONG
  * (through r9) and TIMESTAMP_MICROS/NTZ (since r10) — and produce the
  * same two columns either way: `ts` TIMESTAMP and `ts_ns` LONG
  * nanos-since-epoch. The r11 failure mode this guards: the loader
  * assumed one generation and every events-reading query plus 4
  * streaming specs went red when the fixture changed underneath it.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NsValue = 1700000000123456789L // ...789 ns: sub-µs digits real

  test("nanosToTs on the nanos-LONG generation keeps exact ns and truncates ts to µs") {
    import spark.implicits._
    val df = Seq((1L, NsValue)).toDF("event_id", "ts")
    val out = graft.Tables.nanosToTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.schema("ts_ns").dataType === LongType)
    assert(out.select(col("ts_ns")).as[Long].head === NsValue,
      "the raw ns long must ride along unmodified")
    assert(out.select(unix_micros(col("ts"))).as[Long].head === NsValue / 1000,
      "ts must be the exact integer-division µs truncation")
  }

  test("nanosToTs on the TIMESTAMP_NTZ generation derives ordering-compatible ts_ns") {
    import spark.implicits._
    // session tz is UTC (TestSpark), so the NTZ→TZ cast is lossless
    val ntz = java.time.LocalDateTime.ofEpochSecond(
      NsValue / 1000000000L, ((NsValue / 1000L) % 1000000L).toInt * 1000, // µs precision
      java.time.ZoneOffset.UTC)
    val df = Seq((1L, ntz)).toDF("event_id", "ts")
    val out = graft.Tables.nanosToTs(df)
    assert(out.schema("ts").dataType === TimestampType)
    assert(out.schema("ts_ns").dataType === LongType)
    assert(out.select(col("ts_ns")).as[Long].head === (NsValue / 1000L) * 1000L,
      "ts_ns must be unix_micros·1000 — µs-grain, ordering-compatible with the ns form")
    assert(out.select(unix_micros(col("ts"))).as[Long].head === NsValue / 1000L)
  }

  test("both generations produce the same column set in the same order") {
    import spark.implicits._
    val a = graft.Tables.nanosToTs(Seq((1L, NsValue)).toDF("event_id", "ts"))
    val b = graft.Tables.nanosToTs(
      Seq((1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0))).toDF("event_id", "ts"))
    assert(a.columns.toSeq === b.columns.toSeq,
      "downstream queries select by name AND position (driver hash compare)")
  }

  test("spread reads the planned partition count: no job, the same decision as df.rdd") {
    val sf = "/root/testdata/sf0.001"
    val cores = spark.sparkContext.defaultParallelism
    graft.Tables.names.foreach { name =>
      val narrow = graft.Tables.load(spark, sf, name).rdd.getNumPartitions < cores
      val df = graft.Tables.load(spark, sf, name)
      var out = df
      val cost = CostProbe.costOf(spark) { out = graft.Tables.spread(df) }
      assert(cost.jobs === 0, s"spread($name): $cost")
      assert((out ne df) === narrow, s"spread($name) repartitioned: ${out ne df}")
    }
  }
}
