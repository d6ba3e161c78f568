package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Quantifies the bulk-ingest endpoint guard
  * (GraphState.withTargetsDFGuarded vs withTargetsDF): same synthetic
  * node/edge volumes, guarded vs unguarded, at n and Kn edges. The
  * measured delta is the cost of turning "caller owns referential
  * integrity" into an in-plan check — the number that makes the
  * unguarded default a tradeoff instead of an assertion.
  *
  * Emits one JSON line with plain/guarded times and the guard overhead
  * ratio at each scale.
  */
object BulkGuardRehearsal {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 500000L
    val k = if (args.length > 1) args(1).toInt else 100
    val spark = graft.GraftSession(graft.GraftSession.cpus(32))

    import graft.graph.{GraphQueries, GraphState}
    // arg 3 "hand" swaps in the hand-written codec — lets one run A/B the
    // DERIVED model's reflection-backed fromValueRow against the direct
    // pattern match on the same ingest (the deriveIndex flatMap decodes
    // two node values per edge row, the hottest codec path in the repo)
    val model = if (args.length > 2 && args(2) == "hand")
      GraphQueries.GeoModelHand else GraphQueries.GeoModel

    // nodes: one root + nodes/edges ratio 1:4, values through the geo
    // model's sparse struct; edges reference valid ids only (the guard
    // must PASS — its cost, not its firing, is being measured)
    def state(edgesN: Long): (GraphState[GraphQueries.GeoV], DataFrame) = {
      val nodesN = math.max(edgesN / 4L, 1000L)
      val nodes = spark.range(nodesN + 1).select(
        col("id"),
        when(col("id") === 0L, "Root").otherwise("Customer").as("kind"),
        struct(lit(null).cast(StringType).as("name"),
          when(col("id") === 0L, lit(null).cast(LongType))
            .otherwise(col("id")).as("custkey")).as("value"))
      val empty = GraphState.bulkLoad(spark, model, nodes,
        spark.range(0).select(col("id").as("src"), col("id").as("dst")))
      val delta = spark.range(edgesN).select(
        pmod(xxhash64(col("id")), lit(nodesN)).as("src"),
        (pmod(xxhash64(col("id"), lit(7)), lit(nodesN))).as("dst"))
      (empty, delta)
    }

    def run(df: DataFrame): Long = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1000000L
    }
    def fmt(ms: Long): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(ms / 1e3))

    def time(edgesN: Long, guarded: Boolean): Long = {
      val (st, delta) = state(edgesN)
      val times = (1 to 2).map { _ =>
        val next = if (guarded) st.withTargetsDFGuarded(delta)
                   else st.withTargetsDF(delta)
        // force both updated tables — index derivation is the real work
        run(next.edges) + run(next.index)
      }
      times.min
    }

    time(100000L, guarded = true) // warmup

    val basePlain = time(n, guarded = false)
    val baseGuard = time(n, guarded = true)
    val scaledPlain = time(n * k, guarded = false)
    val scaledGuard = time(n * k, guarded = true)

    def ratio(a: Long, b: Long): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(b.toDouble / a))
    println(s"""{"metric":"bulk_ingest_guard","base_plain":${fmt(basePlain)},""" +
      s""""base_guarded":${fmt(baseGuard)},"base_overhead":${ratio(basePlain, baseGuard)},""" +
      s""""scaled_plain":${fmt(scaledPlain)},"scaled_guarded":${fmt(scaledGuard)},""" +
      s""""scaled_overhead":${ratio(scaledPlain, scaledGuard)},""" +
      s""""edges":$n,"blowup":$k,"unit":"sec"}""")
    spark.stop()
  }
}
