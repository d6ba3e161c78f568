package perfbench

import org.apache.spark.sql.functions.{coalesce, count, hash, lit, sum}
import org.apache.spark.sql.types.LongType

/** Prints the order-free fingerprint (rows, sum of row hashes) of every
  * query result under a `graft.Verify` output directory, as one JSON
  * object — the same fingerprint suite_sweep observes on its timed action.
  * This is how `perfbench/fingerprints.json` is made: run graft.Verify on
  * the fixture (`perfbench/fixture/sf0.1`), check its results against
  * DuckDB with tools/compare_oracle.py, then fingerprint the checked
  * results.
  *
  * Usage: Fingerprints <verify output dir>
  */
object Fingerprints {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(4)
    val dirs = new java.io.File(args(0)).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(graft.SparkEntry.queries.contains).sorted
    val fps = dirs.map { name =>
      val df = spark.read.parquet(s"${args(0)}/$name")
      val r = df.agg(count(lit(1)),
        coalesce(sum(hash(SuiteSweep.normalized(df): _*).cast(LongType)), lit(0L))).head()
      name -> Seq(r.getLong(0), r.getLong(1))
    }
    println(Recorder.toJson(scala.collection.immutable.ListMap(fps.toIndexedSeq: _*)))
    spark.stop()
  }
}
