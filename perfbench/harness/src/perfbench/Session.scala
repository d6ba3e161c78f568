package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: the configuration of graft.Bench
  * (adaptive execution, standalone dynamic-partition-pruning subqueries,
  * the bounded top-k hash-aggregate threshold, UTC) on `local[cpus]` with
  * `cpus` shuffle partitions. Spark's scratch and warehouse directories
  * stay under the benchmark's work directory.
  */
object Session {
  def build(cpus: Int, workDir: String = ".bench_build/work"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
