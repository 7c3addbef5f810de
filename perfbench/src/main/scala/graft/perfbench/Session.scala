package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session. Every setting that changes performance is
  * pinned here; none is read from the environment. The JVM's own settings
  * (heap with -Xms equal to -Xmx, GC, temp dir) are pinned by `run.py`, which
  * launches this JVM.
  */
object Session {
  val Cores = 4
  val ShufflePartitions = 4
  /** rows per cached columnar batch and per parquet reader batch */
  val CacheBatch = 1024
  val ScanBatch = 512
  /** buckets of the urlHash-bucketed page store */
  val PageBuckets = 8

  def settings(workDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$Cores]",
    "spark.app.name" -> "perfbench",
    "spark.default.parallelism" -> Cores.toString,
    "spark.sql.shuffle.partitions" -> ShufflePartitions.toString,
    "spark.sql.inMemoryColumnarStorage.batchSize" -> CacheBatch.toString,
    "spark.sql.parquet.columnarReaderBatchSize" -> ScanBatch.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (10L * 1024 * 1024).toString,
    "spark.sql.catalogImplementation" -> "in-memory",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.warehouse.dir" -> s"$workDir/warehouse",
    "spark.local.dir" -> s"$workDir/spark-local",
    "spark.ui.enabled" -> "false",
    "spark.ui.showConsoleProgress" -> "false")

  def start(workDir: String): SparkSession = {
    val b = settings(workDir).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
