package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the repository's mains. Settings that
  * change performance are pinned here; only where the session runs comes
  * from the environment:
  *   - master: `SPARK_GRAFT_MASTER` (e.g. `local-cluster[4,8,16384]`),
  *     otherwise `local[SPARK_GRAFT_CPUS]` (default 4);
  *   - shuffle partitions = cpus; AQE on; UI off; UTC session time zone;
  *   - 1024-row cached batches and 512-row parquet reader batches: small
  *     batches keep per-task working sets inside the shared L3 at high core
  *     counts (BENCH/BASELINE.md).
  * `extra` settings are applied last, on top of these.
  */
private[graft] object GraftSpark {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(appName: String, extra: (String, String)*): SparkSession = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.inMemoryColumnarStorage.batchSize" -> "1024",
      "spark.sql.parquet.columnarReaderBatchSize" -> "512") ++ extra
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
    val spark = settings.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
