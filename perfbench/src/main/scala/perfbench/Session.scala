package perfbench

import org.apache.spark.sql.SparkSession

/** The bench session posture of `graft.Bench`, built here rather than
  * borrowed so the benchmark can record exactly what it ran under:
  * 1 MB file splits, a 256 kb AQE coalescing floor, streaming
  * checkpoint checksums off, the FileSystem-based checkpoint manager,
  * the engine's SQL extensions and FAIR scheduling. The warehouse, the
  * lake catalog root and Spark's local directory all live in the run's
  * own work directory.
  */
object Session {

  def posture(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256kb",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"),
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions",
    "spark.scheduler.mode" -> "FAIR",
    "spark.ui.enabled" -> "false",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.catalog.graft_lake" -> "graft.sources.v2.GraftLakeCatalog",
    "spark.sql.catalog.graft_lake.root" -> s"$work/lake")

  def build(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
    posture(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
