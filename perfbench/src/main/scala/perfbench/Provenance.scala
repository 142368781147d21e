package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a result was measured on, written beside every result: source
  * revision, the session's effective posture, host and runtime. */
object Provenance {
  def collect(spark: SparkSession, posture: Seq[(String, String)], seed: Long,
      opt: Map[String, String]): Map[String, Any] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Map(
      "git_sha" -> opt.getOrElse("git-sha", "unknown"),
      "git_dirty" -> opt.getOrElse("git-dirty", "unknown"),
      "source_sha256" -> opt.getOrElse("source-sha256", "unknown"),
      "seed" -> seed,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "conf" -> posture.map { case (k, _) => k -> spark.conf.getOption(k).getOrElse(
        spark.sparkContext.getConf.get(k, "unset")) }.toMap)
  }
}
