package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.concurrent.TrieMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all registered by the benchmark from
  * outside the engine: named stopwatches placed around calls into each
  * layer, a `SparkListener` summing task metrics (the `exec` layer), and
  * a `QueryExecutionListener` reading each action's
  * `QueryExecution.tracker` (the `plan` layer, including the time spent
  * in the engine's own `org.apache.spark.sql.graft` rules). Everything
  * is off until `start()`, so the untimed set-up and the untraced phase
  * pay nothing.
  */
final class Trace(spark: SparkSession) {
  @volatile private var on = false
  private val counters = TrieMap.empty[String, AtomicLong]
  private val clocks = TrieMap.empty[String, DoubleAdder]

  def count(name: String, n: Long = 1): Unit =
    if (on) counters.getOrElseUpdate(name, new AtomicLong()).addAndGet(n)
  def add(name: String, secs: Double): Unit =
    if (on) clocks.getOrElseUpdate(name, new DoubleAdder()).add(secs)
  /** Stopwatch around one call into a layer. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, Util.secs(t0))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = count("exec.jobs")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = count("exec.stages")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      count("exec.tasks")
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      count("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      count("exec.input_bytes", m.inputMetrics.bytesRead)
      count("exec.spill_bytes", m.diskBytesSpilled)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = tracker(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = tracker(qe)
  }

  /** Planning phases and engine-rule time recorded by one tracker. */
  def tracker(qe: QueryExecution): Unit = if (on) {
    val t = qe.tracker
    def phase(p: String): Double = t.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    add("plan.analysis_s", phase("analysis"))
    add("plan.optimization_s", phase("optimization"))
    add("plan.physical_s", phase("planning"))
    add("plan.graft_rules_s", t.rules.collect {
      case (rule, s) if rule.startsWith("graft.") || rule.contains(".graft.") => s.totalTimeNs / 1e9
    }.sum)
  }

  private val sc = spark.sparkContext
  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  private var gc0 = 0.0
  def start(): Unit = { gc0 = Host.gcSeconds(); on = true }
  /** Stop recording once every queued listener event is delivered. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    on = false
    add0("jvm.gc_s", Host.gcSeconds() - gc0)
  }
  private def add0(name: String, v: Double): Unit =
    clocks.getOrElseUpdate(name, new DoubleAdder()).add(v)

  def clockNames: Seq[String] = clocks.keys.toSeq
  def seconds(name: String): Double = clocks.get(name).map(_.sum).getOrElse(0.0)
  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)
}

object Host {
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** JVM heap still in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `graft.Bench`'s host-calibration probe: xxhash64 over range(16M)
    * in 8 partitions; median of three after one warm run. */
  def probe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    def once(): Double = Util.time {
      spark.range(0L, 16L * 1000 * 1000, 1L, 8)
        .select(xxhash64(col("id")).as("h")).agg(max("h")).collect()
    }._2
    once()
    Util.median(Seq.fill(3)(once()))
  }
}
