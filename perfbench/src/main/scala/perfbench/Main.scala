package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its private work
  * directory, the seed, the trace (recording only in the traced phase)
  * and whether this is a `--trace 1` run, whose untraced and traced
  * phases must run the same code. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, trace: Trace, traced: Boolean)

/** One timed operation: its kind (a workload may mix kinds, e.g. lake
  * commits and reads), wall seconds, and whether its answer checked. */
final case class Op(kind: String, seconds: Double, ok: Boolean, detail: String = "")

/** A closed-loop workload with one client. `prepare` makes the inputs
  * and may run several times (each into a fresh directory); `warm`
  * pays first-touch costs once and must throw on any failure; `round`
  * runs one seeded pass of operations and checks each answer. */
trait Workload {
  def prepare(ctx: Ctx, dir: String): Unit
  def warm(ctx: Ctx, dir: String): Unit
  def round(ctx: Ctx, dir: String, r: Int): Seq[Op]
  /** Unmeasured rounds after `warm`, until operation times stop falling
    * as the JIT compiles the hot paths. */
  def warmRounds: Int
  /** Layer metrics this workload measures besides the shared ones. */
  def layers(ctx: Ctx, dir: String, untraced: Seq[Op]): Map[String, Double] = Map.empty
}

/** Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --result <file>
  *
  * Prints progress to stderr and writes one JSON object to `--result`:
  * `correct`, `attempted`, `failed`, `metrics`, and a `provenance`
  * block (the launcher prints the first four as the final stdout line
  * and keeps the whole object beside it). */
object Main {

  val workloads: Map[String, () => Workload] = Map(
    "candy_etl" -> (() => new CandyEtl),
    "query_floor" -> (() => new QueryFloor))

  /** Set-up repetitions whose median is reported. */
  private val prepares = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))()
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = Util.time(Session.build(cores, work))
    val ctx = Ctx(spark, work, seed, new Trace(spark), traced)
    val failures = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val provenance = Provenance.collect(spark, Session.posture(cores, work), seed, opt)

    // set-up: inputs made `prepares` times into fresh directories
    // (median reported), plus session start and one warm pass
    val dirs = (1 to prepares).map(i => s"$work/input$i")
    val prepS = dirs.map(d => Util.time(wl.prepare(ctx, d))._2)
    dirs.init.foreach(d => Util.deleteTree(Paths.get(d)))
    val dir = dirs.last
    // a failed warm-up or staging fails the run loudly: it is recorded
    // in the result and nothing is measured
    val (warmFailed, warmS) = Util.time {
      try {
        wl.warm(ctx, dir)
        val bad = (1 to wl.warmRounds).flatMap(r => wl.round(ctx, dir, -r)).filterNot(_.ok)
        if (bad.nonEmpty) throw new IllegalStateException(bad.map(_.detail).mkString("; "))
        false
      } catch { case e: Throwable => failures += s"warm: $e"; true }
    }
    val setupS = sessionS + Util.median(prepS) + warmS
    System.err.println(f"perfbench: session $sessionS%.2fs prepare ${prepS.mkString(",")} warm $warmS%.2fs")

    // closed loop: whole seeded rounds (at least one) until the budget
    // is spent
    def measure(budget: Double): (Seq[Op], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      var r = 0
      while (r == 0 || Util.secs(t0) < budget) {
        val done = wl.round(ctx, dir, r)
        System.err.println(f"perfbench: round $r: ${done.size} ops, median ${Util.median(done.map(_.seconds))}%.3fs")
        ops ++= done
        r += 1
      }
      (ops.toSeq, Util.secs(t0))
    }
    var attempted = 1
    if (warmFailed) ()
    else if (!traced) {
      // a failed operation's time is left out of every timing
      val (ops, wall) = measure(seconds)
      val good = ops.filter(_.ok).map(_.seconds)
      ops.filterNot(_.ok).foreach(o => failures += o.detail)
      attempted = ops.size
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_s") = (if (good.isEmpty) wall else Util.median(good), "s")
      metrics("ops_per_s") = (good.size / wall, "1/s")
      metrics("heap_retained_mb") = (Host.retainedHeapMb(), "MB")
    } else {
      // untraced half, then the same workload traced: the difference is
      // the tracing overhead
      val (plain, _) = measure(seconds / 2)
      ctx.trace.start()
      val (ops, wall) = measure(seconds / 2)
      ctx.trace.stop()
      attempted = plain.size + ops.size
      (plain ++ ops).filterNot(_.ok).foreach(o => failures += o.detail)
      val n = ops.size.toDouble
      val t = ctx.trace
      val opWall = ops.map(_.seconds).sum
      val planS = Seq("plan.analysis_s", "plan.optimization_s", "plan.physical_s").map(t.seconds).sum
      val per = mutable.LinkedHashMap[String, Double](
        "query.build_s" -> t.seconds("query.build_s") / n,
        "plan.analysis_s" -> t.seconds("plan.analysis_s") / n,
        "plan.optimization_s" -> t.seconds("plan.optimization_s") / n,
        "plan.physical_s" -> t.seconds("plan.physical_s") / n,
        "plan.graft_rules_s" -> t.seconds("plan.graft_rules_s") / n,
        "plan.share" -> planS / opWall,
        "exec.run_s" -> t.seconds("exec.run_s") / n,
        "exec.cpu_s" -> t.seconds("exec.cpu_s") / n,
        "exec.gc_s" -> t.seconds("exec.gc_s") / n,
        "exec.blocked_s" ->
          (t.seconds("exec.run_s") - t.seconds("exec.cpu_s") - t.seconds("exec.gc_s")) / n,
        "exec.jobs" -> t.counter("exec.jobs") / n,
        "exec.stages" -> t.counter("exec.stages") / n,
        "exec.tasks" -> t.counter("exec.tasks") / n,
        "exec.core_util" -> t.seconds("exec.run_s") / (wall * cores),
        "exec.shuffle_mb" -> t.counter("exec.shuffle_bytes") / 1048576.0 / n,
        "exec.input_mb" -> t.counter("exec.input_bytes") / 1048576.0 / n,
        "exec.spill_mb" -> t.counter("exec.spill_bytes") / 1048576.0 / n)
      // every stopwatch placed by the workload, per operation
      t.clockNames.filterNot(per.contains).foreach(c => per(c) = t.seconds(c) / n)
      // a wrong answer in a layer probe fails the run like any other
      try per ++= wl.layers(ctx, dir, plain)
      catch { case e: Exception => failures += s"layers: $e" }
      per("host.probe_s") = Host.probe(spark)
      per("jvm.gc_s") = t.seconds("jvm.gc_s")
      per("trace.overhead_share") =
        Util.median(ops.map(_.seconds)) / Util.median(plain.map(_.seconds)) - 1
      Layers.all.foreach { case (m, unit) => metrics(m) = (per.getOrElse(m, 0.0), unit) }
    }
    spark.stop()

    val result = Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "provenance" -> (provenance ++ Map(
        "workload" -> name, "trace" -> traced, "failures" -> failures.toSeq,
        "session_start_s" -> sessionS, "prepare_s" -> prepS, "warm_s" -> warmS)))
    Files.writeString(Paths.get(opt("result")), Json.render(result) + "\n")
    if (warmFailed) sys.exit(1)
  }
}

/** Every per-layer metric, in the order `BENCHMARK.json` lists them. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "candy.scan_s" -> "s", "candy.replay_s" -> "s", "candy.build_s" -> "s",
    "candy.csv_write_s" -> "s", "candy.csv_mb" -> "MB", "candy.line_items" -> "count",
    "candy.cancelled_share" -> "share", "forecast.fit_s" -> "s",
    "query.build_s" -> "s", "tables.resolve_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.physical_s" -> "s",
    "plan.graft_rules_s" -> "s", "plan.share" -> "share",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.blocked_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.core_util" -> "share", "exec.shuffle_mb" -> "MB", "exec.input_mb" -> "MB",
    "exec.spill_mb" -> "MB",
    "kernel.minhash_rows_per_s" -> "1/s", "kernel.simhash_rows_per_s" -> "1/s",
    "kernel.gram_intersect_rows_per_s" -> "1/s", "kernel.cosine_rows_per_s" -> "1/s",
    "lake.commit_p50_s" -> "s", "lake.commit_p90_s" -> "s", "lake.read_p50_s" -> "s",
    "lake.scan_plan_s" -> "s", "lake.history_read_s" -> "s", "lake.live_files" -> "count",
    "lake.meta_bytes_per_commit" -> "bytes",
    "host.probe_s" -> "s", "jvm.gc_s" -> "s", "trace.overhead_share" -> "share")
}

/** Minimal JSON rendering for the result object. */
object Json {
  def obj(kv: (String, Any)*): scala.collection.Map[String, Any] =
    scala.collection.immutable.ListMap(kv: _*)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
}
