package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Records the stored answers: `query_floor.tsv` for every query of the
  * declared relational surface, `kernels.tsv` for the kernel probes.
  *
  * The sf0.01 fixtures go under `<workDir>/sf` and are kept, so the
  * answers can be confirmed against the DuckDB oracle there. One pass
  * over the whole surface warms every query, then three passes are
  * timed at all cores, and a last pass runs in a new session at half
  * the cores; all five answers of a query must agree, or the query is
  * left out and named on stdout. Each line is
  * `name <TAB> rows <TAB> hash <TAB> warm_s <TAB> plan_share`: the
  * median build-and-collect time of the timed passes, and the share of
  * it that `QueryExecution.tracker` puts in analysis, optimization and
  * physical planning. The times place each query in or out of the
  * workload's pool.
  *
  * Usage: Record <workDir> <answersDir>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(work, out) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val dir = s"$work/sf"
    var spark = Session.build(cores, work)
    Fixtures.generate(spark, dir, QueryFloor.sf)
    val skipped = mutable.ArrayBuffer.empty[String]
    def once(name: String): (Answer, Double, Double) = {
      val t0 = System.nanoTime()
      val df = Surfaces.floor(name)(spark, dir)
      val rows = df.collect()
      val secs = Util.secs(t0)
      val plan = Seq("analysis", "optimization", "planning")
        .flatMap(df.queryExecution.tracker.phases.get).map(_.durationMs / 1e3).sum
      (Answers.of(rows), secs, plan / secs)
    }
    /** One pass over `names`: each answer, or the failure. */
    def pass(names: Seq[String]): Map[String, Either[String, (Answer, Double, Double)]] =
      names.map { n =>
        n -> (try Right(once(n)) catch { case e: Exception => Left(e.toString) })
      }.toMap
    val passes = (0 to 3).map { i =>
      System.err.println(s"perfbench: record pass $i")
      pass(Surfaces.floor.keys.toSeq.sorted)
    }
    spark.stop()
    spark = Session.build(math.max(1, cores / 2), s"$work/half")
    val half = pass(Surfaces.floor.keys.toSeq.sorted)
    spark.stop()

    val lines = Surfaces.floor.keys.toSeq.sorted.flatMap { name =>
      val runs = (passes :+ half).map(_(name))
      val answers = runs.map(_.map(_._1)).distinct
      if (answers.size != 1 || answers.head.isLeft) {
        skipped += s"$name: ${answers.mkString(", ")}"
        None
      } else {
        val timed = runs.slice(1, 4).flatMap(_.toOption)
        val a = answers.head.toOption.get
        Some(f"$name\t${a.rows}\t${a.hash}\t${Util.median(timed.map(_._2))}%.4f\t" +
          f"${Util.median(timed.map(_._3))}%.3f")
      }
    }
    spark = Session.build(cores, work)
    val kernels = Kernels.probes(spark, s"$work/kernels")
      .map { case (name, _, q) => s"$name\t${Answers.render(q.collect().head)}" }
    spark.stop()
    Files.writeString(Paths.get(out, "query_floor.tsv"), lines.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(out, "kernels.tsv"), kernels.mkString("", "\n", "\n"))
    skipped.foreach(s => println(s"SKIPPED $s"))
  }
}
