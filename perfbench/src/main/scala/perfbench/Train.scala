package perfbench

/** Loads the classes every workload uses, once, in one JVM: set-up and
  * warm-up of each workload, traced and untraced, and a first touch of
  * every `query_floor` pool query, without measuring. The launcher runs it
  * right after a build with `-XX:ArchiveClassesAtExit`, and later runs
  * start from that class-data archive instead of loading and verifying
  * thousands of Spark classes again (about 6 s of every run's session
  * start and first job on a 4-core host). It changes start-up only;
  * nothing it runs is measured.
  *
  * Usage: Train <workDir>
  */
object Train {
  def main(args: Array[String]): Unit =
    try train(args(0))
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def train(work: String): Unit = {
    val spark = Session.build(Runtime.getRuntime.availableProcessors(), work)
    val ctx = Ctx(spark, work, 1L, new Trace(spark), traced = false)
    // both variants of every workload, then every query of the pool
    for (traced <- Seq(false, true); (name, wl) <- Main.workloads.toSeq.sortBy(_._1)) {
      val w = wl()
      w.prepare(ctx, s"$work/$name-$traced")
      w.warm(ctx.copy(traced = traced), s"$work/$name-$traced")
    }
    new QueryFloor().warmPool(ctx, s"$work/query_floor-false")
    ctx.trace.start()
    new QueryFloor().layers(ctx, s"$work/query_floor-false", Nil)
    Host.probe(spark)
    ctx.trace.stop()
    spark.stop()
  }
}
