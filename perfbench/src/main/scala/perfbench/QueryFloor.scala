package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{functions => gfn}

/** Short queries of the declared relational surface (Relational, Candy,
  * Analytics 1-3 and Tpch2/3 modules, minus the lifecycle ones) over
  * generated sf0.01 fixtures. `answers/query_floor.tsv` holds, for every
  * query of that surface, the stored answer and the warm time recorded
  * with it (`perfbench.Record`); the pool is the faster half of them,
  * the surface's short queries. Each seed draws
  * `perRun` queries from the pool, one from each of `perRun` strata of
  * equal size in recorded-time order, so every seed times a different
  * set with the same time profile; each round is a fresh permutation of
  * that set. One operation builds the query through its registry entry
  * (`query.build_s`, which includes `graft.Tables` resolution and any
  * eager staging) and collects its full answer, which must equal the
  * stored row count and hash; a mismatch is a failed operation. The
  * traced run also measures the kernel and lake layers
  * (`Kernels.rates`, `LakeCommit.probe`), which no end-to-end workload
  * covers. */
final class QueryFloor extends Workload {
  import QueryFloor._

  private val stored = Answers.table(answersFile)
  private var queries: Seq[String] = Nil

  def prepare(ctx: Ctx, dir: String): Unit = Fixtures.generate(ctx.spark, dir, sf)

  def warm(ctx: Ctx, dir: String): Unit = {
    queries = draw(stored, ctx.seed)
    touch(ctx, dir, queries)
  }

  /** First touch of every pool query (the class-data training run). */
  def warmPool(ctx: Ctx, dir: String): Unit = touch(ctx, dir, pool(stored))

  private def touch(ctx: Ctx, dir: String, names: Seq[String]): Unit = {
    val failed = names.map(run(ctx, dir, _)).filterNot(_.ok)
    if (failed.nonEmpty) throw new IllegalStateException(failed.map(_.detail).mkString("; "))
  }

  val warmRounds = 2

  def round(ctx: Ctx, dir: String, r: Int): Seq[Op] =
    new scala.util.Random(ctx.seed * 1000003L + r).shuffle(queries).map(run(ctx, dir, _))

  private def run(ctx: Ctx, dir: String, name: String): Op = {
    val t0 = System.nanoTime()
    try {
      val df = ctx.trace.span("query.build_s")(Surfaces.floor(name)(ctx.spark, dir))
      val rows = df.collect()
      val secs = Util.secs(t0)
      val a = Answers.of(rows)
      val want = Answer(stored(name)(1).toLong, stored(name)(2).toLong)
      Op(name, secs, a == want, if (a == want) "" else s"$name: got $a, stored $want")
    } catch {
      case e: Exception => Op(name, Util.secs(t0), ok = false, s"$name: $e")
    }
  }

  override def layers(ctx: Ctx, dir: String, untraced: Seq[Op]): Map[String, Double] =
    Map("tables.resolve_s" -> TableResolve.median(ctx, dir, Fixtures.tables)) ++
      Kernels.rates(ctx, s"$dir/kernels") ++ LakeCommit.probe(ctx, dir)
}

object QueryFloor {
  val sf = 0.01
  val answersFile = "perfbench/answers/query_floor.tsv"
  /** The share of the recorded surface, fastest first, in the pool. */
  val poolShare = 0.5
  val perRun = 10

  /** The fastest `poolShare` of the recorded queries, in recorded-time
    * order. A stored name the surface no longer declares fails the run:
    * the answers must be recorded again. */
  def pool(stored: Map[String, Array[String]]): Seq[String] = {
    val all = stored.toSeq.map { case (n, f) => (f(3).toDouble, n) }.sorted.map(_._2)
    require(all.forall(Surfaces.floor.contains),
      s"stored answers for undeclared queries: ${all.filterNot(Surfaces.floor.contains)}")
    all.take((all.size * poolShare).round.toInt)
  }

  /** One query from each of `perRun` equal strata of the pool. */
  def draw(stored: Map[String, Array[String]], seed: Long): Seq[String] = {
    val p = pool(stored)
    val rng = new scala.util.Random(seed)
    (0 until perRun).map { i =>
      val s = p.slice(i * p.size / perRun, (i + 1) * p.size / perRun)
      s(rng.nextInt(s.size))
    }
  }
}

object TableResolve {
  /** Median seconds to resolve the tables once each via `graft.Tables`
    * (listing, footer read, schema) without running a job. */
  def median(ctx: Ctx, dir: String, names: Seq[String]): Double =
    Util.median((1 to 3).map(_ => Util.time(names.foreach(n =>
      graft.Tables(ctx.spark, dir, n).queryExecution.analyzed))._2))
}

/** Rows per second of four native kernels called as SQL functions over
  * sf0.1 `documents` and `embeddings` tables generated into `dir`;
  * median of three after one warm call. Every call's aggregate must
  * equal the one stored in `answers/kernels.tsv`, so a kernel that
  * breaks cannot read as a speed-up. */
object Kernels {
  val answersFile = "perfbench/answers/kernels.tsv"

  /** (metric, input rows, one-row aggregate over the kernel's output) */
  def probes(spark: SparkSession, dir: String): Seq[(String, Long, DataFrame)] = {
    Fixtures.generate(spark, dir, 0.1, Seq("documents", "embeddings"))
    val docs = graft.Tables(spark, dir, "documents")
    val emb = graft.Tables(spark, dir, "embeddings")
    val nDocs = docs.count()
    val g = gfn.gram_set(col("text"), 5)
    Seq(
      ("kernel.minhash_rows_per_s", nDocs, docs.select(
        element_at(gfn.minhash_sig(col("text"), 32, 5), 1).as("m")).agg(max("m"))),
      ("kernel.simhash_rows_per_s", nDocs, docs.select(
        gfn.simhash64(col("text")).as("s")).agg(max("s"))),
      ("kernel.gram_intersect_rows_per_s", nDocs, docs.select(
        gfn.sorted_intersect_size(g, g).as("i")).agg(max("i"))),
      ("kernel.cosine_rows_per_s", emb.count(), emb.select(
        gfn.cosine_sim(col("embedding"), col("embedding")).as("c")).agg(sum("c"))))
  }

  def rates(ctx: Ctx, dir: String): Map[String, Double] = {
    val want = Answers.table(answersFile)
    probes(ctx.spark, dir).map { case (name, rows, q) =>
      def once(): Unit = {
        val got = Answers.render(q.collect().head)
        val stored = want.get(name).map(_(1))
        if (!stored.contains(got)) throw new IllegalStateException(s"$name: got $got, stored $stored")
      }
      once()
      name -> rows / Util.median((1 to 3).map(_ => Util.time(once())._2))
    }.toMap
  }
}
