package perfbench

import java.nio.file.Paths
import scala.collection.mutable

/** Small commits into a fresh `graft_lake` table (the catalog root is
  * the run's own work directory), interleaved with current-snapshot and
  * `t$history` reads, so the history grows while the run measures. Each
  * round is a seeded mix of two INSERTs and two MERGEs (half of each
  * MERGE's keys already exist) with a snapshot read after every commit
  * and one history read. The benchmark keeps the table's expected
  * contents and commit count, and every read is checked against them.
  *
  * It runs as the lake layer's probe inside the traced `query_floor`
  * run (`LakeCommit.probe`); as a workload of its own it did not fit
  * the run budget beside `candy_etl` and `query_floor`.
  */
final class LakeCommit extends Workload {
  private val table = "graft_lake.bench.t"
  private val history = "graft_lake.bench.`t$history`"
  private val files = "graft_lake.bench.`t$files`"

  /** Expected contents (id → v) and the number of snapshots. */
  private val model = mutable.LinkedHashMap.empty[Long, Long]
  private var snapshots = 0
  private var nextId = 0L
  private var rng: scala.util.Random = _

  def prepare(ctx: Ctx, dir: String): Unit = ()

  def warm(ctx: Ctx, dir: String): Unit = {
    rng = new scala.util.Random(ctx.seed)
    ctx.spark.sql(s"CREATE TABLE $table (id BIGINT, v BIGINT, tag STRING)")
    snapshots = 1
  }

  val warmRounds = 3

  def round(ctx: Ctx, dir: String, r: Int): Seq[Op] = {
    val commits = rng.shuffle(Seq[() => Op](() => insert(ctx), () => insert(ctx),
      () => merge(ctx), () => merge(ctx)))
    commits.flatMap(c => Seq(c(), read(ctx))) :+ readHistory(ctx)
  }

  private def rows(xs: Seq[(Long, Long)]): String =
    xs.map { case (id, v) => s"($id, $v, 't$id')" }.mkString(", ")

  private def timed(kind: String)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    try {
      val err = body
      Op(kind, Util.secs(t0), err.isEmpty, err.map(e => s"$kind: $e").getOrElse(""))
    } catch { case e: Exception => Op(kind, Util.secs(t0), ok = false, s"$kind: $e") }
  }

  private def insert(ctx: Ctx): Op = {
    val batch = (1 to 50 + rng.nextInt(150)).map { _ => nextId += 1; (nextId, rng.nextInt(1000).toLong) }
    timed("commit") {
      ctx.spark.sql(s"INSERT INTO $table VALUES ${rows(batch)}")
      None
    }.also { op => if (op.ok) { model ++= batch; snapshots += 1 } }
  }

  private def merge(ctx: Ctx): Op = {
    val n = 20 + rng.nextInt(80)
    val old = rng.shuffle(model.keys.toSeq).take(n / 2)
    val fresh = (1 to n - old.size).map { _ => nextId += 1; nextId }
    val batch = (old ++ fresh).map(id => (id, rng.nextInt(1000).toLong))
    timed("commit") {
      ctx.spark.sql(
        s"""MERGE INTO $table t USING (SELECT * FROM VALUES ${rows(batch)} AS s(id, v, tag)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.v, s.tag)""".stripMargin)
      None
    }.also { op => if (op.ok) { model ++= batch; snapshots += 1 } }
  }

  private def read(ctx: Ctx): Op = timed("read") {
    val r = ctx.spark.sql(s"SELECT count(*), coalesce(sum(v), 0) FROM $table").collect().head
    val want = (model.size.toLong, model.values.sum)
    if ((r.getLong(0), r.getLong(1)) == want) None
    else Some(s"snapshot read (${r.getLong(0)}, ${r.getLong(1)}), expected $want")
  }

  private def readHistory(ctx: Ctx): Op = timed("history") {
    val r = ctx.spark.sql(s"SELECT count(*), max(live_rows) FROM $history").collect().head
    if (r.getLong(0) == snapshots) None
    else Some(s"history has ${r.getLong(0)} snapshots, expected $snapshots")
  }

  override def layers(ctx: Ctx, dir: String, untraced: Seq[Op]): Map[String, Double] = {
    def p(kind: String, q: Double): Double = Util.quantile(untraced.filter(_.kind == kind).map(_.seconds), q)
    val plan = Util.median((1 to 5).map(_ =>
      Util.time(ctx.spark.table(table).queryExecution.executedPlan)._2))
    val live = ctx.spark.sql(s"SELECT count(*) FROM $files").collect().head.getLong(0)
    val meta = Util.treeBytes(Paths.get(ctx.work, "lake"), p => !p.toString.endsWith(".parquet"))
    Map(
      "lake.commit_p50_s" -> p("commit", 0.5), "lake.commit_p90_s" -> p("commit", 0.9),
      "lake.read_p50_s" -> p("read", 0.5), "lake.history_read_s" -> p("history", 0.5),
      "lake.scan_plan_s" -> plan, "lake.live_files" -> live.toDouble,
      "lake.meta_bytes_per_commit" -> meta.toDouble / snapshots)
  }

  private implicit class Also(op: Op) {
    def also(f: Op => Unit): Op = { f(op); op }
  }
}

object LakeCommit {
  /** The lake layer's metrics from a fresh table: warm-up, then six
    * rounds (54 statements). A wrong read fails the run like any other
    * operation. */
  def probe(ctx: Ctx, dir: String): Map[String, Double] = {
    val lake = new LakeCommit
    lake.warm(ctx, dir)
    val ops = (0 until lake.warmRounds + 6).flatMap(r => lake.round(ctx, dir, r))
    val bad = ops.filterNot(_.ok)
    if (bad.nonEmpty) throw new IllegalStateException(bad.map(_.detail).mkString("; "))
    lake.layers(ctx, dir, ops.drop(lake.warmRounds * 9))
  }
}
