package perfbench

import java.nio.file.{Files, Path, Paths}
import java.text.{DecimalFormat, DecimalFormatSymbols}
import java.util.{Locale, SplittableRandom}
import scala.jdk.CollectionConverters._
import graft.candy.{CandyConfig, CandyOutputs, CandyPipeline, CandySources, SingleFileCsv}
import graft.forecast.Forecaster

/** The paper's daily batch: products CSV plus one multiLine JSON file of
  * nested transactions per day in, inventory replay, four CSVs and a
  * sales/profit forecast out. One operation is `process → forecast`
  * into the same output directory, as the reference's daily DAG runs
  * it. Every operation's four CSVs and its forecast are checked against
  * a naive replay of the reference loop computed in the benchmark.
  *
  * Inputs from the seed: product popularity is Zipf(1.1), about 3 % of
  * `qty` values are null, 1 % of items name an unknown product, and
  * each product's daily stock is 0.7–1.3× its expected daily demand, so
  * the most popular items cancel late in the day.
  */
final class CandyEtl extends Workload {
  import CandyEtl._

  private var expected: Expected = _

  def prepare(ctx: Ctx, dir: String): Unit = {
    val in = Inputs.generate(ctx.seed)
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "products.csv"), in.productsCsv)
    in.days.foreach { d => Files.writeString(Paths.get(dir, s"transactions_${d.day}.json"), d.json) }
    expected = NaiveReplay(in)
  }

  def warm(ctx: Ctx, dir: String): Unit = {
    val op = run(ctx, dir, ctx.traced)
    if (!op.ok) throw new IllegalStateException(op.detail)
  }

  val warmRounds = 2

  // a --trace 1 run sends both of its phases through `processTraced`
  // (stopwatches off in the untraced one), so the overhead it reports
  // compares like with like
  def round(ctx: Ctx, dir: String, r: Int): Seq[Op] = Seq(run(ctx, dir, ctx.traced))

  private def run(ctx: Ctx, dir: String, traced: Boolean): Op = {
    val out = s"$dir/out"
    val t0 = System.nanoTime()
    try {
      if (traced) processTraced(ctx, dir, out) else
        CandyPipeline.save(CandyPipeline.run(ctx.spark, s"$dir/products.csv",
          s"$dir/transactions_*.json", CandyConfig()), out)
      forecast(ctx, out)
      val secs = Util.secs(t0)
      val bad = expected.check(out)
      Op("etl", secs, bad.isEmpty, bad.mkString("; "))
    } catch {
      case e: Exception => Op("etl", Util.secs(t0), ok = false, e.toString)
    }
  }

  /** The same `process`, called layer by layer with each stage's output
    * materialized so each stopwatch holds one layer's work. This is a
    * variant of the product's plan (six extra cached stages and count
    * jobs), so the `candy.*` times split it, not `CandyPipeline.save`. */
  private def processTraced(ctx: Ctx, dir: String, out: String): Unit = {
    val t = ctx.trace
    val (products, txns) = t.span("candy.scan_s") {
      val p = CandySources.readProducts(ctx.spark, s"$dir/products.csv").cache()
      val x = CandySources.readTransactions(ctx.spark, s"$dir/transactions_*.json").cache()
      p.count(); x.count()
      (p, x)
    }
    // build() computes the replayed line items eagerly (the last-day
    // lookup of the daily-reload mode)
    val raw = t.span("candy.replay_s")(CandyPipeline.build(ctx.spark, products, txns, CandyConfig()))
    val o = t.span("candy.build_s") {
      val o = CandyOutputs(raw.orders.cache(), raw.orderLineItems.cache(),
        raw.dailySummary.cache(), raw.productsUpdated.cache(), raw.totalCancelledItems)
      Seq(o.orders, o.orderLineItems, o.dailySummary, o.productsUpdated).foreach(_.count())
      o
    }
    t.span("candy.csv_write_s")(CandyPipeline.save(o, out))
    Seq(o.orders, o.orderLineItems, o.dailySummary, o.productsUpdated, products, txns)
      .foreach(_.unpersist())
  }

  /** `CandyMain forecast`: fit on the written daily summary, write the
    * forecast and the in-sample metrics. */
  private def forecast(ctx: Ctx, out: String): Unit = {
    val summary = ctx.spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$out/daily_summary.csv")
    val r = ctx.trace.span("forecast.fit_s")(Forecaster.forecastWithMetrics(summary, 1))
    ctx.trace.span("candy.csv_write_s") {
      SingleFileCsv.write(r.forecast, out, "sales_profit_forecast.csv")
      import ctx.spark.implicits._
      SingleFileCsv.write(Seq(
        ("total_sales", r.salesMetrics.mae, r.salesMetrics.mse),
        ("total_profit", r.profitMetrics.mae, r.profitMetrics.mse)).toDF("series", "mae", "mse"),
        out, "forecast_metrics.csv")
    }
  }

  override def layers(ctx: Ctx, dir: String, untraced: Seq[Op]): Map[String, Double] =
    Map(
      "candy.csv_mb" -> Util.treeBytes(Paths.get(dir, "out"), _.toString.endsWith(".csv")) / 1048576.0,
      "candy.line_items" -> expected.lineItems.toDouble,
      "candy.cancelled_share" -> expected.cancelled.toDouble / expected.lineItems)
}

object CandyEtl {
  val nProducts = 60
  val nDays = 4
  val txnsPerDay = 1000
  val nCustomers = 500

  final case class Product(id: Int, name: String, price: Double, cost: Double, stock: Int)
  final case class Item(productId: Int, qty: Option[Int])
  final case class Txn(id: Long, customer: Int, ts: String, items: Seq[Item])
  final case class Day(day: String, txns: Seq[Txn]) {
    def json: String = txns.map { t =>
      val items = t.items.map { i =>
        s"""{"product_id": ${i.productId}, "product_name": "Candy ${i.productId}", """ +
          s""""qty": ${i.qty.map(_.toString).getOrElse("null")}}"""
      }.mkString("[", ", ", "]")
      s"""{"transaction_id": ${t.id}, "customer_id": ${t.customer}, "timestamp": "${t.ts}", "items": $items}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
  final case class Inputs(products: Seq[Product], days: Seq[Day]) {
    def productsCsv: String =
      ("product_id,product_name,product_category,product_subcategory,product_shape," +
        "sales_price,cost_to_make,stock\n") + products.map { p =>
        s"${p.id},${p.name},Gummies,Bears,Standard,${p.price},${p.cost},${p.stock}"
      }.mkString("\n") + "\n"
  }

  object Inputs {
    def generate(seed: Long): Inputs = {
      val rng = new SplittableRandom(seed)
      val weights = (1 to nProducts).map(r => 1.0 / math.pow(r, 1.1))
      val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
      val order = new scala.util.Random(seed).shuffle((1 to nProducts).toList)
      def popular(): Int = {
        val u = rng.nextDouble()
        order(cdf.indexWhere(_ >= u).max(0))
      }
      // mean 3 items of mean qty 3 per transaction
      val demand = (1 to nProducts).map(i => order.indexOf(i)).map(r =>
        txnsPerDay * 3.0 * 3.0 * weights(r) / weights.sum)
      val products = (1 to nProducts).map { i =>
        val cents = 50 + rng.nextInt(950)
        Product(i, s"Candy $i", cents / 100.0, (cents * (30 + rng.nextInt(50)) / 100) / 100.0,
          math.max(5, (demand(i - 1) * (0.7 + 0.6 * rng.nextDouble())).round.toInt))
      }
      val start = java.time.LocalDate.of(2024, 2, 1)
      val days = (0 until nDays).map { d =>
        val date = start.plusDays(d)
        val secs = Seq.fill(txnsPerDay)(rng.nextInt(86400)).sorted
        Day(date.toString.replace("-", ""), secs.zipWithIndex.map { case (s, k) =>
          val items = Seq.fill(1 + rng.nextInt(5)) {
            val pid = if (rng.nextInt(100) == 0) nProducts + 1 + rng.nextInt(5) else popular()
            Item(pid, if (rng.nextInt(100) < 3) None else Some(1 + rng.nextInt(5)))
          }
          val ts = f"${date}T${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d.${rng.nextInt(1000000)}%06d"
          Txn((d + 1) * 100000L + k, 1 + rng.nextInt(nCustomers), ts, items)
        })
      }
      Inputs(products, days)
    }
  }

  /** Expected CSV rows (header excluded) per output file. */
  final case class Expected(files: Map[String, Seq[Seq[String]]], lineItems: Long,
      cancelled: Long, lastDate: java.time.LocalDate, sales: Array[Double],
      profit: Array[Double], dates: Array[java.time.LocalDate]) {

    /** Differences between the written outputs and the naive replay. */
    def check(out: String): Seq[String] = {
      val csv = files.toSeq.flatMap { case (f, want) =>
        val got = Csv.read(Paths.get(out, f)).tail
        if (got.size != want.size) Seq(s"$f: ${got.size} rows, expected ${want.size}")
        else {
          val bad = got.sortBy(_.mkString("\u0001")).zip(want.sortBy(_.mkString("\u0001")))
            .filterNot { case (g, w) => Csv.same(g, w) }
          bad.headOption.map { case (g, w) => s"$f: row $g, expected $w" }.toSeq
        }
      }
      val fc = Csv.read(Paths.get(out, "sales_profit_forecast.csv")).tail
      val mS = Forecaster.fit(dates, sales)
      val mP = Forecaster.fit(dates, profit)
      val next = lastDate.plusDays(1)
      val want = Seq(next.toString, mS.predict(dates.length, next).toString,
        mP.predict(dates.length, next).toString)
      csv ++ (if (fc.size == 1 && Csv.same(fc.head, want, 1e-6)) Nil
        else Seq(s"sales_profit_forecast.csv: $fc, expected $want"))
    }
  }

  /** The reference loop, item by item, in the golden configuration the
    * pipeline defaults to: stock reloaded each day, orders that fulfil
    * nothing skipped, `num_orders` counting line items, daily money
    * summed in exact cents. */
  object NaiveReplay {
    private val fmt = {
      val f = new DecimalFormat("", new DecimalFormatSymbols(Locale.US))
      f.applyLocalizedPattern("#,###,###,###,###,###,##0.00")
      f
    }
    private def cents(x: Double): Long =
      BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

    def apply(in: Inputs): Expected = {
      val byId = in.products.map(p => p.id -> p).toMap
      val orders = Seq.newBuilder[Seq[String]]
      val lines = Seq.newBuilder[Seq[String]]
      val summary = Seq.newBuilder[Seq[String]]
      var nLines, nCancelled = 0L
      var lastSold = Map.empty[Int, Int]
      val series = Seq.newBuilder[(java.time.LocalDate, Double, Double)]
      in.days.foreach { day =>
        val stock = collection.mutable.Map(in.products.map(p => p.id -> p.stock): _*)
        val sold = collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
        var dayLines = 0L
        var salesC, profitC = 0L
        var firstDate: Option[String] = None
        day.txns.foreach { t =>
          var total, profit = 0.0
          var fulfilled = 0
          t.items.foreach {
            case Item(pid, Some(q)) if byId.contains(pid) =>
              val p = byId(pid)
              dayLines += 1
              if (stock(pid) >= q) {
                stock(pid) -= q
                sold(pid) += q
                fulfilled += 1
                total += p.price * q
                profit += (p.price - p.cost) * q
                lines += Seq(t.id.toString, pid.toString, q.toString, p.price.toString,
                  fmt.format(p.price * q))
              } else {
                nCancelled += 1
                total += 0.0
                profit += 0.0
                lines += Seq(t.id.toString, pid.toString, "0", p.price.toString, "0.00")
              }
            case _ =>
          }
          if (fulfilled > 0) {
            orders += Seq(t.id.toString, t.ts, t.customer.toString, fmt.format(total),
              fulfilled.toString)
            salesC += cents(total)
            profitC += cents(profit)
            if (firstDate.isEmpty) firstDate = Some(t.ts.take(10))
          }
        }
        nLines += dayLines
        firstDate.foreach { d =>
          summary += Seq(d, dayLines.toString, (salesC / 100.0).toString, (profitC / 100.0).toString)
          series += ((java.time.LocalDate.parse(d), salesC / 100.0, profitC / 100.0))
        }
        lastSold = sold.toMap
      }
      val updated = in.products.map(p =>
        Seq(p.id.toString, p.name, (p.stock - lastSold.getOrElse(p.id, 0)).toString))
      val s = series.result().sortBy(_._1.toEpochDay)
      Expected(Map(
        "orders.csv" -> orders.result(),
        "order_line_items.csv" -> lines.result(),
        "daily_summary.csv" -> summary.result(),
        "products_updated.csv" -> updated),
        nLines, nCancelled, s.last._1, s.map(_._2).toArray, s.map(_._3).toArray,
        s.map(_._1).toArray)
    }
  }

  /** Just enough CSV: quoted fields with doubled quotes. */
  object Csv {
    def read(p: Path): Seq[Seq[String]] =
      Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(split)

    private def split(line: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      val cur = new StringBuilder
      var quoted = false
      var i = 0
      while (i < line.length) {
        val c = line(i)
        if (quoted) {
          if (c == '"' && i + 1 < line.length && line(i + 1) == '"') { cur += '"'; i += 1 }
          else if (c == '"') quoted = false
          else cur += c
        } else if (c == '"') quoted = true
        else if (c == ',') { out += cur.toString; cur.clear() }
        else cur += c
        i += 1
      }
      out += cur.toString
      out.result()
    }

    /** Field-wise equality; numbers compare as numbers within `rel`. */
    def same(a: Seq[String], b: Seq[String], rel: Double = 1e-12): Boolean =
      a.size == b.size && a.zip(b).forall { case (x, y) =>
        x == y || ((x.toDoubleOption, y.toDoubleOption) match {
          case (Some(u), Some(v)) => math.abs(u - v) <= rel * math.max(1.0, math.abs(v))
          case _ => false
        })
      }
  }
}
