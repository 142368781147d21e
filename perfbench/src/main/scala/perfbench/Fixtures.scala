package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generates the ten engine fixture tables (`region` … `embeddings`)
  * at a given scale factor, in the shape `graft.Tables` reads: one
  * parquet file per table, small row groups, timestamps as
  * TIMESTAMP(MICROS) without zone. Value domains follow the engine's
  * fixture catalog (TPC-H-like keys and enums, 30 days of events, a
  * 30-word document vocabulary with near-duplicates, unit 64-d
  * embeddings).
  *
  * The tables are a pure function of the scale factor: every column is
  * derived from a row id through xxhash64 (or from a fixed-seed in-process
  * RNG for the two small text/vector tables), so the stored query
  * answers stay valid for any run. The benchmark's seed varies only the
  * workload schedule.
  */
object Fixtures {

  val tables: Seq[String] = graft.Tables.all

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("small", "red", "blue", "old", "large")
  private val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil",
    "nut", "spring", "valve", "lever", "pin", "cog")
  private val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "data", "table", "agg",
    "value", "key", "stream", "window", "a", "spark", "part", "group", "big", "sort",
    "query", "fast", "the")
  private val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")

  /** Uniform double in [0, 1) from the row id and a per-column salt. */
  private def u(salt: Int): Column =
    pmod(xxhash64(col("id"), lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble
  private def below(salt: Int, n: Long): Column = floor(u(salt) * n).cast("long")
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (below(salt, xs.size.toLong) + 1).cast("int"))
  private def money(c: Column): Column = round(c, 2)
  private def day(base: String, salt: Int, span: Long): Column =
    date_add(to_date(lit(base)), below(salt, span).cast("int"))
      .cast("timestamp_ntz")

  def rowCounts(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> math.max(500L, (50000 * sf).toLong),
    "embeddings" -> math.max(500L, (20000 * sf).toLong))

  /** Write `names` (default: all ten) under `dir` at scale `sf`. */
  def generate(spark: SparkSession, dir: String, sf: Double,
      names: Seq[String] = tables): Unit = {
    val n = rowCounts(sf)
    def range(t: String): DataFrame = spark.range(0L, n(t), 1L, 4).toDF()
    val gen: Map[String, () => DataFrame] = Map(
      "region" -> (() => spark.createDataFrame(
        spark.sparkContext.parallelize(regions.zipWithIndex.map { case (r, i) => Row(i, r) }, 1),
        StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))),
      "nation" -> (() => range("nation").select(
        col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))),
      "customer" -> (() => range("customer").select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        below(1, 25).cast("int").as("c_nationkey"),
        money(lit(-999.99) + u(2) * 10999.98).as("c_acctbal"),
        pick(3, segments).as("c_mktsegment"))),
      "supplier" -> (() => range("supplier").select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        below(11, 25).cast("int").as("s_nationkey"),
        money(lit(-999.99) + u(12) * 10999.98).as("s_acctbal"))),
      "part" -> (() => range("part").select(
        col("id").as("p_partkey"),
        concat(pick(21, adjectives), lit(" "), pick(22, nouns)).as("p_name"),
        concat(lit("Brand#"), (below(23, 25) + 1).cast("string")).as("p_brand"),
        pick(24, types).as("p_type"),
        (below(25, 50) + 1).cast("int").as("p_size"),
        money(lit(900.0) + (col("id") % 1000) * 0.1).as("p_retailprice"))),
      "orders" -> (() => range("orders").select(
        col("id").as("o_orderkey"),
        below(31, n("customer")).as("o_custkey"),
        pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
        money(lit(1000.0) + u(33) * 499000.0).as("o_totalprice"),
        day("1995-01-01", 34, 2404).as("o_orderdate"),
        pick(35, priorities).as("o_orderpriority"))),
      "lineitem" -> (() => range("lineitem").select(
        below(41, n("orders")).as("l_orderkey"),
        below(42, n("part")).as("l_partkey"),
        below(43, n("supplier")).as("l_suppkey"),
        (below(44, 7) + 1).cast("int").as("l_linenumber"),
        (below(45, 50) + 1).cast("double").as("l_quantity"),
        money(lit(900.0) + u(46) * 104000.0).as("l_extendedprice"),
        (below(47, 11).cast("double") / 100).as("l_discount"),
        (below(48, 9).cast("double") / 100).as("l_tax"),
        pick(49, Seq("A", "N", "R")).as("l_returnflag"),
        pick(50, Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", 51, 2498).as("l_shipdate"))),
      "events" -> (() => {
        val step = 30L * 86400L * 1000000L / n("events") // 30 days of micros
        range("events").select(
          col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * step + below(61, step))
            .cast("timestamp_ntz").as("ts"),
          below(62, math.max(1L, n("events") / 66)).as("user_id"),
          pick(63, eventTypes).as("event_type"),
          money(lit(0.01) + u(64) * u(65) * 490.0).as("value"),
          format_string("{\"k\": %d}", below(66, 100)).as("props"))
      }),
      "documents" -> (() => documents(spark, n("documents"))),
      "embeddings" -> (() => embeddings(spark, n("embeddings"))))
    names.foreach(t => writeOne(gen(t)(), dir, t))
  }

  /** Word-salad documents over the fixture vocabulary; one in twenty
    * is a near-duplicate of an earlier document (one word swapped for
    * `dup`), so the dedup and similarity families find real pairs. */
  private def documents(spark: SparkSession, n: Long): DataFrame = {
    val rng = new SplittableRandom(20240101L)
    val texts = new Array[String](n.toInt)
    val rows = (0 until n.toInt).map { i =>
      val text =
        if (i > 10 && rng.nextInt(20) == 0) {
          val words = texts(rng.nextInt(i)).split(' ')
          words(rng.nextInt(words.length)) = "dup"
          words.mkString(" ")
        } else Seq.fill(8 + rng.nextInt(84))(vocab(rng.nextInt(vocab.size))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rng.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** Unit-norm 64-d float vectors with a label in 0..9. */
  private def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val rng = new SplittableRandom(20240102L)
    val rows = (0 until n.toInt).map { i =>
      val v = Array.fill(64)(rng.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, rng.nextInt(10))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  /** One parquet FILE per table (the layout `graft.Tables` reads), with
    * small row groups so 1 MB splits can still spread a scan. */
  private def writeOne(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Paths.get(dir, s"_tmp_$name")
    df.coalesce(1).write
      .option("parquet.block.size", (512 * 1024).toString)
      .mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Util.deleteTree(tmp)
  }
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.toArray.foreach(c => deleteTree(c.asInstanceOf[Path])) finally s.close()
    }
    Files.delete(p)
  }

  def treeBytes(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.toArray.map(c => treeBytes(c.asInstanceOf[Path], keep)).sum finally s.close()
    } else if (keep(p)) Files.size(p) else 0L

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
