package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row

/** A query's answer as (row count, order-insensitive hash), computed on
  * the driver from the collected rows, so the whole declared plan runs,
  * its final sort included. Every row is rendered to one string —
  * doubles to nine significant digits, so a re-associated floating sum
  * still hashes the same; NULL as a marker distinct from any value —
  * and the 64-bit row hashes are summed, which ignores row order but
  * not duplicates.
  */
final case class Answer(rows: Long, hash: Long)

object Answers {

  def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "%.9g".formatLocal(Locale.ROOT, d)
    case f: Float => "%.9g".formatLocal(Locale.ROOT, f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x2b1d).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x7f4a).toLong & 0xffffffffL)

  def of(rows: Array[Row]): Answer = Answer(rows.length, rows.iterator.map(r => hash(render(r))).sum)

  /** The tab-separated lines of a stored answer file, keyed by their
    * first field. */
  def table(path: String): Map[String, Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty)
      .map(_.split('\t')).map(f => f(0) -> f).toMap
}
