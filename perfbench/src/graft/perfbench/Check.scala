package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Order-insensitive comparison of a query result against the rows the
  * DuckDB oracle returned for the same corpus.
  *
  * Both sides are brought to one canonical form before they meet: every
  * number becomes a Long (integral) or Double, timestamps become UTC
  * epoch microseconds (`ts:<n>`), dates epoch days (`d:<n>`), binary
  * values `b:<hex>`, arrays and structs lists. Columns are compared by
  * sorted name, rows are sorted with one comparator on both sides, and
  * values are compared as `tools/check.py` compares them: floats to
  * 1e-9 relative or absolute, everything else exactly. The oracle side
  * arrives already canonical from `oracle.py`.
  */
object Check {

  /** expected result of one query: sorted column names and canonical
    * rows, or only a row count where the query has no exact oracle
    */
  final case class Expected(cols: Option[Seq[String]], rows: Option[IndexedSeq[IndexedSeq[Any]]], nRows: Long)

  def load(path: String): Map[String, Expected] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.fields().asScala.map { e =>
      val n = e.getValue
      val cols = Option(n.get("cols")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText).toSeq)
      val rows = Option(n.get("rows")).filterNot(_.isNull)
        .map(_.elements().asScala.map(r => r.elements().asScala.map(fromJson).toIndexedSeq).toIndexedSeq)
      e.getKey -> Expected(cols, rows, n.get("n_rows").asLong)
    }.toMap
  }

  private def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isArray) n.elements().asScala.map(fromJson).toIndexedSeq
    else n.asText match {
      case "f:nan" => Double.NaN
      case "f:inf" => Double.PositiveInfinity
      case "f:-inf" => Double.NegativeInfinity
      case s => s
    }

  private val MicrosPerSec = 1000000L

  /** a Spark value in the canonical form */
  def canon(v: Any): Any = v match {
    case null => null
    case b: Boolean => b
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Long => x
    case x: Float => x.toDouble
    case x: Double => x
    case x: java.math.BigDecimal => x.doubleValue
    case x: scala.math.BigDecimal => x.toDouble
    case s: String => s
    case t: java.sql.Timestamp => "ts:" + micros(t.toInstant)
    case t: java.time.Instant => "ts:" + micros(t)
    case t: java.time.LocalDateTime => "ts:" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d:" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d:" + d.toEpochDay
    case b: Array[Byte] => "b:" + b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).toIndexedSeq
    case r: Row => r.toSeq.map(canon).toIndexedSeq
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => IndexedSeq(canon(k), canon(x)) }
      .sortWith((a, b) => compare(a, b) < 0).toIndexedSeq
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, MicrosPerSec), (i.getNano / 1000).toLong)

  private def rank(v: Any): Int = v match {
    case null => 0
    case _: Boolean => 1
    case _: Long | _: Double => 2
    case _: String => 3
    case _ => 4
  }

  private def num(v: Any): Double = v match {
    case l: Long => l.toDouble
    case d: Double => d
  }

  /** sort key of a number, rounded as check.py's norm rounds floats */
  private def sortNum(v: Any): Double = v match {
    case d: Double if !d.isNaN && !d.isInfinite =>
      new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN).doubleValue
    case other => num(other)
  }

  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: IndexedSeq[_], y: IndexedSeq[_]) =>
      val n = math.min(x.size, y.size)
      var i = 0
      while (i < n) {
        val c = compare(x(i), y(i))
        if (c != 0) return c
        i += 1
      }
      Integer.compare(x.size, y.size)
    case _ =>
      val r = Integer.compare(rank(a), rank(b))
      if (r != 0) r
      else a match {
        case null => 0
        case x: Boolean => java.lang.Boolean.compare(x, b.asInstanceOf[Boolean])
        case _: Long | _: Double => java.lang.Double.compare(sortNum(a), sortNum(b))
        case x: String => x.compareTo(b.asInstanceOf[String])
        case _ => 0
      }
  }

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Long, y: Long) => x == y
    case (_: Long | _: Double, _: Long | _: Double) =>
      val (x, y) = (num(a), num(b))
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= math.max(1e-9 * math.max(math.abs(x), math.abs(y)), 1e-9)
    case (x: IndexedSeq[_], y: IndexedSeq[_]) =>
      x.size == y.size && x.indices.forall(i => same(x(i), y(i)))
    case _ => a == b
  }

  /** None when `rows` (with the given column names) match `exp`, else
    * a one-line reason
    */
  def verify(cols: Seq[String], rows: Array[Row], exp: Expected): Option[String] = {
    if (rows.length.toLong != exp.nRows)
      return Some(s"row count ${rows.length}, expected ${exp.nRows}")
    (exp.cols, exp.rows) match {
      case (Some(ec), Some(er)) =>
        if (cols.sorted != ec) return Some(s"columns ${cols.sorted.mkString(",")}, expected ${ec.mkString(",")}")
        val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
        val got = rows.map(r => order.map(i => canon(r.get(i))).toIndexedSeq)
          .sortWith((a, b) => compare(a, b) < 0)
        val want = er.sortWith((a, b) => compare(a, b) < 0)
        got.indices.find(i => !same(got(i), want(i)))
          .map(i => s"row differs: got ${got(i).mkString("(", ", ", ")")}, expected ${want(i).mkString("(", ", ", ")")}")
      case _ => None
    }
  }
}
