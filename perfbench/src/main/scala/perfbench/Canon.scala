package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent result hash, byte-for-byte the canonical hash of
  * `tools/oracle_check.py` (`canon` then `hash_df`): columns sorted by
  * name, rows sorted by every column with nulls last, then a SHA-256 over
  * each column's rendered values followed by `|`. Values render the way
  * that script renders pandas values: integers as `repr(int)`, whole
  * floats as `repr(float)` ("3.0"), other floats as `%.9g`, strings as
  * Python `repr`, nulls as `<null>`. An integer column holding a null
  * renders as floats, as pandas widens it to float64. */
object Canon {

  def hash(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val order: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        var i = 0
        while (i < cols.length) {
          val c = cmp(a.get(cols(i)._2), b.get(cols(i)._2))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    val sorted = rows.sorted(order)
    val md = MessageDigest.getInstance("SHA-256")
    cols.foreach { case (field, idx) =>
      val widen = isIntegral(field.dataType) && sorted.exists(_.isNullAt(idx))
      sorted.foreach { r =>
        val v = r.get(idx)
        val s =
          if (v == null) "<null>"
          else if (widen) render(v.asInstanceOf[Number].doubleValue)
          else render(v)
        md.update(s.getBytes("UTF-8"))
      }
      md.update("|".getBytes("UTF-8"))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => 1
    case (_, null) => -1
    case (x: Double, y: Double) => nanLast(x, y)
    case (x: Float, y: Float) => nanLast(x.toDouble, y.toDouble)
    case (x: Number, y: Number) => java.lang.Long.compare(x.longValue, y.longValue)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x, y) => render(x).compareTo(render(y))
  }

  private def nanLast(x: Double, y: Double): Int =
    if (x.isNaN || y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
    else java.lang.Double.compare(x + 0.0, y + 0.0)

  def render(v: Any): String = v match {
    case null => "<null>"
    case d: Double => float(d)
    case f: Float => float(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => pyRepr(s)
    case xs: collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case other => pyRepr(other.toString)
  }

  /** `_norm` of a float: NaN, whole values below 2^53 as `repr`, the rest
    * as C's `%.9g`. */
  def float(d0: Double): String = {
    if (d0.isNaN) return "<nan>"
    val d = if (d0 == 0.0) 0.0 else d0
    if (d == math.rint(d) && math.abs(d) < 9007199254740992.0) return s"${d.toLong}.0"
    val bd = new JBigDecimal(d).round(new MathContext(9, RoundingMode.HALF_EVEN))
    val exp = bd.precision - bd.scale - 1
    if (exp >= -4 && exp < 9) strip(bd.setScale(8 - exp, RoundingMode.HALF_EVEN).toPlainString)
    else {
      val mant = strip(bd.movePointLeft(exp).setScale(8, RoundingMode.HALF_EVEN).toPlainString)
      val sign = if (exp < 0) "-" else "+"
      f"${mant}e$sign${math.abs(exp)}%02d"
    }
  }

  private def strip(s: String): String =
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse

  /** Python's `repr` of a str. */
  def pyRepr(s: String): String = {
    val quote = if (s.contains('\'') && !s.contains('"')) '"' else '\''
    val sb = new StringBuilder
    sb += quote
    s.foreach {
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c == quote => sb += '\\'; sb += c
      case c if c < ' ' || c == 0x7f => sb ++= f"\\x${c.toInt}%02x"
      case c if c >= 0x80 && c < 0xa0 => sb ++= f"\\x${c.toInt}%02x"
      case c => sb += c
    }
    sb += quote
    sb.toString
  }
}
