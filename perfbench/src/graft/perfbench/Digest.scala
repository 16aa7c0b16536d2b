package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Order-independent result digest, computed identically by `digest.py`
  * over DuckDB results: every row is rendered as a canonical string (columns
  * sorted by lower-cased name, typed value encodings), hashed with MD5, and
  * the first 8 bytes of each hash are summed modulo 2^64. The digest is
  * `"<rows>:<sum as 16 hex digits>"`, so two results agree exactly when they
  * hold the same multiset of rows (the same rule as `tools/compare.py`). */
object Digest {

  final case class Partial(rows: Long, sum: Long) {
    def +(o: Partial): Partial = Partial(rows + o.rows, sum + o.sum)
    def render: String = f"$rows:$sum%016x"
  }
  val Zero: Partial = Partial(0L, 0L)

  private def dbl(d: Double, sb: java.lang.StringBuilder): Unit = {
    val bits = java.lang.Double.doubleToLongBits(d)
    sb.append("f:").append(String.format("%016x", Long.box(bits)))
  }

  private def dec(b: java.math.BigDecimal, sb: java.lang.StringBuilder): Unit = {
    val s = if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    sb.append("d:").append(s)
  }

  private def rowHash(s: String, md: MessageDigest): Long = {
    val h = md.digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  /** Encode one Catalyst internal value. */
  private def encInternal(v: Any, dt: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) 'T' else 'F')
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append("i:").append(v.toString)
      case FloatType => dbl(v.asInstanceOf[Float].toDouble, sb)
      case DoubleType => dbl(v.asInstanceOf[Double], sb)
      case _: DecimalType => dec(v.asInstanceOf[Decimal].toJavaBigDecimal, sb)
      case _: StringType => sb.append("s:").append(v.toString)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          encInternal(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          encInternal(if (r.isNullAt(i)) null else r.get(i, st(i).dataType),
            st(i).dataType, sb)
        }
        sb.append('}')
      case other => sb.append("?:").append(other.simpleString).append(':').append(v)
    }

  /** Column visiting order: by lower-cased name, then position. */
  def nameOrder(names: Seq[String]): Array[Int] =
    names.zipWithIndex.sortBy { case (n, i) => (n.toLowerCase, i) }.map(_._2).toArray

  /** Digest of one partition of Catalyst rows (runs on executors). */
  def internalPartition(it: Iterator[InternalRow], schema: StructType,
      order: Array[Int]): Partial = {
    val md = MessageDigest.getInstance("MD5")
    var rows = 0L
    var sum = 0L
    val sb = new java.lang.StringBuilder
    it.foreach { r =>
      sb.setLength(0)
      var k = 0
      while (k < order.length) {
        val i = order(k)
        if (k > 0) sb.append('|')
        val dt = schema(i).dataType
        encInternal(if (r.isNullAt(i)) null else r.get(i, dt), dt, sb)
        k += 1
      }
      sum += rowHash(sb.toString, md)
      rows += 1
    }
    Partial(rows, sum)
  }

  /** Encode one client-side value (as `StatementClient` coerces them). */
  private def encExternal(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) 'T' else 'F')
    case x @ (_: Byte | _: Short | _: Int | _: Long) => sb.append("i:").append(x.toString)
    case f: Float => dbl(f.toDouble, sb)
    case d: Double => dbl(d, sb)
    case b: java.math.BigDecimal => dec(b, sb)
    case b: BigDecimal => dec(b.bigDecimal, sb)
    case s: String => sb.append("s:").append(s)
    case xs: Seq[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); encExternal(x, sb) }
      sb.append(']')
    case other => sb.append("?:").append(other.toString)
  }

  /** Digest of a client result set. */
  def external(names: Seq[String], rows: Iterable[Seq[Any]]): String = {
    val order = nameOrder(names)
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      sb.setLength(0)
      order.indices.foreach { k =>
        if (k > 0) sb.append('|')
        encExternal(r(order(k)), sb)
      }
      sum += rowHash(sb.toString, md)
      n += 1
    }
    Partial(n, sum).render
  }
}
