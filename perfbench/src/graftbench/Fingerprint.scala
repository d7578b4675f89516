package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus the wrapping sum of a per-row xxhash64: equal for equal
  * multisets of rows, whatever their order or partitioning. */
final case class Fp(rows: Long, hash: Long) {
  def show: String = f"$rows:$hash%016x"
}

object Fp {
  def parse(s: String): Fp = {
    val Array(r, h) = s.split(":")
    Fp(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }
}

/** Hashes one row the way Spark's `xxhash64` chains its seed across
  * fields, except that floating-point values are first rounded to
  * `Digits` significant digits, so that a different summation order in
  * an aggregate does not change the fingerprint. Map entries combine
  * order-insensitively. */
final class RowHasher(schema: StructType) extends Serializable {
  import RowHasher._

  def hash(row: InternalRow): Long = struct(row, schema, Seed)

  private def struct(row: InternalRow, st: StructType, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      if (!row.isNullAt(i)) h = value(row.get(i, dt), dt, h)
      i += 1
    }
    h
  }

  private def value(v: Any, dt: DataType, seed: Long): Long = dt match {
    case BooleanType => XXH64.hashInt(if (v.asInstanceOf[Boolean]) 1 else 0, seed)
    case ByteType => XXH64.hashInt(v.asInstanceOf[Byte].toInt, seed)
    case ShortType => XXH64.hashInt(v.asInstanceOf[Short].toInt, seed)
    case IntegerType | DateType | _: YearMonthIntervalType =>
      XXH64.hashInt(v.asInstanceOf[Int], seed)
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      XXH64.hashLong(v.asInstanceOf[Long], seed)
    case FloatType => XXH64.hashLong(doubleBits(v.asInstanceOf[Float].toDouble), seed)
    case DoubleType => XXH64.hashLong(doubleBits(v.asInstanceOf[Double]), seed)
    case _: StringType =>
      val s = v.asInstanceOf[UTF8String]
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)
    case BinaryType =>
      val b = v.asInstanceOf[Array[Byte]]
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
    case _: DecimalType => bytes(v.asInstanceOf[Decimal].toJavaBigDecimal
      .stripTrailingZeros.toPlainString, seed)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = seed
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) h = value(a.get(i, et), et, h)
        i += 1
      }
      h
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var sum = 0L
      var i = 0
      while (i < m.numElements()) {
        val hk = value(ks.get(i, kt), kt, Seed)
        sum += (if (vs.isNullAt(i)) hk else value(vs.get(i, vt), vt, hk))
        i += 1
      }
      XXH64.hashLong(sum, seed)
    case st: StructType => struct(v.asInstanceOf[InternalRow], st, seed)
    case u: UserDefinedType[_] => value(v, u.sqlType, seed)
    case _ => bytes(String.valueOf(v), seed)
  }
}

object RowHasher {
  val Seed = 42L
  val Digits = 9
  private val mc = new MathContext(Digits)

  /** Bits of `d` rounded to [[Digits]] significant digits; NaN, the
    * infinities and both zeros keep one canonical form each. */
  def doubleBits(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else java.lang.Double.doubleToLongBits(new JBigDecimal(d).round(mc).doubleValue)

  private def bytes(s: String, seed: Long): Long = {
    val b = s.getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }
}

object Fingerprint {

  /** Executes `df`'s already-planned physical plan once and returns its
    * fingerprint. The action is the only job it adds: no new projection,
    * no re-planning and no shuffle beyond the plan's own. */
  def of(df: DataFrame): Fp = {
    val hasher = new RowHasher(df.schema)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var sum = 0L
      while (it.hasNext) { sum += hasher.hash(it.next()); n += 1 }
      Iterator.single((n, sum))
    }.collect()
    Fp(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
