package gatebench

import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.types._

/** Column kinds the benchmark compares values by. Every wire renders
  * some of these differently (timestamps as `1995-03-15 00:00:00.0` on
  * Thrift and Trino, as an ISO instant in REST JSON, as epoch micros in
  * Arrow; decimals as strings, BigDecimals or JSON numbers; nulls as a
  * mask bit, a JSON null or a missing JSON field), so a value is first
  * brought to one canonical string per kind.
  */
sealed trait Kind
object Kind {
  case object Integral extends Kind
  case object Fractional extends Kind
  case object Exact extends Kind
  case object Text extends Kind
  case object Timestamp extends Kind
  case object Date extends Kind
  case object Bool extends Kind

  def of(dt: DataType): Kind = dt match {
    case ByteType | ShortType | IntegerType | LongType => Integral
    case FloatType | DoubleType => Fractional
    case _: DecimalType => Exact
    case TimestampType | TimestampNTZType => Timestamp
    case DateType => Date
    case BooleanType => Bool
    case _ => Text
  }

  /** Thrift / Hive type names as GetResultSetMetadata reports them. */
  def ofHiveType(name: String): Kind = name.toUpperCase match {
    case "TINYINT_TYPE" | "SMALLINT_TYPE" | "INT_TYPE" | "BIGINT_TYPE" |
         "TINYINT" | "SMALLINT" | "INT" | "INTEGER" | "BIGINT" => Integral
    case "FLOAT_TYPE" | "DOUBLE_TYPE" | "FLOAT" | "DOUBLE" | "REAL" => Fractional
    case n if n.startsWith("DECIMAL") => Exact
    case "TIMESTAMP_TYPE" | "TIMESTAMP" => Timestamp
    case "DATE_TYPE" | "DATE" => Date
    case "BOOLEAN_TYPE" | "BOOLEAN" => Bool
    case _ => Text
  }
}

object Canon {
  val Null = "∅"
  private val Sep = "\u0001"
  private val tsOut = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val fracDigits = new java.math.MathContext(15)

  /** Canonical text of one decoded value of column kind `k`. Doubles
    * keep 15 significant digits: a floating sum may be merged in a
    * different order on two executions of one plan, and every wire
    * already carries the shortest round-trip rendering.
    */
  def value(k: Kind, v: Any): String = v match {
    case null | None => Null
    case _ => k match {
      case Kind.Integral => v match {
        case n: java.lang.Number if !n.isInstanceOf[java.math.BigDecimal] => n.longValue.toString
        case other => new java.math.BigDecimal(other.toString.trim).toBigIntegerExact.toString
      }
      case Kind.Fractional =>
        val d = v match {
          case n: java.lang.Number => n.doubleValue
          case other => java.lang.Double.parseDouble(other.toString.trim)
        }
        if (d.isNaN || d.isInfinite) d.toString
        else if (d == 0.0) "0"
        else new java.math.BigDecimal(d).round(fracDigits).stripTrailingZeros.toPlainString
      case Kind.Exact =>
        val bd = v match {
          case b: java.math.BigDecimal => b
          case b: scala.math.BigDecimal => b.bigDecimal
          case n: java.lang.Number => new java.math.BigDecimal(n.toString)
          case other => new java.math.BigDecimal(other.toString.trim)
        }
        if (bd.signum == 0) "0" else bd.stripTrailingZeros.toPlainString
      case Kind.Timestamp => timestamp(v).format(tsOut)
      case Kind.Date => date(v).toString
      case Kind.Bool => v match {
        case b: java.lang.Boolean => b.toString
        case other => other.toString.trim.toLowerCase
      }
      case Kind.Text => v.toString
    }
  }

  private def timestamp(v: Any): LocalDateTime = v match {
    case t: java.sql.Timestamp => t.toLocalDateTime
    case t: LocalDateTime => t
    case t: java.time.Instant => LocalDateTime.ofInstant(t, ZoneOffset.UTC)
    case micros: java.lang.Long =>
      LocalDateTime.ofEpochSecond(Math.floorDiv(micros.longValue, 1000000L),
        (Math.floorMod(micros.longValue, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    case s0 =>
      val s = s0.toString.trim
      if (s.contains('T')) {
        // ISO rendering (REST JSON): an instant with an offset
        if (s.endsWith("Z") || s.matches(".*[+-]\\d\\d:?\\d\\d$"))
          OffsetDateTime.parse(s.replaceAll("([+-]\\d\\d)(\\d\\d)$", "$1:$2"))
            .withOffsetSameInstant(ZoneOffset.UTC).toLocalDateTime
        else LocalDateTime.parse(s)
      } else java.sql.Timestamp.valueOf(s).toLocalDateTime
  }

  private def date(v: Any): LocalDate = v match {
    case d: java.sql.Date => d.toLocalDate
    case d: LocalDate => d
    case days: java.lang.Integer => LocalDate.ofEpochDay(days.longValue)
    case s => LocalDate.parse(s.toString.trim.take(10))
  }

  def row(kinds: IndexedSeq[Kind], cells: IndexedSeq[Any]): String = {
    require(cells.length == kinds.length,
      s"row has ${cells.length} cells, schema has ${kinds.length}")
    val sb = new StringBuilder
    var i = 0
    while (i < cells.length) {
      if (i > 0) sb.append(Sep)
      sb.append(value(kinds(i), cells(i)))
      i += 1
    }
    sb.toString
  }

  /** 64-bit hash of one canonical row. */
  def rowHash(canonical: String): Long = {
    val a = MurmurHash3.stringHash(canonical, 0x5bd1e995)
    val b = MurmurHash3.stringHash(canonical, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }
}

/** Order-independent digest of a multiset of rows: count, wrapping sum
  * and xor of the per-row hashes.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def add(h: Long): Digest = Digest(rows + 1, sum + h, xor ^ h)
  override def toString: String = f"rows=$rows sum=$sum%016x xor=$xor%016x"
}

object Digest {
  val empty: Digest = Digest(0, 0, 0)

  def of(kinds: IndexedSeq[Kind], rows: Iterator[IndexedSeq[Any]]): Digest =
    rows.foldLeft(empty)((d, r) => d.add(Canon.rowHash(Canon.row(kinds, r))))
}
