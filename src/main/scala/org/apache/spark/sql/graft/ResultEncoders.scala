package org.apache.spark.sql.graft

import java.io.CharArrayWriter

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.execution.HiveResult
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Row encoders the wire frontends share, run in process over a page of
  * collected rows: no Spark job, no re-analysis per page.
  */
object ResultEncoders {

  /** Each row as the JSON object `Dataset.toJSON` writes for it: the same
    * `JacksonGenerator` under the same options, fed the same
    * `InternalRow`s, so the bytes match. One generator per call.
    */
  def json(rows: Seq[Row], schema: StructType, spark: SparkSession): Seq[String] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, writer,
      new JSONOptions(Map.empty[String, String], spark.sessionState.conf.sessionLocalTimeZone))
    try rows.map { r =>
      gen.write(toInternal(r).asInstanceOf[InternalRow])
      gen.flush()
      val s = writer.toString
      writer.reset()
      s
    } finally gen.close()
  }

  /** The value-to-text rule of the text wires (Thrift string columns and
    * row-based pages, Trino cells) for non-null values. Scalars keep the
    * HiveServer2 string convention; BINARY and complex values render as
    * Spark's `HiveResult.toHiveString` does (`[1,2]`, `{"k":1}`,
    * `{"a":1,"b":"q"}`). Build one per page: it holds the session's
    * time and binary formatters.
    */
  final class Text(spark: SparkSession) {
    // HiveResult's binary formatter sets a default style on the active
    // conf and reads it back when it formats: a per-page copy of the
    // session conf keeps the session's own conf untouched
    private lazy val conf = spark.sessionState.conf.clone()
    private lazy val (times, binary) = SQLConf.withExistingConf(conf) {
      (HiveResult.getTimeFormatters, HiveResult.getBinaryFormatter)
    }

    def apply(v: Any, dt: DataType): String = v match {
      case s: String => s
      case d: java.math.BigDecimal => d.toPlainString
      case d: BigDecimal => d.bigDecimal.toPlainString
      case t: java.sql.Timestamp => t.toString
      case d: java.sql.Date => d.toString
      case t: java.time.Instant => java.sql.Timestamp.from(t).toString
      case d: java.time.LocalDate => d.toString
      case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t).toString
      case _ => dt match {
        case BinaryType | _: ArrayType | _: MapType | _: StructType =>
          SQLConf.withExistingConf(conf) {
            HiveResult.toHiveString((v, dt), nested = false, times, binary)
          }
        case _ => String.valueOf(v)
      }
    }
  }
}
