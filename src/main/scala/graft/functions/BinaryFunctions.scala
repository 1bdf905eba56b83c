package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Opaque-binary column primitives for multimodal (image/audio/video)
  * data: format sniffing by magic bytes, content addressing, and
  * fixed-size frame chunking — all codegen'd `functions` compositions
  * (no UDFs), so they run map-side at any scale. The decode itself is
  * model/codec territory and is stubbed behind
  * [[graft.operators.Multimodal.featureStub]] (deterministic fake) —
  * the Spark-side plumbing (schema, batching, partitioning) is real.
  */
object BinaryFunctions {

  /** Byte length of a binary column. */
  def byteSize(bin: Column): Column = length(bin)

  /** Content fingerprint: sha256 hex (matches DuckDB's sha256). */
  def contentSha256(bin: Column): Column = sha2(bin, 256)

  /** Magic-byte format sniffing over the leading bytes. Covers the
    * containers a training-data lake actually stores; extend by case.
    */
  def detectFormat(bin: Column): Column = {
    val head3 = upper(hex(substring(bin, 1, 3)))
    val head4 = upper(hex(substring(bin, 1, 4)))
    when(head3 === "FFD8FF", "jpeg")
      .when(head4 === "89504E47", "png")
      .when(head3 === "474946", "gif")
      .when(head4 === "52494646", "riff") // wav/avi/webp container
      .when(head4 === "25504446", "pdf")
      .when(head4 === "1A45DFA3", "webm")
      .otherwise("unknown")
  }

  /** Fixed-size frame boundaries: array of 1-based offsets. */
  def frameOffsets(bin: Column, frameBytes: Int): Column =
    sequence(lit(1), greatest(length(bin), lit(1)), lit(frameBytes))

  /** Hex fingerprint of the first `n` bytes (portable frame probe). */
  def headHex(bin: Column, n: Int): Column = hex(substring(bin, 1, n))
}
