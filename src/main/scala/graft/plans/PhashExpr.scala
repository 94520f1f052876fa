package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** `payload_phash(binary)` — the 48-bit aHash-style perceptual fingerprint
  * of a media payload as a native codegen'd expression (the "§2.10 custom
  * Expression" rung, on BINARY input).
  *
  * Same kernel as the `mm_phash_dedup` decode stub: pool the bytes into 48
  * chunks (chunk of byte i is i·48 div n), set bit j iff 48·sum(chunk j) ≥
  * sum(all) — integer cross-multiplication, no float boundary. As a column
  * expression the hash stays inside WholeStageCodegen on the scan: no
  * Dataset encoder boundary, no Row→tuple→Row round-trip, and the 8-byte
  * hash is all that survives the projection.
  */
object PhashExpr {

  /** The fingerprint kernel; static so generated code can call it.
    * Mirrors the SQL oracle exactly (48 chunks, cross-multiplied mean
    * threshold; n = 0 yields the all-ones value the CALLER must filter,
    * matching the query-level `length > 0` guard). */
  def hash48(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val sums = new Array[Long](48)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      sums((i.toLong * 48 / n).toInt) += v
      total += v
      i += 1
    }
    var ph = 0L
    var j = 0
    while (j < 48) {
      if (48L * sums(j) >= total) ph |= 1L << j
      j += 1
    }
    ph
  }
}

/** binary → bigint (48 significant bits). Strings implicitly cast to
  * binary at analysis time (the payload IS text-derived in the harness
  * tables), so resolution never depends on the caller's column type. */
case class PayloadPhash(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  // inferred result type: AbstractDataType is private[sql] in Spark 4
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PhashExpr.hash48(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PhashExpr.hash48($c)")

  override protected def withNewChildInternal(newChild: Expression): PayloadPhash =
    copy(child = newChild)
}
