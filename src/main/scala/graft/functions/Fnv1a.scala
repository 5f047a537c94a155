package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 32-bit masked to non-negative — the reference's shuffle hash
  * (`/root/reference/mr/worker.go:38-42`: `h.Sum32() & 0x7fffffff`).
  */
object Fnv1a {
  final val OffsetBasis: Int = 0x811c9dc5
  final val Prime: Int = 16777619

  /** Static so generated code can call it directly. */
  def hashBytes(bytes: Array[Byte]): Int = {
    var h = OffsetBasis
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= Prime
      i += 1
    }
    h & 0x7fffffff
  }

  /** `hashBytes(s.getBytes(UTF_8))` without the byte array: the UTF-8
    * encoding is hashed as it is produced. A surrogate pair hashes as its
    * 4-byte code point and a lone surrogate as `?`, as `getBytes` writes
    * it.
    */
  def hash(s: String): Int = {
    var h = OffsetBasis
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i).toInt
      if (c < 0x80) h = (h ^ c) * Prime
      else if (c < 0x800) {
        h = (h ^ (0xc0 | (c >> 6))) * Prime
        h = (h ^ (0x80 | (c & 0x3f))) * Prime
      } else if (!Character.isSurrogate(c.toChar)) {
        h = (h ^ (0xe0 | (c >> 12))) * Prime
        h = (h ^ (0x80 | ((c >> 6) & 0x3f))) * Prime
        h = (h ^ (0x80 | (c & 0x3f))) * Prime
      } else if (Character.isHighSurrogate(c.toChar) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c.toChar, s.charAt(i + 1))
        h = (h ^ (0xf0 | (cp >> 18))) * Prime
        h = (h ^ (0x80 | ((cp >> 12) & 0x3f))) * Prime
        h = (h ^ (0x80 | ((cp >> 6) & 0x3f))) * Prime
        h = (h ^ (0x80 | (cp & 0x3f))) * Prime
        i += 1
      } else h = (h ^ '?') * Prime
      i += 1
    }
    h & 0x7fffffff
  }

  /** Column surface: `fnv1a(col)` — a native codegen'd Catalyst
    * expression, not a Scala UDF, so it stays inside whole-stage codegen.
    */
  def fnv1a(c: Column): Column =
    Bridge.column(Fnv1aHash(Bridge.expression(c.cast("string"))))
}

/** fnv1a(string) → non-negative int. Null in → null out (UnaryExpression
  * default). Codegen emits a direct static call — no boxing, no UDF.
  * The Column helper casts its input to string, so the child is always
  * StringType by construction.
  */
case class Fnv1aHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "fnv1a"

  override protected def nullSafeEval(input: Any): Any =
    Fnv1a.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Fnv1a.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1aHash =
    copy(child = newChild)
}
