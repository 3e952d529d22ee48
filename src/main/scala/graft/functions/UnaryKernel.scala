package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** The one shell every compiled unary kernel runs in — Spark's
  * `case class Sqrt(child) extends UnaryMathExpression(math.sqrt, "SQRT")`
  * idiom. A kernel is a case class that names its fields, its `dataType`
  * and its one `compute`; the shell owns the Catalyst plumbing:
  *
  *  - type check: the child must be `inputType` (array element
  *    nullability ignored); the error names `prettyName` and the type;
  *  - null rule: a null input yields `nullInput` — SQL null unless the
  *    kernel declares a fixed value, which makes it non-nullable — and a
  *    reference-typed (or boxed) `compute` result of null is SQL null;
  *  - codegen: one call from generated code to `compute` on the kernel
  *    itself, shipped as a codegen reference object. Every generated local
  *    comes from `ctx.freshName`, so a kernel may appear any number of
  *    times in one projection and never drops its stage to interpreted
  *    evaluation. Interpreted `eval` calls the same `compute`.
  *
  * `I` is the child's codegen value type (`UTF8String`, `ArrayData`,
  * `Double`, `Array[Byte]`). `O` is `dataType`'s codegen type, or its
  * boxed form when `compute` may return null for a primitive type.
  */
abstract class UnaryKernel[I, O](inputType: DataType, name: String, nullInput: Any = null)
    (implicit result: ClassTag[O]) extends UnaryExpression with Serializable {

  /** The kernel body, called once per non-null input row. */
  def compute(input: I): O

  override def prettyName: String = name
  override def nullable: Boolean = nullInput == null

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, inputType) match {
    case (ArrayType(e, _), ArrayType(want, _)) if e == want => TypeCheckResult.TypeCheckSuccess
    case (t, want) if t == want => TypeCheckResult.TypeCheckSuccess
    case (t, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${inputType.simpleString} input, got ${t.sql}")
  }

  override def eval(row: InternalRow): Any = {
    val v = child.eval(row)
    if (v == null) nullInput else compute(v.asInstanceOf[I])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val call = s"${ctx.addReferenceObj(name, this, getClass.getName)}.compute(${in.value})"
    val jt = CodeGenerator.javaType(dataType)
    if (!nullable) {
      val v = if (!child.nullable) call
        else s"${in.isNull} ? ${Literal(nullInput, dataType).genCode(ctx).value} : $call"
      ev.copy(code = code"${in.code}\n$jt ${ev.value} = $v;", isNull = FalseLiteral)
    } else {
      val r = ctx.freshName("r")
      val store =
        if (result.runtimeClass.isPrimitive) s"${ev.value} = $r;"
        else if (CodeGenerator.isPrimitiveType(dataType))
          s"${ev.isNull} = $r == null; if (!${ev.isNull}) ${ev.value} = $r.${jt}Value();"
        else s"${ev.value} = $r; ${ev.isNull} = $r == null;"
      val rt = if (result.runtimeClass.isPrimitive) jt else CodeGenerator.boxedType(dataType)
      ev.copy(code = code"""
        ${in.code}
        boolean ${ev.isNull} = ${in.isNull};
        $jt ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          $rt $r = $call;
          $store
        }""")
    }
  }

  // every kernel's first field is its child
  override protected def withNewChildInternal(newChild: Expression): Expression =
    makeCopy((newChild +: productIterator.drop(1).map(_.asInstanceOf[AnyRef]).toSeq).toArray)
}

/** A kernel's model constants (a sketch, centroids, per-dim stats, a
  * query) as one plan value, after [[SurprisalModel]]: equality and hash
  * on a content digest computed once, so two kernels built from equal
  * models are `semanticEquals` (and may share a subexpression or an
  * exchange), and plan text prints a short digest instead of a JVM
  * identity hash. The digest is the MD5 of the value's Java
  * serialization, which for arrays and tuples of arrays is their
  * content. */
final class KernelModel[A <: AnyRef](val value: A) extends Serializable {
  val digest: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.io.ObjectOutputStream(
      new java.security.DigestOutputStream(java.io.OutputStream.nullOutputStream(), md))
    out.writeObject(value)
    out.close()
    md.digest().map("%02x".format(_)).mkString
  }

  override def equals(o: Any): Boolean = o match {
    case m: KernelModel[_] => m.digest == digest
    case _ => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String = s"model(md5=${digest.take(12)})"
}

object UnaryKernel {

  /** The DataFrame-side wrapper of a kernel: `column(c)(SimHash16(_))`. */
  def column(c: Column)(kernel: Expression => Expression): Column =
    GraftShim.column(kernel(GraftShim.expression(c)))

  /** Java-regex `\s`: exactly the six ASCII bytes 0x09–0x0D and 0x20, all
    * below 0x80, so a UTF-8 byte scan splits where
    * `split(trim(regexp_replace(text, "\\s+", " ")), " ")` does. */
  @inline def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** First non-whitespace byte at or after `i` (`numBytes` if none). */
  def tokenStart(s: UTF8String, i: Int): Int = {
    var j = i
    while (j < s.numBytes && isWs(s.getByte(j))) j += 1
    j
  }

  /** End (exclusive) of the whitespace token starting at `i`. */
  def tokenEnd(s: UTF8String, i: Int): Int = {
    var j = i
    while (j < s.numBytes && !isWs(s.getByte(j))) j += 1
    j
  }

  private val md5Pool = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** MD5 of `bytes` on this thread's digest. */
  def md5(bytes: Array[Byte]): Array[Byte] = md5Pool.get().digest(bytes)

  /** Digest bytes `off`..`off+3` as a big-endian unsigned 32-bit value —
    * what the SQL twins parse from the hex digest with
    * `conv(substring(md5(x), 2·off + 1, 8), 16, 10)`. */
  def word32(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xffL) << 24) | ((d(off + 1) & 0xffL) << 16) |
      ((d(off + 2) & 0xffL) << 8) | (d(off + 3) & 0xffL)

  /** Micro-unit quantization, rounding half away from zero through an
    * explicit IEEE floor — the long both engines derive from a float
    * component (the SQL twins spell the same `floor`s). */
  @inline def microQ(f: Float): Long = {
    val d = f.toDouble * 1000000.0
    (if (d >= 0) math.floor(d + 0.5) else -math.floor(-d + 0.5)).toLong
  }
}
