package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word-shingle hashing as a custom Catalyst expression.
  *
  * `text → array<long>` of the document's word k-gram hashes (the engine's
  * portable hash: first 15 hex digits of MD5, base-16). Semantically equal to
  * `transform(shingles(words(text)), s -> hash64(s))` but one hand-written
  * loop per document instead of five interpreted higher-order functions with
  * per-element array allocations — ~10× faster in the dedup hot path, and
  * zero-shuffle (vs a posexplode+window formulation that shuffles the whole
  * token stream by doc_id).
  *
  * `distinct = true` keeps first occurrences (array_distinct semantics);
  * `false` keeps positional order (winnowing needs positions).
  */
case class ShingleHashes(child: Expression, k: Int, distinct: Boolean, salt: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.evalText(input.asInstanceOf[UTF8String], k, distinct, salt)

  /** Generated code calls the static hashing loop directly — the expression
    * stays inside the WholeStageCodegen span (no interpreted-eval boundary,
    * no per-row InternalRow boxing the CodegenFallback path pays). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // the salt rides as a compiled-in reference object, not a source
      // literal — hand-escaping can't cover control chars (a '\n' in a
      // config-read salt would break Janino compilation)
      val saltRef = ctx.addReferenceObj("shingleSalt", salt, "java.lang.String")
      s"""${ev.value} = graft.plans.ShingleHashes.evalText($c, $k, $distinct, $saltRef);"""
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Identical to `Portable.hash64`: first 15 hex digits of MD5, base 16. */
  def hash64(s: String): Long = {
    val md = digest.get()
    md.reset()
    val bytes = md.digest(s.getBytes(StandardCharsets.UTF_8))
    // 15 hex digits = first 7 bytes + high nibble of byte 8
    var v = 0L
    var i = 0
    while (i < 7) {
      v = (v << 8) | (bytes(i) & 0xffL)
      i += 1
    }
    (v << 4) | ((bytes(7) & 0xf0L) >> 4)
  }

  /** Mirrors `split(lower(text), "\\s+")` + drop empties. */
  def splitWords(text: String): Array[String] =
    text.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** The single-pass shingle-hash loop, callable from generated code. */
  def evalText(input: UTF8String, k: Int, distinct: Boolean, salt: String): GenericArrayData = {
    val words = splitWords(input.toString)
    if (words.length < k) return new GenericArrayData(Array.empty[Long])
    val n = words.length - k + 1
    val out = new Array[Long](n)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = hash64(if (salt.isEmpty) sb.toString else salt + sb)
      i += 1
    }
    new GenericArrayData(if (distinct) out.distinct else out)
  }

  def apply(c: Column, k: Int, distinct: Boolean, salt: String = ""): Column =
    GraftBridge.column(ShingleHashes(GraftBridge.expression(c), k, distinct, salt))

  /** Sanity cross-check against the hex-string path. */
  private[graft] def hash64Reference(s: String): Long = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }
}
