package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-row BPE merge application with FAITHFUL sequential-pass
  * semantics: merge i runs to completion over the token sequence
  * (greedy left-to-right, non-overlapping — exactly one
  * `regexp_replace` pass) before merge i+1 starts. The kernel behind
  * [[graft.operators.Lm.bpeEncode]] at every merge count; spec-pinned
  * char for char against the regexp-chain reference (the test-scope
  * `LiteralArms.bpeEncodeLiteral`, LmSpec).
  *
  * The merge TABLE is data, not tree: it rides in as one foldable
  * array literal, so the plan holds O(1) expression nodes however many
  * merges the tokenizer learned — the literal regexp chain's plan
  * grows one nested `regexp_replace` PER merge and dies of analyzer
  * stack depth in the low thousands (measured; see SCALE.md), two
  * orders of magnitude short of a production 10k–50k-merge vocabulary.
  * Per row the kernel is O(merges + tokens·applied): a token-presence
  * count map skips, in O(1), every merge whose pair can't occur in
  * this document — for natural text almost all of a big table — where
  * the regexp chain pays a full string scan per merge per row.
  *
  * Greedy-pass equivalence to the regexp (array scan continuing after
  * a merged pair == `replaceAll` continuing after the replacement)
  * relies on tokens being non-empty and whitespace-free, which
  * [[graft.functions.TextAnalysis.tokens]] guarantees. */
final class BpeMergeKernel(mergeA: Array[String], mergeB: Array[String],
                           joiner: String) extends Serializable {

  /** Space-joined encoded tokens (same value the reference's
    * `trim(regexp chain over the padded join)` yields). */
  def encode(tokens: Array[String]): String = {
    val n = tokens.length
    if (n == 0) return ""
    val counts = new java.util.HashMap[String, Integer](math.max(8, n * 2))
    var i = 0
    while (i < n) {
      val c = counts.get(tokens(i))
      counts.put(tokens(i), if (c == null) 1 else c + 1)
      i += 1
    }
    val buf = tokens.clone()
    var len = n
    var mi = 0
    while (mi < mergeA.length) {
      val a = mergeA(mi); val b = mergeB(mi)
      val ca = counts.get(a)
      val cb = if (a == b) ca else counts.get(b)
      val possible =
        if (a == b) ca != null && ca >= 2
        else ca != null && cb != null && ca > 0 && cb > 0
      if (possible) {
        val merged = a + joiner + b
        var r = 0; var w = 0
        while (r < len) {
          if (r + 1 < len && buf(r) == a && buf(r + 1) == b) {
            buf(w) = merged
            counts.put(a, counts.get(a) - 1)
            counts.put(b, counts.get(b) - 1)
            val cm = counts.get(merged)
            counts.put(merged, if (cm == null) 1 else cm + 1)
            r += 2
          } else {
            buf(w) = buf(r)
            r += 1
          }
          w += 1
        }
        len = w
      }
      mi += 1
    }
    val sb = new java.lang.StringBuilder(len * 8)
    i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(buf(i))
      i += 1
    }
    sb.toString
  }

  /** ArrayData-in, UTF8String-out adapter — the single call codegen
    * emits per row. */
  def encodeArray(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      // the SQL-registered form admits array<string> with nullable
      // elements — fail with the diagnosis, not an NPE (round-14 advice)
      val u = arr.getUTF8String(i)
      require(u != null,
        s"graft_bpe_encode: tokens array contains a null element at index $i" +
          " — tokens must be non-null strings")
      toks(i) = u.toString
      i += 1
    }
    UTF8String.fromString(encode(toks))
  }
}

/** `graft_bpe_encode(tokens, merges, joiner)` — tokens:
  * array&lt;string&gt;, merges: FOLDABLE array&lt;array&lt;string&gt;&gt;
  * of [a, b] pairs in training order, joiner: foldable string.
  * Returns the space-joined encoded sequence. Codegen is one kernel
  * invocation per row (the kernel object rides the plan references,
  * like a broadcast model), keeping the projection inside whole-stage
  * codegen at any merge-table size. */
case class BpeEncode(tokens: Expression, merges: Expression, joiner: Expression)
    extends TernaryExpression {

  override def first: Expression = tokens
  override def second: Expression = merges
  override def third: Expression = joiner

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult = {
    val tokOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val mergesOk = second.dataType match {
      case ArrayType(ArrayType(StringType, _), _) => second.foldable
      case _ => false
    }
    val joinerOk = third.dataType == StringType && third.foldable
    if (tokOk && mergesOk && joinerOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_bpe_encode expects (array<string> tokens, foldable " +
        "array<array<string>> merges, foldable string joiner); got (" +
        s"${first.dataType.simpleString}, ${second.dataType.simpleString}" +
        s"${if (second.foldable) "" else " non-foldable"}, " +
        s"${third.dataType.simpleString}${if (third.foldable) "" else " non-foldable"})")
  }

  @transient private lazy val kernel: BpeMergeKernel = {
    val m = second.eval(null).asInstanceOf[ArrayData]
    val n = m.numElements()
    val as = new Array[String](n)
    val bs = new Array[String](n)
    var i = 0
    while (i < n) {
      val pair = m.getArray(i)
      require(pair != null && pair.numElements() == 2,
        s"graft_bpe_encode: merge $i is not an [a, b] pair")
      val pa = pair.getUTF8String(0)
      val pb = pair.getUTF8String(1)
      require(pa != null && pb != null,
        s"graft_bpe_encode: merge $i has a null side — both members of an" +
          " [a, b] pair must be non-null strings")
      as(i) = pa.toString
      bs(i) = pb.toString
      i += 1
    }
    new BpeMergeKernel(as, bs,
      third.eval(null).asInstanceOf[UTF8String].toString)
  }

  override def nullSafeEval(toks: Any, merges: Any, joiner: Any): Any =
    kernel.encodeArray(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("bpeKernel", kernel,
      classOf[BpeMergeKernel].getName)
    nullSafeCodeGen(ctx, ev, (toks, _, _) =>
      s"${ev.value} = $k.encodeArray($toks);")
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(tokens = f, merges = s, joiner = t)
}

object BpeEncode {
  /** Column form of `graft_bpe_encode` ([[GraftExtensions]] registers
    * it): encode a token-array column under a merge table. */
  def column(tokens: Column, merges: Seq[(String, String)], joiner: String): Column =
    call_function("graft_bpe_encode", tokens,
      typedLit(merges.map(p => Seq(p._1, p._2))), lit(joiner))
}
