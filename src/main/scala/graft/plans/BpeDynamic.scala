package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** BPE kernels under a DYNAMIC merge table (SURVEY §2 H33 — in-engine BPE
  * training, round-11 verdict item 2). [[BpeTokens]] is the same machine
  * hard-wired to the fixed 55-rule demo table; a learned table is only
  * known at run time, so these take it as constructor data (embedded in
  * the plan as reference objects — still one static call per row inside
  * whole-stage codegen). Training calls [[applyRules]] directly, once per
  * text per round, under the rule list learned so far.
  *
  * Rule application is the pinned H18b semantics: one codepoint decode,
  * then each rule (a, b) → m as an in-place left-to-right non-overlapping
  * pass in table order — identical to a chain of literal
  * `replace(s, 'ab', 'm')` calls, which is what the DuckDB training oracle
  * replays round by round.
  */
object BpeDynamic {

  /** Pair key encoding shared with the oracles: a · 2^21 + b (symbol ids
    * are codepoints or PUA merge symbols, all < 2^21). */
  val PairBase = 2097152L

  /** The merged symbol sequence of `str` under the rule table, as a
    * buffer and its live length. */
  private[graft] def applyRules(
      str: String, ra: Array[Int], rb: Array[Int], rm: Array[Int]): (Array[Int], Int) = {
    val n = str.length
    val arr = new Array[Int](n)
    var len = 0
    var i = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      arr(len) = cp
      len += 1
      i += Character.charCount(cp)
    }
    var r = 0
    while (r < ra.length) {
      val a = ra(r); val b = rb(r); val m = rm(r)
      var rd = 0
      var wr = 0
      while (rd < len) {
        if (rd + 1 < len && arr(rd) == a && arr(rd + 1) == b) {
          arr(wr) = m; rd += 2
        } else {
          arr(wr) = arr(rd); rd += 1
        }
        wr += 1
      }
      len = wr
      r += 1
    }
    (arr, len)
  }

  /** Token count after applying the rule table (the H18b count, under a
    * LEARNED table instead of the fixed demo one). */
  def countWith(s: UTF8String, ra: Array[Int], rb: Array[Int], rm: Array[Int]): Int =
    applyRules(s.toString, ra, rb, rm)._2

  case class BpeCountWith(child: Expression, ra: Seq[Int], rb: Seq[Int], rm: Seq[Int])
      extends UnaryExpression with ExpectsInputTypes {
    require(ra.length == rb.length && rb.length == rm.length, "ragged rule table")
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(StringType)
    @transient private lazy val (raA, rbA, rmA) = (ra.toArray, rb.toArray, rm.toArray)
    override def nullSafeEval(a: Any): Any =
      BpeDynamic.countWith(a.asInstanceOf[UTF8String], raA, rbA, rmA)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val raRef = ctx.addReferenceObj("bpeRa", raA, "int[]")
      val rbRef = ctx.addReferenceObj("bpeRb", rbA, "int[]")
      val rmRef = ctx.addReferenceObj("bpeRm", rmA, "int[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.BpeDynamic.countWith($c, $raRef, $rbRef, $rmRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeCountWith =
      copy(child = c)
  }

  def countWithCol(c: Column, ra: Seq[Int], rb: Seq[Int], rm: Seq[Int]): Column =
    column(BpeCountWith(expression(c), ra, rb, rm))

  /** The merged SYMBOL sequence after applying the rule table — the
    * stream the vocabulary pass enumerates (H54). */
  def symbolsOf(s: UTF8String, ra: Array[Int], rb: Array[Int], rm: Array[Int]): GenericArrayData = {
    val (arr, len) = applyRules(s.toString, ra, rb, rm)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) { out(i) = arr(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Dense token-ID encoding (H54): apply the rule table, then map each
    * merged symbol to its rank in the sorted `vocab` array (binary
    * search). A symbol absent from the vocabulary throws — the id pass
    * runs over the same corpus the vocabulary was built from, so a miss
    * is a bug surfacing, not data handling. */
  def encodeIds(s: UTF8String, ra: Array[Int], rb: Array[Int], rm: Array[Int],
      vocab: Array[Int]): GenericArrayData = {
    val (arr, len) = applyRules(s.toString, ra, rb, rm)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      val id = java.util.Arrays.binarySearch(vocab, arr(i))
      if (id < 0) throw new IllegalArgumentException(
        s"symbol ${arr(i)} not in the ${vocab.length}-entry vocabulary")
      out(i) = id
      i += 1
    }
    new GenericArrayData(out)
  }

  case class BpeSymbols(child: Expression, ra: Seq[Int], rb: Seq[Int], rm: Seq[Int])
      extends UnaryExpression with ExpectsInputTypes {
    require(ra.length == rb.length && rb.length == rm.length, "ragged rule table")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(StringType)
    @transient private lazy val (raA, rbA, rmA) = (ra.toArray, rb.toArray, rm.toArray)
    override def nullSafeEval(a: Any): Any =
      BpeDynamic.symbolsOf(a.asInstanceOf[UTF8String], raA, rbA, rmA)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val raRef = ctx.addReferenceObj("bpeRa", raA, "int[]")
      val rbRef = ctx.addReferenceObj("bpeRb", rbA, "int[]")
      val rmRef = ctx.addReferenceObj("bpeRm", rmA, "int[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.BpeDynamic.symbolsOf($c, $raRef, $rbRef, $rmRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeSymbols =
      copy(child = c)
  }

  case class BpeEncodeIds(child: Expression, ra: Seq[Int], rb: Seq[Int],
      rm: Seq[Int], vocab: Seq[Int]) extends UnaryExpression with ExpectsInputTypes {
    require(ra.length == rb.length && rb.length == rm.length, "ragged rule table")
    require(vocab == vocab.sorted, "vocabulary must be sorted (ids are ranks)")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def inputTypes: Seq[ColumnBridge.AbstractType] = Seq(StringType)
    @transient private lazy val (raA, rbA, rmA, vA) =
      (ra.toArray, rb.toArray, rm.toArray, vocab.toArray)
    override def nullSafeEval(a: Any): Any =
      BpeDynamic.encodeIds(a.asInstanceOf[UTF8String], raA, rbA, rmA, vA)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val raRef = ctx.addReferenceObj("bpeRa", raA, "int[]")
      val rbRef = ctx.addReferenceObj("bpeRb", rbA, "int[]")
      val rmRef = ctx.addReferenceObj("bpeRm", rmA, "int[]")
      val vRef = ctx.addReferenceObj("bpeVocab", vA, "int[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.plans.BpeDynamic.encodeIds($c, $raRef, $rbRef, $rmRef, $vRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeEncodeIds =
      copy(child = c)
  }

  def symbolsCol(c: Column, ra: Seq[Int], rb: Seq[Int], rm: Seq[Int]): Column =
    column(BpeSymbols(expression(c), ra, rb, rm))
  def encodeIdsCol(c: Column, ra: Seq[Int], rb: Seq[Int], rm: Seq[Int],
      vocab: Seq[Int]): Column =
    column(BpeEncodeIds(expression(c), ra, rb, rm, vocab))
}
