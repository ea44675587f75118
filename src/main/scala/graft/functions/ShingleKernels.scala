package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftnative.NativeColumn
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the exact n-gram dedup tier: the per-text shingle
  * set and the per-shingle candidate pairs, each one direct loop over
  * `ArrayData` with no lambda dispatch: the higher-order equivalents
  * (`transform` over a `sequence`, `filter`/`slice` inside a nested
  * `transform`) are interpreted once per token and once per pair.
  */
object ShingleKernels {

  /** Distinct word 3-grams of a token array, in first-occurrence order,
    * each joined with one space (see [[WordTrigrams]]). */
  def trigrams(tokens: Column): Column =
    NativeColumn.wrap(WordTrigrams(NativeColumn.unwrap(tokens)))

  /** Generator over one shingle group's
    * `array<struct<doc_id: bigint, sz: bigint>>`: a row
    * `(r1, r2, sz1, sz2)` per member pair whose sizes satisfy
    * `den · min(sz) ≥ num · max(sz)` (see [[SizeBoundedPairs]]) —
    * (4, 5) is the Jaccard ≥ 0.8 length bound, (0, 1) keeps every
    * pair. */
  def boundedPairs(members: Column, num: Int, den: Int): Column =
    NativeColumn.wrap(
      SizeBoundedPairs(NativeColumn.unwrap(members), num, den))
}

/** `array<string> → array<string>`: the distinct word 3-grams of a
  * token array. Gram i joins tokens i, i+1, i+2 with one space, as
  * `concat_ws(' ', ...)` does (a NULL token is skipped, an empty one
  * kept), and a gram seen before is dropped, so the result equals
  * `array_distinct(transform(sequence(0, size(tk) - 3), i ->
  * concat_ws(' ', tk[i], tk[i+1], tk[i+2])))` on every array of three
  * or more tokens. Fewer than three tokens give an empty array (the
  * reference is only ever evaluated on three or more); a NULL array
  * gives NULL.
  */
case class WordTrigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // inferred as Seq[AbstractDataType] (that type is private[sql])
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_trigrams"

  def trigrams(tk: ArrayData): ArrayData = {
    val n = tk.numElements() - 2
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val out = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      val g = UTF8String.concatWs(sep, tk.getUTF8String(i),
        tk.getUTF8String(i + 1), tk.getUTF8String(i + 2))
      if (seen.add(g)) { out(m) = g; m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], m).asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(a: Any): Any = trigrams(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordTrigrams", this,
      classOf[WordTrigrams].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.trigrams($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordTrigrams = copy(child = newChild)
}

/** Generator: one shingle group's members
  * (`array<struct<doc_id: bigint, sz: bigint>>`, `sz` the member's
  * shingle-set size, never negative) → a row `(r1, r2, sz1, sz2)` for
  * every unordered member pair with `den·min(sz) ≥ num·max(sz)`, with
  * `r1` the smaller id and `sz1` its size. (num, den) = (4, 5) is the
  * Jaccard length bound (jaccard ≤ min/max, so ≥ 0.8 needs
  * 5·min ≥ 4·max); num = 0 keeps every pair. A NULL member, id or size
  * never pairs; a NULL array emits nothing.
  *
  * Pairs stream from an iterator, so a hot shingle's f² pairs never
  * sit in one row: the row holds only the f ids and sizes. Members are
  * walked in (sz, id) order, so each member's partners are a
  * contiguous run that ends at the first size past its bound;
  * pairs outside the bound are never visited. The pair SET is the one
  * the all-pairs enumeration yields; only the emission order differs,
  * which the consuming aggregate does not see.
  */
case class SizeBoundedPairs(child: Expression, num: Int, den: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(num >= 0 && den > 0 && num <= den,
    s"size bound needs 0 <= num <= den, den > 0, got $num/$den")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, LongType, _, _))), _) => TypeCheckSuccess
    case _ => TypeCheckFailure(
      "members must be array<struct<doc_id: bigint, sz: bigint>>")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("r1", LongType, nullable = false),
    StructField("r2", LongType, nullable = false),
    StructField("sz1", LongType, nullable = false),
    StructField("sz2", LongType, nullable = false)))

  override def prettyName: String = "size_bounded_pairs"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val a = child.eval(input)
    if (a == null) Iterator.empty else pairs(a.asInstanceOf[ArrayData])
  }

  def pairs(members: ArrayData): Iterator[InternalRow] = {
    val n = members.numElements()
    val ids0 = new Array[Long](n)
    val szs0 = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!members.isNullAt(i)) {
        val s = members.getStruct(i, 2)
        if (!s.isNullAt(0) && !s.isNullAt(1)) {
          ids0(m) = s.getLong(0); szs0(m) = s.getLong(1); m += 1
        }
      }
      i += 1
    }
    val order = (0 until m).sortWith { (x, y) =>
      if (szs0(x) != szs0(y)) szs0(x) < szs0(y) else ids0(x) < ids0(y)
    }
    val ids = order.map(ids0).toArray
    val szs = order.map(szs0).toArray
    new PairIterator(ids, szs)
  }

  /** Pairs (i, j), i < j in (sz, id) order, while
    * num·sz(j) ≤ den·sz(i): sz(j) ≥ sz(i), so that is the whole bound. */
  private final class PairIterator(ids: Array[Long], szs: Array[Long])
      extends Iterator[InternalRow] {
    private var i = 0
    private var j = 1
    private var ready = false

    private def advance(): Unit =
      while (!ready && i < ids.length - 1) {
        if (j < ids.length && szs(j) * num <= szs(i) * den) ready = true
        else { i += 1; j = i + 1 }
      }

    override def hasNext: Boolean = { advance(); ready }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      ready = false
      val row = new GenericInternalRow(4)
      val (a, b) = if (ids(i) < ids(j)) (i, j) else (j, i)
      row.setLong(0, ids(a)); row.setLong(1, ids(b))
      row.setLong(2, szs(a)); row.setLong(3, szs(b))
      j += 1
      row
    }
  }

  override protected def withNewChildInternal(
      newChild: Expression): SizeBoundedPairs = copy(child = newChild)
}
