package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftnative.NativeColumn
import org.apache.spark.sql.types._

/** Block-scoring kernel for the similarity tier: exact rounded cosines
  * of vectors against a BLOCK of member vectors (an array of
  * `struct<id: bigint, e: array<float>, n: double>` rows — a cell's
  * members, an LSH bucket's members), keeping only a bounded top-k.
  * Every pair is scored in-row where the block meets its query, so no
  * pair-sized frame is ever materialized: the scored output of one row
  * is at most k entries per query.
  *
  * Arithmetic is exactly [[graft.queries.DedupQueries.pairCosCol]]'s:
  * a double fold over the two float arrays in array order (the
  * [[ArrayDotProductF]] loop), divided by `n1 * n2`, then Spark's
  * `round(x, 4)` — `BigDecimal.valueOf(x).setScale(4, HALF_UP)`, NaN
  * and ±Infinity passed through. A pair whose arrays differ in length
  * or hold a NULL element scores NULL, as the expression does; a zero
  * denominator fails like the ANSI division. Ranking is the queries'
  * total order: cos DESC (Spark's double order — NaN largest, NULL
  * last), then ids ASC.
  *
  * Rounding is monotone, so `round(x) <= x + 5e-5` (plus the sub-ulp
  * gap between a double and its shortest decimal form): a raw cosine
  * below `worst − 1e-4` can neither reach a full heap's worst entry nor
  * a floor, and skips the BigDecimal step. Only pairs near the top pay
  * for exact rounding.
  */
object BlockTopK {

  /** Scored neighbour entry: the rounded cosine and the member id. */
  private[functions] val EntryType: StructType = StructType(Seq(
    StructField("cos", DoubleType, nullable = true),
    StructField("id", LongType, nullable = false)))

  private[functions] val EntriesType: ArrayType =
    ArrayType(EntryType, containsNull = false)

  /** Query × block: the top-k members with `id > qid` (each unordered
    * pair once, from its smaller id), as `array<struct<cos, id>>`
    * best-first. With a `floor`, members scoring below it are dropped
    * (NULL scores too): a floor is a value at least k pairs are known
    * to reach, so nothing below it can make a top-k. */
  def queryTopK(qid: Column, e: Column, n: Column, members: Column,
      k: Int, floor: Option[Double] = None): Column =
    NativeColumn.wrap(QueryBlockTopK(NativeColumn.unwrap(qid),
      NativeColumn.unwrap(e), NativeColumn.unwrap(n),
      NativeColumn.unwrap(members), k, floor))

  /** Block × itself: every member's top-k other members, as
    * `array<struct<qid, top: array<struct<cos, id>>>>` in block order.
    * Each pair is scored once and offered to both ends. */
  def neighbours(members: Column, k: Int): Column =
    NativeColumn.wrap(BlockNeighboursTopK(NativeColumn.unwrap(members), k))

  /** Merge per-block top-k lists (`array<array<struct<cos, id>>>`) into
    * one top-k, keeping each id once. A pair scores identically in
    * every block it meets in, so the kept entry is exact. */
  def merge(lists: Column, k: Int): Column =
    NativeColumn.wrap(MergeTopK(NativeColumn.unwrap(lists), k))

  // ---- kernel core (shared by the expressions below) ----

  /** HALF_UP 4-dp rounding, as Spark's `round` evaluates doubles. */
  private[functions] def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** How far below a threshold a raw cosine must be for its rounded
    * value to be provably below it. */
  private[functions] val Slack = 1e-4

  /** Spark's `cos DESC` (NULL last) comparison of two scores: < 0 when
    * the first ranks ahead. */
  private[functions] def compareScores(null1: Boolean, c1: Double,
      null2: Boolean, c2: Double): Int =
    if (null1 || null2) java.lang.Boolean.compare(null1, null2)
    else SQLOrderingUtil.compareDoubles(c2, c1)

  /** One block's members unpacked once: ids, vectors and norms. A
    * member with a NULL id is not `valid` and never ranks (a NULL id
    * never satisfies the queries' id predicates); one with a NULL
    * vector or norm keeps a NULL `vecs` slot and scores NULL, as the
    * expression does. */
  private[functions] final class Block(members: ArrayData) {
    val size: Int = members.numElements()
    val ids = new Array[Long](size)
    val vecs = new Array[ArrayData](size)
    val norms = new Array[Double](size)
    val valid = new Array[Boolean](size)
    locally {
      var i = 0
      while (i < size) {
        if (!members.isNullAt(i)) {
          val m = members.getStruct(i, 3)
          if (!m.isNullAt(0)) {
            ids(i) = m.getLong(0)
            valid(i) = true
            if (!m.isNullAt(1) && !m.isNullAt(2)) {
              vecs(i) = m.getArray(1)
              norms(i) = m.getDouble(2)
            }
          }
        }
        i += 1
      }
    }
  }

  /** A query vector widened to double once (exact: float → double),
    * or null when it holds a NULL element (every pair scores NULL). */
  private[functions] def widen(e: ArrayData): Array[Double] = {
    val n = e.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (e.isNullAt(i)) return null
      out(i) = e.getFloat(i).toDouble
      i += 1
    }
    out
  }

  /** Raw (unrounded) cosine of a widened query against one member
    * (NULL `q` / `m`: an unscorable side). Sets `scoreNull` instead of
    * returning a value when the pair scores NULL. */
  private[functions] final class Scorer {
    var scoreNull = false

    def raw(q: Array[Double], n1: Double, m: ArrayData,
        n2: Double): Double = {
      scoreNull = false
      if (q == null || m == null || m.numElements() != q.length) {
        scoreNull = true; return 0.0
      }
      var acc = 0.0
      var i = 0
      while (i < q.length) {
        if (m.isNullAt(i)) { scoreNull = true; return 0.0 }
        acc += q(i) * m.getFloat(i).toDouble
        i += 1
      }
      val den = n1 * n2
      if (den == 0.0) throw new ArithmeticException(
        "block cosine: division by zero (a zero-norm vector)")
      acc / den
    }
  }

  /** Bounded top-k of (score, id) under (score DESC nulls last, id ASC),
    * as a binary heap whose root is the WORST kept entry. */
  private[functions] final class TopK(k: Int) {
    private val nul = new Array[Boolean](k)
    private val cos = new Array[Double](k)
    private val ids = new Array[Long](k)
    private var size = 0

    /** Raw cosines below this provably cannot enter: the worst kept
      * score minus [[Slack]] once full, -Infinity before (or while the
      * worst is NULL), +Infinity when the worst is NaN. */
    def skipBelow: Double =
      if (size < k || nul(0)) Double.NegativeInfinity
      else if (java.lang.Double.isNaN(cos(0))) Double.PositiveInfinity
      else cos(0) - Slack

    // < 0 when entry (n1, c1, id1) ranks ahead of slot j
    private def cmp(n1: Boolean, c1: Double, id1: Long, j: Int): Int = {
      val c = compareScores(n1, c1, nul(j), cos(j))
      if (c != 0) c else java.lang.Long.compare(id1, ids(j))
    }

    private def slotCmp(i: Int, j: Int): Int = cmp(nul(i), cos(i), ids(i), j)

    private def swap(i: Int, j: Int): Unit = {
      val n = nul(i); nul(i) = nul(j); nul(j) = n
      val c = cos(i); cos(i) = cos(j); cos(j) = c
      val d = ids(i); ids(i) = ids(j); ids(j) = d
    }

    def offer(n1: Boolean, c1: Double, id1: Long): Unit =
      if (size < k) {
        nul(size) = n1; cos(size) = c1; ids(size) = id1
        var i = size
        size += 1
        // sift up: a worse child moves toward the root
        while (i > 0 && slotCmp(i, (i - 1) / 2) > 0) {
          swap(i, (i - 1) / 2); i = (i - 1) / 2
        }
      } else if (cmp(n1, c1, id1, 0) < 0) {
        nul(0) = n1; cos(0) = c1; ids(0) = id1
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          val r = l + 1
          var w = i
          if (l < size && slotCmp(l, w) > 0) w = l
          if (r < size && slotCmp(r, w) > 0) w = r
          if (w == i) done = true else { swap(i, w); i = w }
        }
      }

    /** Kept entries best-first as `array<struct<cos, id>>`. */
    def result(): ArrayData = {
      val order = (0 until size).sortWith((i, j) => slotCmp(i, j) < 0)
      new GenericArrayData(order.map { i =>
        InternalRow(if (nul(i)) null else cos(i), ids(i))
      }.toArray[Any])
    }
  }

  /** `array<struct<bigint, array<float>, double>>`, any field names. */
  private[functions] def memberTypeOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ArrayType(FloatType, _), _, _),
        StructField(_, DoubleType, _, _))), _) => true
    case _ => false
  }

  private[functions] val MemberTypeError = TypeCheckFailure(
    "members must be array<struct<bigint, array<float>, double>>")
}

import BlockTopK._

/** See [[BlockTopK.queryTopK]]: (qid, e, n, members) → the query's
  * top-k members with id > qid. NULL when any input is NULL. */
case class QueryBlockTopK(qid: Expression, e: Expression, n: Expression,
    members: Expression, k: Int, floor: Option[Double])
    extends QuaternaryExpression {

  require(k >= 1, s"block top-k needs k >= 1, got $k")

  override def first: Expression = qid
  override def second: Expression = e
  override def third: Expression = n
  override def fourth: Expression = members

  override def checkInputDataTypes(): TypeCheckResult =
    (qid.dataType, e.dataType, n.dataType) match {
      case (LongType, ArrayType(FloatType, _), DoubleType) =>
        if (memberTypeOk(members.dataType)) TypeCheckSuccess
        else MemberTypeError
      case _ => TypeCheckFailure(
        "block_query_topk takes (bigint, array<float>, double, members)")
    }

  override def dataType: DataType = EntriesType

  override def prettyName: String = "block_query_topk"

  def topK(qid: Long, e: ArrayData, n1: Double,
      members: ArrayData): ArrayData = {
    val q = widen(e)
    val b = new Block(members)
    val sc = new Scorer
    val heap = new TopK(k)
    val fl = floor.getOrElse(Double.NegativeInfinity)
    val floorCut = fl - Slack
    var j = 0
    while (j < b.size) {
      if (b.valid(j) && b.ids(j) > qid) {
        val x = sc.raw(q, n1, b.vecs(j), b.norms(j))
        if (sc.scoreNull) {
          if (floor.isEmpty) heap.offer(true, 0.0, b.ids(j))
        } else if (!(x < floorCut) && !(x < heap.skipBelow)) {
          val c = round4(x)
          if (SQLOrderingUtil.compareDoubles(c, fl) >= 0)
            heap.offer(false, c, b.ids(j))
        }
      }
      j += 1
    }
    heap.result()
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any,
      d: Any): Any =
    topK(a.asInstanceOf[Long], b.asInstanceOf[ArrayData],
      c.asInstanceOf[Double], d.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blockQueryTopK", this,
      classOf[QueryBlockTopK].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = $ref.topK($a, $b, $c, $d);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): QueryBlockTopK =
    copy(qid = newFirst, e = newSecond, n = newThird, members = newFourth)
}

/** See [[BlockTopK.neighbours]]: members → every member's top-k other
  * members within the block. */
case class BlockNeighboursTopK(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, s"block top-k needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (memberTypeOk(child.dataType)) TypeCheckSuccess else MemberTypeError

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("top", EntriesType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "block_neighbours_topk"

  def neighbours(members: ArrayData): ArrayData = {
    val b = new Block(members)
    val qs = new Array[Array[Double]](b.size)
    var i = 0
    while (i < b.size) {
      if (b.vecs(i) != null) qs(i) = widen(b.vecs(i))
      i += 1
    }
    val heaps = Array.fill(b.size)(new TopK(k))
    val sc = new Scorer
    i = 0
    while (i < b.size) {
      if (b.valid(i)) {
        var j = i + 1
        while (j < b.size) {
          if (b.valid(j) && b.ids(j) != b.ids(i)) {
            val x = sc.raw(qs(i), b.norms(i), b.vecs(j), b.norms(j))
            if (sc.scoreNull) {
              heaps(i).offer(true, 0.0, b.ids(j))
              heaps(j).offer(true, 0.0, b.ids(i))
            } else if (!(x < heaps(i).skipBelow) ||
                !(x < heaps(j).skipBelow)) {
              val c = round4(x)
              heaps(i).offer(false, c, b.ids(j))
              heaps(j).offer(false, c, b.ids(i))
            }
          }
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](b.valid.count(identity))
    var o = 0
    i = 0
    while (i < b.size) {
      if (b.valid(i)) {
        out(o) = InternalRow(b.ids(i), heaps(i).result()); o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(a: Any): Any =
    neighbours(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blockNeighbours", this,
      classOf[BlockNeighboursTopK].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.neighbours($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BlockNeighboursTopK = copy(child = newChild)
}

/** See [[BlockTopK.merge]]: lists of (cos, id) entries → one top-k,
  * each id once (its best-ranked entry). */
case class MergeTopK(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"block top-k needs k >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(ArrayType(StructType(Array(StructField(_, DoubleType, _, _),
        StructField(_, LongType, _, _))), _), _) => TypeCheckSuccess
    case _ => TypeCheckFailure(
      "lists must be array<array<struct<double, bigint>>>")
  }

  override def dataType: DataType = EntriesType

  override def prettyName: String = "block_merge_topk"

  def merge(lists: ArrayData): ArrayData = {
    val nul = Array.newBuilder[Boolean]
    val cos = Array.newBuilder[Double]
    val ids = Array.newBuilder[Long]
    var i = 0
    while (i < lists.numElements()) {
      if (!lists.isNullAt(i)) {
        val l = lists.getArray(i)
        var j = 0
        while (j < l.numElements()) {
          if (!l.isNullAt(j)) {
            val en = l.getStruct(j, 2)
            if (!en.isNullAt(1)) {
              nul += en.isNullAt(0)
              cos += (if (en.isNullAt(0)) 0.0 else en.getDouble(0))
              ids += en.getLong(1)
            }
          }
          j += 1
        }
      }
      i += 1
    }
    val ns = nul.result(); val cs = cos.result(); val is = ids.result()
    val order = is.indices.sortWith { (a, b) =>
      val c = compareScores(ns(a), cs(a), ns(b), cs(b))
      if (c != 0) c < 0 else is(a) < is(b)
    }
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val it = order.iterator
    while (kept.length < k && it.hasNext) {
      val x = it.next()
      if (!kept.exists(y => is(y) == is(x))) kept += x
    }
    new GenericArrayData(kept.map { x =>
      InternalRow(if (ns(x)) null else cs(x), is(x))
    }.toArray[Any])
  }

  override protected def nullSafeEval(a: Any): Any =
    merge(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("blockMerge", this,
      classOf[MergeTopK].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.merge($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MergeTopK = copy(child = newChild)
}
