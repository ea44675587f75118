package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftnative.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native (codegen'd) Catalyst expressions for the vector hot path.
  *
  * Preference order for extending Spark is (a) compose built-ins,
  * (b) a native `Expression` with `doGenCode`, (c) custom plan nodes,
  * (d) `mapPartitions` — this file is tier (b): a float-array dot
  * product that compiles into the surrounding WholeStageCodegen as a
  * primitive `for` loop over the unsafe array data, with no boxing, no
  * lambda dispatch per element (the higher-order-function equivalent
  * `aggregate(zip_with(...))` allocates an intermediate array and
  * evaluates a lambda per element), and no UDF serialization wall —
  * the expression stays visible to Catalyst so surrounding
  * filters/projections still push and prune.
  */
object Native {

  /** Dot product of two `array<float>` columns in DOUBLE, folding in
    * array order — bit-identical to the sequential `aggregate` fold the
    * DuckDB oracles use (`list_sum` over `list_transform`).
    */
  def dotF(a: Column, b: Column): Column =
    NativeColumn.wrap(
      ArrayDotProductF(NativeColumn.unwrap(a), NativeColumn.unwrap(b)))

  /** L2 norm of an `array<float>` column (sqrt of self-dot). */
  def l2NormF(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(dotF(a, a))
  }

  /** All `tables` random-hyperplane LSH signatures of an `array<float>`
    * vector in one codegen'd pass (see [[LshSignaturesF]]). */
  def lshSignatures(v: Column, dim: Int, bits: Int, tables: Int,
      seed: Long): Column =
    NativeColumn.wrap(
      LshSignaturesF(NativeColumn.unwrap(v), dim, bits, tables, seed))

  /** Unicode NFC normalization of a string column — canonical
    * composition ahead of dedup keys / text analysis, so visually
    * identical strings ("é" composed vs "e"+U+0301) hash identically.
    * Spark has no built-in normalizer; this is tier (b) again: a
    * codegen'd expression around `java.text.Normalizer`, visible to
    * Catalyst (pushdown/pruning unaffected), no UDF wall.
    */
  def nfc(s: Column): Column =
    NativeColumn.wrap(NormalizeNfc(NativeColumn.unwrap(s)))

  /** |a ∩ b| of two SORTED-ascending, element-distinct, non-null
    * `array<string>` columns as one codegen'd merge walk (see
    * [[SortedIntersectSizeS]]). Equals
    * `size(array_intersect(a, b))` on such inputs — the dedup verify
    * tier's exact-Jaccard/containment hot path, where array_intersect
    * builds a per-row hash set AND materializes the intersected array
    * just to take its size.
    *
    * private[graft] (ADVICE r12): the sorted/distinct/non-null
    * precondition is deliberately UNCHECKED per-row (it is the whole
    * point of the merge walk), so violating inputs return silently
    * wrong counts and a null element NPEs — and Catalyst's
    * `acceptsType` ignores element nullability, so a
    * containsNull=false input type would not actually reject them.
    * Interface-private keeps the unchecked contract reviewable at its
    * only call sites (the dedup verify tiers, whose
    * `sort_array(collect_list(...))` construction satisfies it).
    */
  private[graft] def intersectSizeSorted(a: Column, b: Column): Column =
    NativeColumn.wrap(
      SortedIntersectSizeS(NativeColumn.unwrap(a), NativeColumn.unwrap(b)))
}

/** `array<float> × array<float> → double` dot product. Exactly the
  * semantics of the portable HOF fold `aggregate(zip_with(a, b,
  * (x, y) -> double(x) * double(y)), 0.0D, (acc, v) -> acc + v)`, so
  * [[graft.plans.RewriteHofDotProduct]] is semantics-preserving on ALL
  * inputs, not just dense equal-length embeddings: NULL if either side
  * is NULL (null-intolerant contract), and — matching the fold, where
  * zip_with pads the shorter array with NULL and `acc + NULL` poisons
  * the sum — NULL when the lengths differ or any element is NULL. The
  * element-null branch is never taken on dense vectors, so the hot loop
  * cost is unchanged.
  */
case class ArrayDotProductF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // inferred as Seq[AbstractDataType] (that type is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // can produce NULL (ragged / null-element inputs) even when both
  // children are non-null
  override def nullable: Boolean = true

  override def prettyName: String = "array_dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      // nullSafeCodeGen has already set ev.isNull = false here; flip it
      // back on the HOF-NULL cases (ragged lengths / null elements).
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true;
         |      break;
         |    }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProductF =
    copy(left = newLeft, right = newRight)
}

/** `string → string` Unicode NFC canonical composition (NULL-intolerant
  * like every string builtin). Matches DuckDB's `nfc_normalize` and
  * ICU/java.text semantics — both engines compose to identical byte
  * sequences, so normalized keys hash-match cross-engine.
  */
case class NormalizeNfc(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  // inferred as Seq[AbstractDataType] (that type is private[sql])
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)

  override def dataType: DataType = org.apache.spark.sql.types.StringType

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(s: Any): Any = {
    val in = s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(in.toString,
        java.text.Normalizer.Form.NFC))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.NFC));
       """.stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeNfc = copy(child = newChild)
}

/** `array<float> → array<long>`: all `tables` random-hyperplane LSH
  * signatures of a vector in one pass. Bit b of table t is the sign of
  * the dot product with plane (t, b); planes are Gaussian, derived
  * lazily from the (dim, bits, tables, seed) parameters — the
  * expression carries only primitives, so it canonicalizes, serializes
  * small, and every executor regenerates identical planes
  * (java.util.Random's algorithm is specified, SURVEY.md A.6).
  *
  * Replaces a Scala UDF that boxed every element into Seq[Float] per
  * row and walled off codegen: this stays inside WholeStageCodegen and
  * reads the unsafe array data directly. Vectors shorter than `dim`
  * fold the shared prefix (dense fixed-dim embeddings in practice).
  */
case class LshSignaturesF(child: Expression, dim: Int, bits: Int,
    tables: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {

  // inferred as Seq[AbstractDataType] (that type is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def prettyName: String = "lsh_signatures_f"

  // flattened (tables*bits) × dim plane matrix; regenerated per JVM
  @transient lazy val planeRows: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * bits, dim)(rnd.nextGaussian())
  }

  private def signatures(x: ArrayData): Array[Long] = {
    val out = new Array[Long](tables)
    val nv = x.numElements()
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val p = planeRows(t * bits + b)
        val n = math.min(nv, p.length)
        var acc = 0.0
        var i = 0
        while (i < n) { acc += p(i) * x.getFloat(i); i += 1 }
        if (acc > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }

  override def nullSafeEval(a: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      signatures(a.asInstanceOf[ArrayData]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the expression instance itself is the codegen reference: the
    // generated call reuses the same hot loop as the interpreted path
    // (plane lookup + primitive fold), with the plane matrix built once
    // per JVM via the lazy val
    val ref = ctx.addReferenceObj("lshExpr", this,
      classOf[LshSignaturesF].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util." +
        s"GenericArrayData($ref.signaturesJava($a));")
  }

  /** Java-callable bridge for the generated code. */
  def signaturesJava(x: ArrayData): Array[Long] = signatures(x)

  override protected def withNewChildInternal(
      newChild: Expression): LshSignaturesF = copy(child = newChild)
}

/** `array<T> → bigint` 64-bit SimHash: every element hashes with
  * Spark's `xxhash64` (seed 42 — NULL elements hash to the seed, as
  * the built-in does), each hash votes ±1 per bit into a primitive
  * `long[64]`, and bit b of the signature is set iff its vote is
  * positive. An empty array gives 0; a NULL array gives NULL. Bit for
  * bit the former higher-order form (`aggregate` over `zip_with` of a
  * 64-element vote array per token, then a fold packing the signs),
  * which built and zipped two 64-element arrays for every token.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // inferred as Seq[AbstractDataType] (that type is private[sql])
  override def inputTypes = Seq(ArrayType)

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def prettyName: String = "simhash64"

  @transient private lazy val elementType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  def simhash(a: ArrayData): Long = {
    val votes = new Array[Long](64)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val v = if (a.isNullAt(i)) null else a.get(i, elementType)
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(v, elementType, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1L else votes(b) -= 1L
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0L) sig |= 1L << b
      b += 1
    }
    sig
  }

  override def nullSafeEval(a: Any): Any = simhash(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashExpr", this,
      classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.simhash($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64 = copy(child = newChild)
}

/** `array<string> × array<string> → bigint` intersection SIZE of two
  * sorted-ascending, element-distinct, non-null-element arrays, as a
  * single merge walk — O(|a|+|b|) UTF8String binary comparisons with
  * no hash-set build and no intermediate array. On such inputs this
  * equals `size(array_intersect(a, b))` exactly (array_intersect
  * keeps a's distinct elements present in b; distinctness makes the
  * merge count the same multiset-free cardinality, and sort_array's
  * UTF8String binary order is the same total order compareTo walks).
  * PRECONDITION, not checked per-row for speed: both inputs come from
  * `sort_array(collect_list(...))` over per-doc DISTINCT shingles —
  * the only call sites are the dedup verify tiers, which construct
  * exactly that. NULL-intolerant like the built-in (top-level NULL →
  * NULL); element nulls cannot occur at the call sites (collect_list
  * never emits them).
  */
case class SortedIntersectSizeS(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes =
    Seq(ArrayType(org.apache.spark.sql.types.StringType),
      ArrayType(org.apache.spark.sql.types.StringType))

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean =
    left.nullable || right.nullable

  override def prettyName: String = "sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1L; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val cmp = ctx.freshName("cmp")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0;
         |int $j = 0;
         |long $c = 0L;
         |while ($i < $nx && $j < $ny) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSizeS =
    copy(left = newLeft, right = newRight)
}
