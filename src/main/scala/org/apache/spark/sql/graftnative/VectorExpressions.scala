package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}

/** Native Catalyst expression for the dense dot product of two
  * `array<double>` columns (CAP-EXPR-CUSTOM, SURVEY §4.3.1).
  *
  * The higher-order-function formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)`
  * allocates an intermediate array and evaluates an interpreted lambda
  * per element — measured 8.9x the single-process proxy on the all-pairs
  * cosine bench. This expression participates in whole-stage codegen:
  * the generated Java is a tight primitive loop over the two ArrayData
  * buffers — no allocation, no virtual calls per element.
  *
  * Summation is left-to-right, so on EQUAL-LENGTH arrays with
  * NON-NULL elements — which the embeddings loader guarantees via its
  * double cast — results are bit-identical to the HOF formulation (and
  * to DuckDB's list_dot_product after the double cast); PlanShapeSpec
  * asserts this. Outside that contract the expression returns NULL —
  * matching the HOF formulation, where zip_with null-pads ragged
  * arrays and `acc + null` poisons the sum — so SQL-text users who
  * only see `graft_dot(a, b)` get the same answers as the reference
  * formulation on ragged or null-element inputs, not a silently
  * truncated dot product. The length check is O(1); the per-element
  * null check is a predictable branch kept inside the codegen loop.
  *
  * This file lives under the org.apache.spark.sql namespace because the
  * expression-extension points (AbstractDataType, ExpressionUtils) are
  * `private[sql]` — the standard packaging for third-party native
  * expressions. The public entry point is graft.functions.VectorFunctions.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Integer squared L2 between two `array<long>` columns — the ANN /
  * k-means families' ONE distance, as whole-stage-codegen arithmetic.
  * The HOF spelling `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0L,
  * (acc,v)->acc+v)` evaluates an interpreted lambda per element and
  * allocates an intermediate array per ROW — and it sits on the
  * N x C broadcast product of every Lloyd assignment, where the r19
  * verdict measured it as the dominant stage-build cost (and the
  * x1000 campaigns spend hours in ZipWith.eval stacks). This loop is
  * the same exact long arithmetic (wrap semantics and all), so every
  * DuckDB oracle and golden is bit-unchanged.
  *
  * Null contract mirrors [[DotProduct]] == the HOF spelling: length
  * mismatch or a null element poisons the result to NULL (zip_with
  * null-pads ragged arrays; `acc + null` is null). The quantized
  * basis never produces either; the check is one branch per element.
  */
case class LongL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_l2sq"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final long $dd = $x.getLong($i) - $y.getLong($i);
         |    $acc += $dd * $dd;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongL2Sq =
    copy(left = newLeft, right = newRight)
}

/** The nearest of a fixed set of integer centroids to an `array<long>`
  * row, as `struct<d: bigint, cid: bigint>` — the k-means literal
  * E-step's argmin in one kernel. It returns exactly what
  * `least(struct(graft_long_l2sq(x, c_0), 0L), …, struct(…, K−1))`
  * returns: the smallest [[LongL2Sq]] distance, ties to the lower
  * centroid id, and a NULL distance ordered below every number (so a
  * NULL, empty or ragged row gives (NULL, 0)). Unlike that expression
  * tree, whose generated code grows with K and differs for every set
  * of centroid values, the centroids ride in the expression object
  * (`addReferenceObj`): the generated code is one call, the same for
  * every K and every centroid set, so a Lloyd loop compiles its E-step
  * once.
  *
  * `cents` is an array, so equality and hashing compare it by content
  * (the case-class default compares arrays by reference, which would
  * break plan canonicalization).
  */
case class LongNearest(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {

  require(cents.nonEmpty, "graft_long_nearest needs at least one centroid")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = StructType(Seq(
    StructField("d", LongType, nullable = true),
    StructField("cid", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_long_nearest"
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"k=${cents.length}")

  def nearestOf(x: ArrayData): InternalRow = {
    if (x == null) return new GenericInternalRow(Array[Any](null, 0L))
    val n = x.numElements()
    var best = 0
    var bd = 0L
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      // a NULL distance sorts first, and earlier ids win ties
      if (c.length != n) return new GenericInternalRow(Array[Any](null, j.toLong))
      var acc = 0L
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) return new GenericInternalRow(Array[Any](null, j.toLong))
        val d = x.getLong(i) - c(i)
        acc += d * d
        i += 1
      }
      if (j == 0 || acc < bd) { bd = acc; best = j }
      j += 1
    }
    new GenericInternalRow(Array[Any](bd, best.toLong))
  }

  override def eval(input: InternalRow): Any =
    nearestOf(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearest", this, classOf[LongNearest].getName)
    val x = child.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $ref.nearestOf(${x.isNull} ? null : ${x.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override def equals(o: Any): Boolean = o match {
    case that: LongNearest => child == that.child &&
      java.util.Arrays.deepEquals(cents.asInstanceOf[Array[AnyRef]],
        that.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode(): Int = 31 * child.hashCode() +
    java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])

  override protected def withNewChildInternal(newChild: Expression): LongNearest =
    copy(child = newChild)
}

/** Integer dot product of two `array<long>` columns with a constant
  * de-shift on both sides: Σ (x−shift)(y−shift) — the quantized-basis
  * cosine numerator (the +shift cancels in L2 but not in dots). Same
  * codegen/null contract as [[LongL2Sq]]; replaces the interpreted
  * zip_with spelling on the LSH verify paths and the PQ fidelity
  * probe. */
case class LongShiftedDot(left: Expression, right: Expression, shift: Long)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_shifted_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += (x.getLong(i) - shift) * (y.getLong(i) - shift)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ($x.getLong($i) - ${shift}L) * ($y.getLong($i) - ${shift}L);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongShiftedDot =
    copy(left = newLeft, right = newRight)
}

/** All `tables` hyperplane-LSH signatures of an `array<long>` vector
  * in the quantized integer basis (see graft.ops.Sketches.quantized),
  * as array<long> — bit j of element t is the sign of the integer dot
  * product between the de-shifted vector and an INTEGER plane whose
  * component for (t, j, coordinate i) is derived from md5:
  *
  *   p(t, j, i) = 2 * byte0(md5("seedBase|t|j|i")) - 255   (i 1-based)
  *
  * — an odd symmetric zero-mean integer in [-255, 255], i.e. a
  * discretized uniform projection: a valid sign-projection cosine-LSH
  * family (any symmetric finite-variance component distribution gives
  * P[bit match] monotone-decreasing in the angle; the Rademacher and
  * Gaussian families differ from it only in the constant of the
  * collision curve, and every operating point is re-measured — see
  * the Sketches operating-point scaladocs).
  *
  * WHY md5 (r20): the previous family derived signs from a private
  * integer mixer, which made the whole hyperplane pipeline
  * engine-specific and kept q_sim_ann_lsh / q_sim_lsh_points /
  * q_dedup_cosine_lsh no-oracle. With md5-derived INTEGER planes over
  * the exactly-normalized integer basis, the signature — and therefore
  * the candidate sets and integer-L2 reranks built on it — is
  * bit-replayable in DuckDB SQL (the same discipline that flipped the
  * IVF/PQ family in r19). Every intermediate is an exact long: per
  * term |x - shift| <= ~1e6 and |p| <= 255, so a 64-dim dot is
  * <= ~1.6e10 — nowhere near overflow on either engine.
  *
  * The plane matrix is materialized ONCE per expression instance and
  * grown lazily to the widest vector seen (md5 per row would dwarf the
  * projection arithmetic); benign-race init with a volatile publish,
  * like the rest of this file's cached kernels. Codegen delegates to
  * [[sigsOf]] — one virtual dispatch per row, a tight primitive loop
  * inside.
  */
case class IntPlaneSigs(child: Expression, bits: Int, tables: Int,
    seedBase: Int, shift: Long) extends UnaryExpression with ExpectsInputTypes {

  require(bits > 0 && bits <= 63, "bits must be in [1, 63]")
  require(tables > 0, "tables must be positive")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_int_plane_sigs"

  /** Integer plane component for (t, j, 1-based coordinate i): the
    * first md5 byte of the key "seedBase|t|j|i" mapped to the odd
    * symmetric range {-255, -253, ..., 253, 255}. Byte 0 is the first
    * TWO lowercase-hex chars of DuckDB's md5() — the oracle spells
    * exactly this. */
  private def planeOf(t: Int, j: Int, i: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(
      s"$seedBase|$t|$j|$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    2 * (h(0) & 0xFF) - 255
  }

  /** Plane matrix + the stride it was built with, published together
    * in ONE volatile (a torn pair of separate volatiles could hand a
    * reader a narrow array with a wide dim check). Row-major
    * [(t * bits + j) * dim + (i - 1)], grown to the widest vector
    * seen (benign race: a lost concurrent grow only rebuilds). A
    * vector NARROWER than the cached stride reuses the wide matrix by
    * indexing with the STORED stride — plane component (t, j, i)
    * depends only on those indices, so the wide matrix contains every
    * narrower one as a prefix of each row. */
  private final class Planes(val dim: Int, val pl: Array[Int])
  @transient @volatile private var planesCache: Planes = _
  private def planesFor(d: Int): Planes = {
    var ph = planesCache
    if (ph == null || ph.dim < d) {
      val pl = new Array[Int](tables * bits * d)
      var t = 0
      while (t < tables) {
        var j = 0
        while (j < bits) {
          var i = 0
          while (i < d) {
            pl((t * bits + j) * d + i) = planeOf(t, j, i + 1)
            i += 1
          }
          j += 1
        }
        t += 1
      }
      ph = new Planes(d, pl)
      planesCache = ph
    }
    ph
  }

  def sigsOf(a: ArrayData): ArrayData = {
    val d = a.numElements()
    val ph = planesFor(d)
    val stride = ph.dim
    val pl = ph.pl
    val x = new Array[Long](d)
    var i = 0
    while (i < d) { x(i) = a.getLong(i) - shift; i += 1 }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val base = (t * bits + j) * stride
        var acc = 0L
        i = 0
        while (i < d) {
          acc += x(i) * pl(base + i)
          i += 1
        }
        if (acc > 0) sig |= (1L << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = sigsOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intPlaneSigs", this, classOf[IntPlaneSigs].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.sigsOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): IntPlaneSigs =
    copy(child = newChild)
}

/** Hashed word-3-grams of an `array<string>` column in ONE pass: each
  * word is xxhash64'd once, and gram i is the seed-chained combination
  * of word hashes i, i+1, i+2 — exactly the collision behavior of
  * `xxhash64(w1, w2, w3)`. Replaces the interpreted
  * `transform(sequence, i -> array_join(slice(ws, i, 3)))` + xxhash
  * pipeline, which allocated a 3-element array AND a joined string per
  * gram inside a non-codegen HOF lambda — measured at ~70% of the
  * sf0.1 gram-index build. The gram hash never appears in any query
  * OUTPUT (it is an internal join/distinct key; oracles count string
  * grams on their side), so the hash function only has to be
  * deterministic and collision-sparse, not string-equal.
  *
  * < 3 words → empty array (the DuckDB `range(1,1)` analogue the old
  * guard encoded). Null ELEMENTS hash as empty strings (the loader
  * contract never produces them).
  */
case class WordGramHashes(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word3gram_hashes"

  private def wordHash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    if (s == null) 42L
    else org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  def gramsOf(a: ArrayData): ArrayData = {
    val d = a.numElements()
    if (d < 3) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val wh = new Array[Long](d)
    var i = 0
    while (i < d) { wh(i) = wordHash(a.getUTF8String(i)); i += 1 }
    val out = new Array[Long](d - 2)
    i = 0
    while (i < d - 2) {
      val h12 = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(wh(i + 1), wh(i))
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(wh(i + 2), h12)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = gramsOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordGrams", this, classOf[WordGramHashes].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.gramsOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

/** [[WordGramHashes]] generalized to word k-grams (r21): gram i is the
  * seed-chained combination of word hashes i..i+k-1 — for k = 3 this
  * is bit-identical to [[WordGramHashes]]. Replaces the interpreted
  * `transform(sequence, i -> xxhash64(array_join(slice(ws, i, k))))`
  * window-hash pipeline of the k=8 substring/span/boilerplate family,
  * which allocated a k-element array AND a joined string per window
  * inside a non-codegen HOF lambda. Same output contract as the
  * 3-gram kernel: the hash never appears in any query OUTPUT (it is a
  * grouping/window key whose equal-classes match the oracle's string
  * grams), so it only has to be deterministic and collision-sparse
  * (~n²/2^64 on any real window count), not string-equal.
  *
  * < k words → empty array. Null ELEMENTS hash as the fixed seed
  * constant 42L (matching the 3-gram kernel; the loader contract never
  * produces them).
  */
case class WordKGramHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, "k must be >= 1")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(org.apache.spark.sql.types.StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = s"graft_word${k}gram_hashes"

  private def wordHash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    if (s == null) 42L
    else org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)

  def gramsOf(a: ArrayData): ArrayData = {
    val d = a.numElements()
    if (d < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val wh = new Array[Long](d)
    var i = 0
    while (i < d) { wh(i) = wordHash(a.getUTF8String(i)); i += 1 }
    val out = new Array[Long](d - k + 1)
    i = 0
    while (i < d - k + 1) {
      var h = wh(i)
      var j = 1
      while (j < k) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(wh(i + j), h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = gramsOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordKGrams", this, classOf[WordKGramHashes].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.gramsOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordKGramHashes =
    copy(child = newChild)
}

/** All ordered pairs (ida < idb) from an `array<long>` of ids — the
  * pair-expansion kernel behind the shared-gram candidate generator.
  * Replaces the gram-index SELF-JOIN: `groupBy(gram).collect_list` +
  * this explode does ONE shuffle of the postings where the join
  * shuffled them twice and sorted both sides. Group size is bounded by
  * the stop-gram df cap (<= 100 ids -> <= 4950 pairs), so the output
  * array is small by construction; ids are sorted first so every pair
  * comes out (lo, hi) without a comparator downstream.
  */
case class SortedIdPairs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ida", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("idb", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_sorted_id_pairs"

  def pairsOf(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = a.getLong(i); i += 1 }
    java.util.Arrays.sort(ids)
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](ids(i), ids(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = pairsOf(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idPairs", this, classOf[SortedIdPairs].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.pairsOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): SortedIdPairs =
    copy(child = newChild)
}

/** The DISTINCT character set of a string, canonicalized: code points,
  * deduplicated, ascending, re-joined as a string — the char-set
  * Jaccard dedup key (TextSim.charMaskDocs). Replaces the interpreted
  * `array_join(array_sort(array_distinct(split(text, ""))))` pipeline,
  * which allocated a one-char UTF8String per CHARACTER and then
  * hashed/sorted them — measured ~0.8 s of the sf0.1 q_dedup_jaccard
  * run vs one pass here. Ascending code-point order equals the old
  * formulation's binary string sort (UTF-8 byte order is code-point
  * order), so the canonical key is unchanged; code-point iteration
  * additionally keeps supplementary characters whole where a
  * `split(text, "")` splits them into surrogate halves.
  *
  * ASCII (the overwhelming case) dedups in two bitmap longs with no
  * allocation; non-ASCII code points fall back to a sorted set.
  */
case class CharSetString(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_char_set"

  def charSetOf(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    var lo = 0L
    var hi = 0L
    var nonAscii: java.util.TreeSet[Integer] = null
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp < 64) lo |= 1L << cp
      else if (cp < 128) hi |= 1L << (cp - 64)
      else {
        if (nonAscii == null) nonAscii = new java.util.TreeSet[Integer]()
        nonAscii.add(cp)
      }
      i += Character.charCount(cp)
    }
    val sb = new java.lang.StringBuilder(
      java.lang.Long.bitCount(lo) + java.lang.Long.bitCount(hi)
        + (if (nonAscii == null) 0 else nonAscii.size))
    var c = 0
    while (c < 64) { if (((lo >>> c) & 1L) == 1L) sb.append(c.toChar); c += 1 }
    while (c < 128) {
      if (((hi >>> (c - 64)) & 1L) == 1L) sb.append(c.toChar)
      c += 1
    }
    if (nonAscii != null) {
      val it = nonAscii.iterator()
      while (it.hasNext) sb.appendCodePoint(it.next())
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(a: Any): Any =
    charSetOf(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charSet", this, classOf[CharSetString].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.charSetOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharSetString =
    copy(child = newChild)
}

/** NFC-normalize a string (CAP-TOKENIZE-UNICODE): canonical
  * composition so byte-different spellings of the same text — "café"
  * precomposed vs "cafe" + combining acute — tokenize identically.
  * The shared corpus tokenizer ([[graft.ops.TextSim.normTokens]])
  * applies this before lowercasing and splitting; its DuckDB oracle
  * mirror is `nfc_normalize` (both implement UAX #15, and on the
  * ASCII fixture alphabet both are the identity).
  *
  * Per-row cost control, in order: pure-ASCII strings short-circuit on
  * a byte==char count check (no String materialization at all — the
  * 100 TB common case for English crawl text); already-normalized
  * non-ASCII returns the ORIGINAL UTF8String (one isNormalized scan,
  * no re-encode); only genuinely denormalized rows pay the
  * normalize + re-encode. Codegen calls straight into [[nfc]] — one
  * static-shaped virtual call per row, no interpreted expression tree.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    // One UTF-8 byte per codepoint <=> pure ASCII, where NFC is the
    // identity: skip without ever leaving the unsafe representation.
    if (s.numBytes == s.numChars) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(a: Any): Any =
    nfc(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcNorm", this, classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.nfc($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Locale-pinned lowercase (Locale.ROOT), the lowercase stage of the
  * corpus tokenizer's SEMANTIC definition. Exists because Spark's
  * `lower()` routes non-ASCII through String.toLowerCase() under the
  * JVM DEFAULT locale — on a Turkish-locale JVM `I` folds to `ı`,
  * silently diverging from both the fused kernel (which pins ROOT)
  * and DuckDB's locale-independent `lower()`. The composed witness
  * spelling (TextSim.normTokensComposed) uses this so the
  * fused ≡ composed equivalence is locale-invariant. ASCII fast path
  * folds bytes in place without materializing a String.
  */
case class RootLower(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lower_root"

  def lowerRoot(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    if (s.numBytes == s.numChars) { // pure ASCII: byte-level fold
      val b = s.getBytes
      var i = 0
      var dirty = false
      while (i < b.length && !dirty) { dirty = b(i) >= 'A' && b(i) <= 'Z'; i += 1 }
      if (!dirty) return s
      val out = java.util.Arrays.copyOf(b, b.length)
      i = 0
      while (i < out.length) {
        if (out(i) >= 'A' && out(i) <= 'Z') out(i) = (out(i) + 32).toByte
        i += 1
      }
      org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
    } else org.apache.spark.unsafe.types.UTF8String.fromString(
      s.toString.toLowerCase(java.util.Locale.ROOT))
  }

  override def nullSafeEval(a: Any): Any =
    lowerRoot(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rootLower", this, classOf[RootLower].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.lowerRoot($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): RootLower =
    copy(child = newChild)
}

/** The fused corpus tokenizer (CAP-TOKENIZE-UNICODE): NFC-normalize,
  * lowercase, split into maximal runs of Unicode letters/digits, and
  * break Han/Hiragana/Katakana runs PER IDEOGRAPH ([[isCjkCp]]) — the
  * single-expression spelling of `filter(split(lowerRoot(graft_nfc(
  * <cjk-spaced> text)), "[^\\p{L}\\p{N}]+"), len > 0)` (TokenizeSpec
  * pins the equivalence against exactly that composed form). Fused
  * because the composed form sits in the hottest path of the whole
  * library (the gram-index build tokenizes every document) and pays
  * three allocations plus an interpreted CodegenFallback lambda per
  * row (ArrayFilter); this kernel is one pass.
  *
  * ASCII fast path (the 100 TB common case): tokenize straight over
  * the UTF-8 bytes — case-fold by `+32`, classify by byte range, no
  * String materialization, no Normalizer. Non-ASCII rows take
  * NFC → toLowerCase(ROOT) → one codepoint scan classifying with
  * Character.getType (categories L* and N*, exactly Java/RE2's \p{L}
  * and \p{N}) and Character.UnicodeScript (RE2's \p{Han} family).
  */
case class NormalizedTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  private def isTokenCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.UPPERCASE_LETTER || t == Character.LOWERCASE_LETTER ||
    t == Character.TITLECASE_LETTER || t == Character.MODIFIER_LETTER ||
    t == Character.OTHER_LETTER || t == Character.DECIMAL_DIGIT_NUMBER ||
    t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
  }

  /** Unsegmented-script codepoints that tokenize PER IDEOGRAPH: Han,
    * Hiragana, Katakana. These scripts write without spaces, so the
    * run-of-letters rule degenerates to one mega-token per sentence —
    * every downstream quality/dedup signal then sees a single "word".
    * Splitting each ideograph into its own token is the standard
    * pipeline choice (character unigrams; word n-grams over them
    * recover subword context). Hangul is NOT here: Korean spaces its
    * words, so the run rule already segments it. Script lookup, not a
    * block-range check, so halfwidth katakana and the Han extension
    * planes classify correctly — and it mirrors RE2's \p{Han} family
    * in the DuckDB oracle spelling exactly (both read the Unicode
    * Script property; U+30FC PROLONGED SOUND MARK is script Common on
    * both sides, so it stays a run character). */
  private def isCjkCp(cp: Int): Boolean = {
    val sc = Character.UnicodeScript.of(cp)
    sc == Character.UnicodeScript.HAN ||
    sc == Character.UnicodeScript.HIRAGANA ||
    sc == Character.UnicodeScript.KATAKANA
  }

  def tokens(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val out = new java.util.ArrayList[Any](8)
    val nb = s.numBytes
    if (nb == s.numChars) { // pure ASCII: work on the raw bytes
      val b = s.getBytes
      var i = 0
      while (i < nb) {
        while (i < nb && !asciiToken(b(i))) i += 1
        val start = i
        while (i < nb && asciiToken(b(i))) i += 1
        if (i > start) {
          val tok = new Array[Byte](i - start)
          var j = start
          while (j < i) {
            val c = b(j)
            tok(j - start) =
              (if (c >= 'A' && c <= 'Z') (c + 32).toByte else c)
            j += 1
          }
          out.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(tok))
        }
      }
    } else {
      val str = java.text.Normalizer
        .normalize(s.toString, java.text.Normalizer.Form.NFC)
        .toLowerCase(java.util.Locale.ROOT)
      val n = str.length
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i < n) {
        val cp = str.codePointAt(i)
        if (isTokenCp(cp)) {
          if (isCjkCp(cp)) { // per-ideograph: flush the run, emit one cp
            if (sb.length > 0) {
              out.add(org.apache.spark.unsafe.types.UTF8String
                .fromString(sb.toString))
              sb.setLength(0)
            }
            out.add(org.apache.spark.unsafe.types.UTF8String
              .fromString(new String(Character.toChars(cp))))
          } else sb.appendCodePoint(cp)
        } else if (sb.length > 0) {
          out.add(org.apache.spark.unsafe.types.UTF8String
            .fromString(sb.toString))
          sb.setLength(0)
        }
        i += Character.charCount(cp)
      }
      if (sb.length > 0)
        out.add(org.apache.spark.unsafe.types.UTF8String
          .fromString(sb.toString))
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  @inline private def asciiToken(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9')

  override def nullSafeEval(a: Any): Any =
    tokens(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenizer", this,
      classOf[NormalizedTokens].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.tokens($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizedTokens =
    copy(child = newChild)
}

/** Per-document character-entropy statistics in ONE pass over the
  * string — `struct<n_distinct_chars: bigint, entropy: double>` where
  * entropy uses the algebraic identity
  * `H = log2(tot) - (Σ n·log2 n) / tot` (same value as
  * `-Σ p·log2 p`, fewer divisions, and crucially computable WITHOUT
  * knowing tot up front).
  *
  * Replaces the r6–r9 q_text_entropy plan — per-char
  * `explode(split(text, ""))` → groupBy(doc,ch) → self-join → agg —
  * which materialized ~|text| single-char rows per document and paid
  * two shuffles for a computation whose inputs all live in one row.
  * This kernel is the whole computation: code-point histogram in a
  * scratch int map, then one pass over the buckets. At 100 TB the
  * query becomes a pure narrow map (+ the output sort), no exchange
  * at all before the final ORDER BY.
  *
  * Character = Unicode code point, matching both the old
  * `split(text, "")` behavior and the DuckDB oracle's per-code-point
  * `substr` walk. log2 is evaluated as `Math.log(x) / Math.log(2)` —
  * the same formula as Spark's builtin Log2 — so the query's
  * `round(·, 6)` absorbs only summation-order ulp drift (§2.13
  * rule 2), as before. Empty strings yield (0, NULL) — the old plan
  * produced no row at all for them, and the query contract keeps
  * documents non-empty, so the difference is unobservable in the
  * registry (and NULL is the honest answer for "entropy of nothing").
  */
case class CharEntropyStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("n_distinct_chars", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("entropy", DoubleType, nullable = true)))
  override def prettyName: String = "graft_char_entropy"

  private val LOG2 = Math.log(2.0)

  def statsOf(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    // Open-addressed int→int histogram; capacity next-pow2 ≥ 2·chars
    // so load factor stays ≤ 0.5 and probes are short.
    var cap = java.lang.Integer.highestOneBit(
      Math.max(4, str.length * 2 - 1)) * 2
    val keys = new Array[Int](cap)
    val cnts = new Array[Int](cap)
    val mask = cap - 1
    var distinct = 0L
    var tot = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      // 0 is a valid code point key only for NUL; shift by 1 so 0
      // means "empty slot".
      val k = cp + 1
      // Fibonacci hash (0x9E3779B9 as signed Int) → top log2(cap) bits.
      var slot = ((k * -1640531527) >>> (32 - java.lang.Integer.numberOfTrailingZeros(cap))) & mask
      while (keys(slot) != 0 && keys(slot) != k) slot = (slot + 1) & mask
      if (keys(slot) == 0) { keys(slot) = k; distinct += 1 }
      cnts(slot) += 1
      tot += 1
      i += Character.charCount(cp)
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    row.setLong(0, distinct)
    if (tot == 0L) row.setNullAt(1)
    else {
      var sumNLogN = 0.0
      var j = 0
      while (j < cap) {
        val n = cnts(j)
        if (n > 1) sumNLogN += n * (Math.log(n.toDouble) / LOG2)
        j += 1
      }
      row.setDouble(1, Math.log(tot.toDouble) / LOG2 - sumNLogN / tot)
    }
    row
  }

  override def nullSafeEval(a: Any): Any =
    statsOf(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("entropyKernel", this,
      classOf[CharEntropyStats].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.statsOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
}

/** Rolling-minimum MD5 fingerprint (the winnowing shape of
  * q_text_fingerprint) without materializing the per-window hex
  * array: for each code-point window of `gramLen` characters, hash
  * the window's UTF-8 bytes and keep the smallest 16-byte digest;
  * emit it as lowercase hex at the end. Unsigned byte comparison of
  * equal-length digests is exactly hex-string comparison, so the
  * result is identical to
  * `array_min(transform(sequence(...), i -> md5(substring(text,i,8))))`
  * — which allocated ~|text| 32-char strings per row plus the
  * sequence and transform arrays, the heaviest allocation profile on
  * the r9 driver bench. Here the only per-window allocation is one
  * 16-byte digest.
  *
  * Strings shorter than `gramLen` hash the whole string (mirroring
  * `greatest(length - gramLen + 1, 1)` windows in the oracle);
  * windows are code-point aligned and sliced directly from the UTF-8
  * byte buffer via a precomputed offset table — no String or
  * per-window substring object.
  */
case class MinGramMd5(child: Expression, gramLen: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_min_gram_md5"

  def minHashOf(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val bytes = s.getBytes
    // Code-point start offsets (byte positions); offs(n) = bytes.length.
    val offs = new Array[Int](s.numChars() + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      offs(c) = i
      val b = bytes(i)
      i += (if ((b & 0x80) == 0) 1
            else if ((b & 0xE0) == 0xC0) 2
            else if ((b & 0xF0) == 0xE0) 3
            else 4)
      c += 1
    }
    offs(c) = bytes.length
    val nChars = c
    val nWindows = Math.max(nChars - gramLen + 1, 1)
    val md = MinGramMd5.digests.get()
    // Two reusable 16-byte buffers, swapped when a new minimum wins —
    // zero per-window allocation.
    var best = MinGramMd5.bufA.get()
    var cur = MinGramMd5.bufB.get()
    var w = 0
    while (w < nWindows) {
      val from = offs(w)
      val until = offs(Math.min(w + gramLen, nChars))
      md.reset()
      md.update(bytes, from, until - from)
      md.digest(cur, 0, 16)
      if (w == 0 || MinGramMd5.unsignedLess(cur, best)) {
        val t = best; best = cur; cur = t
      }
      w += 1
    }
    val hex = new Array[Byte](32)
    var k = 0
    while (k < 16) {
      hex(2 * k) = MinGramMd5.HEX((best(k) >> 4) & 0xF)
      hex(2 * k + 1) = MinGramMd5.HEX(best(k) & 0xF)
      k += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
  }

  override def nullSafeEval(a: Any): Any =
    minHashOf(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minGramMd5", this, classOf[MinGramMd5].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.minHashOf($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinGramMd5 =
    copy(child = newChild)
}

object MinGramMd5 {
  private val HEX = "0123456789abcdef".getBytes
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val bufA = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  private val bufB = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }
  def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xFF
      val y = b(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    false
  }
}

/** Bridge from the private[sql] expression world to public Columns. */
object VectorNative {
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def intPlaneSigs(a: Column, bits: Int, tables: Int, seedBase: Int,
      shift: Long): Column =
    ExpressionUtils.column(
      IntPlaneSigs(ExpressionUtils.expression(a), bits, tables, seedBase, shift))

  def longL2Sq(a: Column, b: Column): Column =
    ExpressionUtils.column(
      LongL2Sq(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def longNearest(a: Column, cents: Array[Array[Long]]): Column =
    ExpressionUtils.column(LongNearest(ExpressionUtils.expression(a), cents))

  def longShiftedDot(a: Column, b: Column, shift: Long): Column =
    ExpressionUtils.column(LongShiftedDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), shift))

  def wordGramHashes(ws: Column): Column =
    ExpressionUtils.column(WordGramHashes(ExpressionUtils.expression(ws)))

  def wordKGramHashes(ws: Column, k: Int): Column =
    ExpressionUtils.column(WordKGramHashes(ExpressionUtils.expression(ws), k))

  /** Spark's own runtime-filter probe as a Column (see the
    * graft_might_contain registration): hand-planted bloom pruning for
    * join shapes InjectRuntimeFilter's eligibility check skips. */
  def mightContain(bloom: Column, hash: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom), ExpressionUtils.expression(hash)))

  def sortedIdPairs(ids: Column): Column =
    ExpressionUtils.column(SortedIdPairs(ExpressionUtils.expression(ids)))

  def charSet(text: Column): Column =
    ExpressionUtils.column(CharSetString(ExpressionUtils.expression(text)))

  def nfc(text: Column): Column =
    ExpressionUtils.column(NfcNormalize(ExpressionUtils.expression(text)))

  def lowerRoot(text: Column): Column =
    ExpressionUtils.column(RootLower(ExpressionUtils.expression(text)))

  def normTokens(text: Column): Column =
    ExpressionUtils.column(NormalizedTokens(ExpressionUtils.expression(text)))

  def charEntropy(text: Column): Column =
    ExpressionUtils.column(CharEntropyStats(ExpressionUtils.expression(text)))

  def minGramMd5(text: Column, gramLen: Int): Column =
    ExpressionUtils.column(MinGramMd5(ExpressionUtils.expression(text), gramLen))
}

/** SparkSessionExtensions hook: registers the native expressions as SQL
  * functions, so `SELECT graft_dot(a, b)` parses in any session built
  * with `.withExtensions(new GraftExtensions)` (or via the
  * spark.sql.extensions conf on a real cluster). The Column API
  * (graft.functions.VectorFunctions) works without this; the hook is
  * for SQL-text users.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

/** The function descriptions themselves, shared by the build-time hook
  * above and [[GraftExtensions.registerOn]] (the `graft.Graft
  * .registerAll` path for sessions built WITHOUT `.withExtensions` —
  * notebooks, foreign harnesses — r14 verdict #3). */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private def fn(name: String, clazz: Class[_])(
      build: Seq[Expression] => Expression): (FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, name), build)

  private[graftnative] val functions: Seq[(FunctionIdentifier,
      ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_dot", classOf[DotProduct]) { children =>
      require(children.length == 2, "graft_dot takes exactly 2 arguments")
      DotProduct(children.head, children(1))
    },
    fn("graft_nfc", classOf[NfcNormalize]) { children =>
      require(children.length == 1, "graft_nfc takes exactly 1 argument")
      NfcNormalize(children.head)
    },
    fn("graft_tokens", classOf[NormalizedTokens]) { children =>
      require(children.length == 1, "graft_tokens takes exactly 1 argument")
      NormalizedTokens(children.head)
    },
    fn("graft_jaro_winkler", classOf[JaroWinklerSim]) { children =>
      require(children.length == 2,
        "graft_jaro_winkler takes exactly 2 arguments")
      JaroWinklerSim(children.head, children(1))
    },
    fn("graft_damerau_lev", classOf[DamerauLevenshtein]) { children =>
      require(children.length == 2,
        "graft_damerau_lev takes exactly 2 arguments")
      DamerauLevenshtein(children.head, children(1))
    },
    fn("graft_hamming", classOf[HammingDist]) { children =>
      require(children.length == 2, "graft_hamming takes exactly 2 arguments")
      HammingDist(children.head, children(1))
    },
    // Spark's OWN runtime-filter bloom primitives, SQL-exposed. The
    // InjectRuntimeFilter rule only fires when the creation side is a
    // selective filter over a scan; a pipeline that KNOWS a join side
    // is selective but derived (e.g. a pruned vocabulary behind an
    // aggregation) builds the identical filter by hand: aggregate the
    // build side's xxhash64 keys into a bloom, probe the probe side
    // BEFORE its exchange. Both are the very expressions the optimizer
    // rule plants, so semantics/sizing match runtime filtering exactly.
    fn("graft_bloom_agg", classOf[org.apache.spark.sql.catalyst
      .expressions.aggregate.BloomFilterAggregate]) { children =>
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      children.length match {
        case 1 => new BloomFilterAggregate(children.head)
        case 2 => new BloomFilterAggregate(children.head, children(1))
        case 3 =>
          new BloomFilterAggregate(children.head, children(1), children(2))
        case n => throw new IllegalArgumentException(
          s"graft_bloom_agg takes 1-3 arguments, got $n")
      }
    },
    fn("graft_might_contain", classOf[org.apache.spark.sql.catalyst
      .expressions.BloomFilterMightContain]) { children =>
      require(children.length == 2,
        "graft_might_contain takes exactly 2 arguments")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        children.head, children(1))
    })

  /** The registered SQL names — the `graft.Cli views` listing. */
  def functionNames: Seq[String] = functions.map(_._1.funcName)

  /** Register the same graft_* functions on an ALREADY-BUILT session —
    * the `.withExtensions` hook can only run at session construction,
    * but the function registry accepts late registration; idempotent
    * (re-registration overwrites with the identical builder). */
  def registerOn(s: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      s.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
