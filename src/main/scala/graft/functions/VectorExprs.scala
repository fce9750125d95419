package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Low-level kernels over Parquet array columns, shared by interpreted and
  * generated code. Operate directly on `ArrayData` (no boxing, no
  * `Seq[Float]` materialization) so the similarity/dedup operators stay
  * cheap at 100 TB scale. Accumulation is sequential ascending in Double,
  * independent of element type (float arrays are widened per element).
  */
object VectorOps {
  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def dot(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += get(a, i, af) * get(b, i, bf); i += 1 }
    s
  }

  def norm(a: ArrayData, af: Boolean): Double = {
    var s = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val v = get(a, i, af); s += v * v; i += 1 }
    math.sqrt(s)
  }

  /** Dot of a double vector against an int-code vector (the SQ8
    * candidate score, r19): Σ a(i)·codes(i) ascending — the same
    * doubles in the same fold order as the HOF formulation
    * `aggregate(zip_with(a, cast(codes as array<double>), *), 0.0, +)`
    * it replaces, without the two per-row array materializations.
    * Vectors and codes of different lengths throw: a silent truncation
    * would score a corrupt row as a plausible candidate. */
  def dotCodes(a: ArrayData, af: Boolean, codes: ArrayData): Double = {
    val n = a.numElements()
    if (codes.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_codes: vector length $n != codes length ${codes.numElements()}")
    var s = 0.0; var i = 0
    while (i < n) { s += get(a, i, af) * codes.getInt(i); i += 1 }
    s
  }

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): Double = {
    val d = dot(a, b, af, bf)
    val na = norm(a, af); val nb = norm(b, bf)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }
}

private[functions] trait VectorElemTypes { self: Expression =>
  protected def elemIsFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"expected array<float> or array<double>, got $other")
  }
}

/** `dot_codes(vec, codes)` — dot of a float/double vector against an
  * int-code vector (see [[VectorOps.dotCodes]]): the SQ8 candidate
  * score without per-row array casts (r19). */
case class DotCodes(left: Expression, right: Expression)
    extends BinaryExpression with VectorElemTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_codes"
  private lazy val lf = elemIsFloat(left.dataType)

  override def nullSafeEval(a: Any, c: Any): Any =
    VectorOps.dotCodes(a.asInstanceOf[ArrayData], lf, c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ops = VectorOps.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, c) => s"$ops.dotCodes($a, $lf, $c)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotCodes =
    copy(left = l, right = r)
}

/** `cosine_sim(a, b)` — native expression with whole-stage codegen. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with VectorElemTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  private lazy val lf = elemIsFloat(left.dataType)
  private lazy val rf = elemIsFloat(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorOps$$.MODULE$$.cosine($a, $b, $lf, $rf)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** `dot_product(a, b)` — native expression with whole-stage codegen. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with VectorElemTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  private lazy val lf = elemIsFloat(left.dataType)
  private lazy val rf = elemIsFloat(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorOps$$.MODULE$$.dot($a, $b, $lf, $rf)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** `nearest_centroids(v)` — ids of the `nprobe` centroids most cosine-
  * similar to the vector, in descending similarity order. The centroid
  * table (an IVF coarse quantizer, k×dim doubles) rides inside the
  * expression — driver-side metadata broadcast with the plan, exactly like
  * a broadcast dim table. O(k·dim) fused multiply-adds per row. */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]],
    nprobe: Int) extends UnaryExpression with VectorElemTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  private lazy val cf = elemIsFloat(child.dataType)

  @transient private lazy val flat: Array[Array[Double]] = {
    // pre-normalized: cosine argmax over centroids == dot argmax
    centroids.map { c =>
      val a = c.toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0.0) a else a.map(_ / n)
    }.toArray
  }

  def compute(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val k = flat.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cen = flat(c)
      val n = math.min(arr.numElements(), cen.length)
      var s = 0.0; var i = 0
      while (i < n) {
        s += (if (cf) arr.getFloat(i).toDouble else arr.getDouble(i)) * cen(i)
        i += 1
      }
      scores(c) = s
      c += 1
    }
    val order = scores.indices.sortBy(i => (-scores(i), i)).take(nprobe)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      order.map(Int.box).toArray[Any])
  }

  override def nullSafeEval(v: Any): Any = compute(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroids =
    copy(child = c)
}

/** `srp_bucket(v)` — sign-random-projection LSH bucket id: bit p of the
  * result is the sign of `v · hyperplane_p` for `planes` Gaussian random
  * hyperplanes drawn from `seed`. Vectors shorter than `dim` contribute
  * only their present components (missing terms = 0). Native replacement
  * for the interpreted `zip_with`/`aggregate` formulation — O(planes × dim)
  * fused multiply-adds per row in one loop. */
case class SrpBucket(child: Expression, planes: Int, seed: Long, dim: Int)
    extends UnaryExpression with VectorElemTypes {
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"
  private lazy val cf = elemIsFloat(child.dataType)

  // planes × dim Gaussian hyperplane matrix, row-major — a pure function
  // of (planes, dim, seed), exposed via SrpBucket.hyperplanes so SQL
  // oracles can interpolate the exact same doubles as literals.
  @transient private lazy val hyper: Array[Double] =
    SrpBucket.hyperplanes(planes, dim, seed)

  def compute(a: Any): Long = {
    val arr = a.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var d = 0.0
      val base = p * dim
      var i = 0
      while (i < n) {
        val v = if (cf) arr.getFloat(i).toDouble else arr.getDouble(i)
        d += v * hyper(base + i)
        i += 1
      }
      if (d >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpBucket", this, classOf[SrpBucket].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): SrpBucket = copy(child = c)
}

object SrpBucket {
  /** The deterministic Gaussian hyperplane matrix for `(planes, dim, seed)`,
    * row-major (plane p occupies `[p·dim, (p+1)·dim)`). Doubles are emitted
    * by `Double.toString` with shortest-roundtrip precision, so literal
    * interpolation into SQL reproduces the exact bits. */
  def hyperplanes(planes: Int, dim: Int, seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes * dim)(rnd.nextGaussian())
  }
}

/** `mat_vec(v)` — dense matrix × vector against a LITERAL row-major
  * matrix: `out_j = Σ_i M(j)(i) · v_i`. The OPQ rotation's encode/probe
  * transform (orthonormal M, so cosine ranking is invariant); per-row,
  * codegen'd, scan-stage at 100 TB — d² multiply-adds per vector, the
  * same cost class as the PQ argmin it precedes. Vectors shorter than
  * the matrix width contribute their present components. */
case class MatVec(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression with VectorElemTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"
  private lazy val cf = elemIsFloat(child.dataType)
  @transient private lazy val rows: Array[Array[Double]] =
    matrix.map(_.toArray).toArray

  def compute(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val out = new Array[Any](rows.length)
    var j = 0
    while (j < rows.length) {
      val row = rows(j)
      val n = math.min(arr.numElements(), row.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        s += row(i) * (if (cf) arr.getFloat(i).toDouble else arr.getDouble(i))
        i += 1
      }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matVec", this, classOf[MatVec].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): MatVec =
    copy(child = c)
}

/** `random_project(v)` — Achlioptas ±1 random projection to `outDim`
  * integer components: `out_j = Σ_i sign(j,i) · round(v_i · 2²⁰)` with a
  * deterministic ±1 sign matrix drawn from `seed`. The
  * Johnson–Lindenstrauss dimensionality reduction for embedding
  * storage/bandwidth (project 64→16 dims for coarse candidate scoring;
  * exact re-rank uses the originals) — in FIXED-POINT, so the result is
  * order-independent, engine-exact, and oracle-mirrorable with integer
  * literals (±1 matrix + scaled inputs; no float dot products anywhere).
  * Vectors shorter than `dim` contribute their present components.
  * Per-row, codegen'd: scan-stage at 100 TB. */
case class RandomProject(child: Expression, outDim: Int, seed: Long, dim: Int)
    extends UnaryExpression with VectorElemTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "random_project"
  private lazy val cf = elemIsFloat(child.dataType)

  @transient private lazy val signs: Array[Int] =
    RandomProject.signs(outDim, dim, seed)

  def compute(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (cf) arr.getFloat(i).toDouble else arr.getDouble(i)
      // HALF_UP away from zero — the SQL round() convention in both Spark
      // and DuckDB (Java Math.round is half-toward-+∞ and diverges on
      // negative exact halves, which fixed-point scaling does produce)
      val y = v * RandomProject.Scale
      q(i) = (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
      i += 1
    }
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      val base = j * dim
      var s = 0L
      var k = 0
      while (k < n) { s += signs(base + k) * q(k); k += 1 }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("randomProject", this,
      classOf[RandomProject].getName)
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c)")
  }

  override protected def withNewChildInternal(c: Expression): RandomProject =
    copy(child = c)
}

object RandomProject {
  /** Fixed-point input scale (2²⁰ — same convention as
    * [[graft.operators.Embeddings.PoolScaleBits]]). */
  val Scale: Double = (1L << 20).toDouble

  /** Deterministic ±1 sign matrix for `(outDim, dim, seed)`, row-major
    * (output component j occupies `[j·dim, (j+1)·dim)`) — integer
    * literals, so SQL oracles interpolate it exactly. */
  def signs(outDim: Int, dim: Int, seed: Long): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(outDim * dim)(if (rnd.nextBoolean()) 1 else -1)
  }
}

/** `l2_norm(a)` — native expression with whole-stage codegen. */
case class L2Norm(child: Expression)
    extends UnaryExpression with VectorElemTypes {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2_norm"
  private lazy val cf = elemIsFloat(child.dataType)

  override def nullSafeEval(a: Any): Any =
    VectorOps.norm(a.asInstanceOf[ArrayData], cf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.VectorOps$$.MODULE$$.norm($a, $cf)")

  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
}
