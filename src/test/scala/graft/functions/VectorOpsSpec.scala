package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class VectorOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosine/dot/norm match manual math on float arrays") {
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(-1.0f, 0.5f, 2.0f)
    val df = Seq((a, b)).toDF("a", "b")
    val Array(row) = df.select(
      F.dotProduct(col("a"), col("b")).as("dot"),
      F.l2Norm(col("a")).as("na"),
      F.cosineSim(col("a"), col("b")).as("cos")).collect()
    val dot = 1.0 * -1.0 + 2.0 * 0.5 + 3.0 * 2.0
    val na = math.sqrt(1.0 + 4.0 + 9.0)
    val nb = math.sqrt(1.0 + 0.25 + 4.0)
    assert(row.getDouble(0) == dot)
    assert(row.getDouble(1) == na)
    assert(row.getDouble(2) == dot / (na * nb))
  }

  test("zero-norm vectors yield cosine 0.0, and nulls propagate") {
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(F.cosineSim(col("a"), col("b"))).head().getDouble(0) == 0.0)
    val withNull = df.select(F.cosineSim(lit(null).cast("array<float>"), col("b")))
    assert(withNull.head().isNullAt(0))
  }

  test("double arrays are accepted without widening loss") {
    val df = Seq((Seq(1.5, 2.5), Seq(2.0, 4.0))).toDF("a", "b")
    assert(df.select(F.dotProduct(col("a"), col("b"))).head().getDouble(0) == 13.0)
  }

  test("pqAdcLut over pqLut is bit-identical to pqAdc (r19 candidate-pass hoist)") {
    // m=2 subspaces of dsub=3, ksub=4 codewords — adversarial doubles
    // (irrational-ish magnitudes) so any fold-order change would show
    val rnd = new scala.util.Random(7)
    val cb: Seq[Seq[Seq[Double]]] = Seq.fill(2)(Seq.fill(4)(
      Seq.fill(3)(rnd.nextDouble() * 1e3 - 500)))
    val rows = (1 to 50).map { i =>
      (Seq.fill(6)(rnd.nextDouble() * 10 - 5),
        Seq(rnd.nextInt(4) + 1, rnd.nextInt(4) + 1))
    }
    val df = rows.toDF("q", "codes")
    val got = df.select(
      F.pqAdc(col("q"), col("codes"), cb).as("direct"),
      F.pqAdcLut(F.pqLut(col("q"), cb), col("codes"), ksub = 4).as("lut"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"ADC diverged: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("dotCodes equals the zip_with+aggregate HOF fold it replaces (r19)") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 50).map { _ =>
      (Seq.fill(8)(rnd.nextDouble() * 2 - 1), Seq.fill(8)(rnd.nextInt(256)))
    }
    val df = rows.toDF("qp", "codes")
    val hof = aggregate(
      zip_with(col("qp"), col("codes").cast("array<double>"), (a, b) => a * b),
      lit(0.0), (acc, t) => acc + t)
    df.select(hof.as("old"), F.dotCodes(col("qp"), col("codes")).as("nw"))
      .collect()
      .foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("dotCodes fails loud on a vector/codes length mismatch") {
    val df = Seq((Seq(0.5, -1.0, 2.0), Seq(1, 2))).toDF("qp", "codes")
    val e = intercept[Exception](
      df.select(F.dotCodes(col("qp"), col("codes"))).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("vector length 3 != codes length 2"), msgs)
  }
}
