package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.operators.Quantize

/** int8 scalar quantization: codes in range, reconstruction error bounded
  * by half a quantization step, exact decode for degenerate (constant)
  * vectors, and a narrow UDF-free plan.
  */
class QuantizeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def corpus = Tables.load(spark, sf01, "embeddings")

  test("codes are int8-ranged and hit both endpoints; error <= scale/2") {
    val q = Quantize.int8(corpus)
      .withColumn("max_err",
        aggregate(
          zip_with(col("v"), Quantize.decode(col("qv"), col("lo"), col("scale")),
            (x, d) => abs(x - d)),
          lit(0.0), (a, e) => greatest(a, e)))
      .select(array_min(col("qv")).as("qmin"), array_max(col("qv")).as("qmax"),
        col("max_err"), col("scale"))
      .collect()
    q.foreach { r =>
      val (qmin, qmax, err, scale) =
        (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3))
      assert(qmin >= -128 && qmax <= 127, s"codes [$qmin,$qmax] out of int8 range")
      // The per-vector min and max quantize to the exact endpoints.
      assert(qmin == -128 && qmax == 127, s"endpoints [$qmin,$qmax] not hit")
      assert(err <= scale / 2 + 1e-9, s"reconstruction error $err > scale/2 $scale")
    }
  }

  test("constant vectors decode exactly") {
    import spark.implicits._
    val const = Seq((1L, Seq(2.5f, 2.5f, 2.5f))).toDF("vec_id", "embedding")
    val err = Quantize.int8Stats(const).select(col("max_abs_err")).head().getDouble(0)
    assert(err == 0.0, s"constant vector must round-trip exactly, err=$err")
  }

  test("plan is narrow and UDF-free") {
    val plan = Quantize.int8Stats(corpus).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "quantization must not shuffle")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("signProject: deterministic, balanced matrix, geometry-preserving") {
    import spark.implicits._
    import graft.functions.VectorExpressions
    val rnd = new scala.util.Random(11)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = (0 until 30).map(i => (i.toLong, vec()))
    // Near-dups: tiny perturbation of bases 0-9.
    val dups = (0 until 10).map(i =>
      (100L + i, base(i)._2.map(x => x + 0.001f)))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val proj = df.select(col("vec_id"),
        VectorExpressions.signProjectF(col("embedding"), 16, 7L).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(proj.values.forall(_.length == 16))
    // Determinism: same input -> same projection (run twice).
    val proj2 = df.select(col("vec_id"),
        VectorExpressions.signProjectF(col("embedding"), 16, 7L).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(proj == proj2)
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // Near-dup pairs project close; random pairs project far — the JL
    // geometry that makes the projection usable for ANN bucketing.
    val dupDist = (0 until 10).map(i => l2(proj(i.toLong), proj(100L + i)))
    val farDist = (0 until 10).map(i => l2(proj(i.toLong), proj((i + 15).toLong)))
    assert(dupDist.max < farDist.min / 10,
      s"dup distances $dupDist must be far below random $farDist")
    // Matrix balance: ± signs near 50/50 (hash uniformity) — measured by
    // projecting the all-ones vector: each out dim = (#plus - #minus).
    val ones = Seq((0L, Seq.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val sums = ones.select(VectorExpressions.signProjectF(col("embedding"), 16, 7L))
      .head().getSeq[Double](0)
    assert(sums.forall(s => math.abs(s) <= 24),
      s"sign matrix badly unbalanced: $sums")
  }

  test("sign_project SQL accepts INT and BIGINT literals for dims and seed") {
    import spark.implicits._
    import graft.functions.VectorExpressions
    val df = Seq((1L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    df.createOrReplaceTempView("sp_lit_test")
    // 4L parses as a BIGINT literal — previously a bare ClassCastException
    // on the dims argument (seed already handled both).
    val a = spark.sql(
      "SELECT sign_project(embedding, 4, 9) AS p FROM sp_lit_test")
      .head().getSeq[Double](0)
    val b = spark.sql(
      "SELECT sign_project(embedding, 4L, 9L) AS p FROM sp_lit_test")
      .head().getSeq[Double](0)
    assert(a == b && a.length == 4)
  }
}
