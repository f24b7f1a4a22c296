package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Pq

/** Product quantization: the encode/LUT kernels against an independent
  * re-derivation of the documented model (planted codebook → per-subspace
  * first-min argmin → 4-bit pack; ADC identity lut[m·16+code] ==
  * direct recompute), interpreted-vs-codegen parity, and the WSCG +
  * broadcast pins.
  */
class PqSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Independent re-derivation straight from the scaladoc model, NOT a
    * call into Pq internals.
    */
  private def refCb(m: Int, k: Int, j: Int): Double =
    (((m * 7 + k * 13 + j * 29) % 41) - 20) / 20.0

  private def refEncode(v: Array[Float]): (Long, Double) = {
    var packed = 0L
    var err = 0.0
    for (m <- 0 until Pq.M) {
      val dists = (0 until Pq.K).map { k =>
        (0 until Pq.SubDim).foldLeft(0.0) { (acc, j) =>
          val x = v(m * Pq.SubDim + j).toDouble - refCb(m, k, j)
          acc + x * x
        }
      }
      val best = dists.indexOf(dists.min) // first occurrence
      packed |= best.toLong << (4 * m)
      err += dists(best)
    }
    (packed, err)
  }

  private def vec(seed: Int): Array[Float] =
    Array.tabulate(Pq.Dim)(i =>
      (((seed * 17 + i * i * 5 + i * 3) % 211) - 105) / 105.0f)

  private def ad(v: Array[Float]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(v)

  test("encode kernel equals the closed-form model: codes, pack, and " +
    "error, bit-for-bit") {
    val cb = Pq.buildCodebook()
    (0 until 40).foreach { s =>
      val v = vec(s)
      val row = Pq.encodeJava(ad(v), cb)
      val (code, err) = refEncode(v)
      assert(row.getLong(0) == code, s"code mismatch seed=$s")
      assert(row.getDouble(1) == err, s"err mismatch seed=$s")
    }
  }

  test("codebook is the planted rule; every subspace has 16 distinct " +
    "centroids (argmin is non-degenerate)") {
    val cb = Pq.buildCodebook()
    assert(cb.length == Pq.M * Pq.K * Pq.SubDim)
    for (m <- 0 until Pq.M; k <- 0 until Pq.K; j <- 0 until Pq.SubDim)
      assert(cb((m * Pq.K + k) * Pq.SubDim + j) == refCb(m, k, j))
    for (m <- 0 until Pq.M) {
      val cents = (0 until Pq.K).map(k =>
        (0 until Pq.SubDim).map(j => refCb(m, k, j)).toList)
      assert(cents.distinct.size == Pq.K, s"degenerate subspace $m")
    }
  }

  test("ADC identity: lut[m*16 + code] summed m-ascending equals the " +
    "exact reconstruction distance recomputed directly") {
    val cb = Pq.buildCodebook()
    val q = vec(7)
    val lut = Pq.lutJava(ad(q), cb)
    (0 until 10).foreach { s =>
      val x = vec(100 + s)
      val code = Pq.encodeJava(ad(x), cb).getLong(0)
      val viaLut = (0 until Pq.M).foldLeft(0.0) { (acc, m) =>
        acc + lut.getDouble(m * Pq.K + ((code >> (4 * m)) & 15L).toInt)
      }
      val direct = (0 until Pq.M).foldLeft(0.0) { (acc, m) =>
        val k = ((code >> (4 * m)) & 15L).toInt
        acc + (0 until Pq.SubDim).foldLeft(0.0) { (a, j) =>
          val d = q(m * Pq.SubDim + j).toDouble - refCb(m, k, j)
          a + d * d
        }
      }
      assert(viaLut == direct, s"ADC identity broken seed=$s")
    }
  }

  test("short or null vectors degrade to null, not an exception (the " +
    "decoded=false convention)") {
    val cb = Pq.buildCodebook()
    assert(Pq.encodeJava(ad(Array.fill(10)(0.1f)), cb) == null)
    assert(Pq.lutJava(ad(Array.emptyFloatArray), cb) == null)
    assert(Pq.encodeJava(null, cb) == null)
  }

  test("reconstruction error shrinks vectors near a centroid to ~0 (the " +
    "quantizer actually quantizes)") {
    val cb = Pq.buildCodebook()
    // a vector assembled FROM centroid entries must encode to those
    // exact centroids with zero error
    val v = Array.tabulate(Pq.Dim) { i =>
      val m = i / Pq.SubDim
      refCb(m, (m * 3) % Pq.K, i % Pq.SubDim).toFloat
    }
    val row = Pq.encodeJava(ad(v), cb)
    assert(row.getDouble(1) < 1e-12)
    (0 until Pq.M).foreach { m =>
      assert(((row.getLong(0) >> (4 * m)) & 15L).toInt == (m * 3) % Pq.K)
    }
  }

  private def refCoarse(l: Int, j: Int): Double =
    (((l * 17 + j * 23) % 37) - 18) / 18.0

  test("coarse kernel equals the closed-form centroid rule; centroids are " +
    "distinct; a vector's own argmin cell is always its rank-1 probe") {
    val cb = Pq.buildCoarseCodebook()
    for (l <- 0 until Pq.CoarseK; j <- 0 until Pq.Dim)
      assert(cb(l * Pq.Dim + j) == refCoarse(l, j))
    val cents = (0 until Pq.CoarseK).map(l =>
      (0 until Pq.Dim).map(j => refCoarse(l, j)).toList)
    assert(cents.distinct.size == Pq.CoarseK, "degenerate coarse centroids")
    (0 until 20).foreach { s =>
      val v = vec(s)
      val dl = Pq.coarseDistsJava(ad(v), cb)
      val ref = (0 until Pq.CoarseK).map { l =>
        (0 until Pq.Dim).foldLeft(0.0) { (acc, j) =>
          val x = v(j).toDouble - refCoarse(l, j)
          acc + x * x
        }
      }
      (0 until Pq.CoarseK).foreach(l =>
        assert(dl.getDouble(l) == ref(l), s"coarse dist seed=$s l=$l"))
      // probe ranking minimizes the SAME array the assignment argmins,
      // so the own cell is probe rank 1 by construction
      val own = ref.indexOf(ref.min)
      assert(ref.zipWithIndex.sortBy(p => (p._1, p._2)).head._2 == own)
    }
    assert(Pq.coarseDistsJava(ad(Array.fill(3)(0f)), cb) == null)
    assert(Pq.coarseDistsJava(null, cb) == null)
  }

  test("residual encode equals the closed-form model: cell by coarse " +
    "argmin, codes by residual argmin with the documented (v-C)-c " +
    "subtraction order, and the residual ADC identity holds") {
    val coarse = Pq.buildCoarseCodebook()
    val cb = Pq.buildCodebook()
    (0 until 20).foreach { s =>
      val v = vec(s)
      val row = Pq.residualEncodeJava(ad(v), coarse, cb)
      // independent re-derivation
      val cdists = (0 until Pq.CoarseK).map { l =>
        (0 until Pq.Dim).foldLeft(0.0) { (a, j) =>
          val x = v(j).toDouble - refCoarse(l, j); a + x * x
        }
      }
      val cell = cdists.indexOf(cdists.min)
      assert(row.getInt(0) == cell, s"cell seed=$s")
      var packed = 0L
      var err = 0.0
      for (m <- 0 until Pq.M) {
        val dists = (0 until Pq.K).map { k =>
          (0 until Pq.SubDim).foldLeft(0.0) { (a, j) =>
            val dim = m * Pq.SubDim + j
            val x = (v(dim).toDouble - refCoarse(cell, dim)) - refCb(m, k, j)
            a + x * x
          }
        }
        val best = dists.indexOf(dists.min)
        packed |= best.toLong << (4 * m)
        err += dists(best)
      }
      assert(row.getLong(1) == packed, s"residual codes seed=$s")
      assert(row.getDouble(2) == err, s"residual err seed=$s")
      // ADC identity: per-cell LUT probe == direct recompute, for every
      // probed cell (not just the assignment cell)
      val q = vec(1000 + s)
      (0 until Pq.CoarseK by 5).foreach { pc =>
        val lut = Pq.lutResidualJava(ad(q), pc, coarse, cb)
        val viaLut = (0 until Pq.M).foldLeft(0.0) { (acc, m) =>
          acc + lut.getDouble(m * Pq.K +
            ((row.getLong(1) >> (4 * m)) & 15L).toInt)
        }
        val direct = (0 until Pq.M).foldLeft(0.0) { (acc, m) =>
          val k = ((row.getLong(1) >> (4 * m)) & 15L).toInt
          acc + (0 until Pq.SubDim).foldLeft(0.0) { (a, j) =>
            val dim = m * Pq.SubDim + j
            val x = (q(dim).toDouble - refCoarse(pc, dim)) - refCb(m, k, j)
            a + x * x
          }
        }
        assert(viaLut == direct, s"residual ADC identity seed=$s cell=$pc")
      }
    }
    // degradation: short/null vectors and out-of-range cells -> null
    assert(Pq.residualEncodeJava(ad(Array.fill(5)(0f)), coarse, cb) == null)
    assert(Pq.residualEncodeJava(null, coarse, cb) == null)
    assert(Pq.lutResidualJava(ad(vec(1)), -1, coarse, cb) == null)
    assert(Pq.lutResidualJava(ad(vec(1)), Pq.CoarseK, coarse, cb) == null)
  }

  test("residual quantization reconstructs a centroid-plus-residual " +
    "vector exactly: v = C(cell) + c-entries encodes with ~0 error") {
    val coarse = Pq.buildCoarseCodebook()
    val cb = Pq.buildCodebook()
    // assemble v = coarse centroid 3 + per-subspace PQ centroid entries
    val v = Array.tabulate(Pq.Dim) { i =>
      val m = i / Pq.SubDim
      (refCoarse(3, i) + refCb(m, (m * 5) % Pq.K, i % Pq.SubDim) / 100.0).toFloat
    }
    // NOTE: /100 shrinks the residual so cell 3 stays the argmin cell
    val row = Pq.residualEncodeJava(ad(v), coarse, cb)
    assert(row.getInt(0) == 3, "assembled vector must land in cell 3")
    // and the residual err is far below the RAW-PQ err of the same
    // vector (the reason production IVF-PQ encodes residuals)
    val raw = Pq.encodeJava(ad(v), cb).getDouble(1)
    assert(row.getDouble(2) < raw,
      s"residual err ${row.getDouble(2)} !< raw err $raw")
  }

  test("codegen and interpreted eval agree bit-for-bit") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0 until 8).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
        .selectExpr("id", "pq_encode(v) AS pq", "pq_lut(v) AS lut",
          "pq_coarse_dists(v) AS cd", "pq_residual_encode(v) AS rq",
          "pq_residual_lut(v, 2) AS rlut")
        .selectExpr("id", "pq.code", "pq.err", "lut[3]", "cd[0]", "cd[15]",
          "rq.cell", "rq.code", "rq.err", "rlut[7]")
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
  }

  test("projection stays inside whole-stage codegen with the broadcast " +
    "riding addReferenceObj") {
    val dir = java.nio.file.Files.createTempDirectory("pq_wscg").toString
    import spark.implicits._
    (0 until 4).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .selectExpr("id", "pq_encode(v).code AS c")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"),
      s"pq_encode fell out of WSCG:\n$plan")
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Pq.PqEncode]))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Pq.PqLut]))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Pq.PqCoarseDists]))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Pq.PqResidualEncode]))
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Pq.PqLutResidual]))
  }

  test("non-float-array inputs fail at ANALYSIS with a clear message, " +
    "not a runtime ClassCastException mid-scan") {
    import spark.implicits._
    val dbl = (0 until 2)
      .map(i => (i.toLong, vec(i).map(_.toDouble).toSeq)).toDF("id", "v")
    for (e <- Seq("pq_encode(v)", "pq_lut(v)", "pq_coarse_dists(v)",
        "pq_residual_encode(v)", "pq_residual_lut(v, 2)")) {
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        dbl.selectExpr(e).collect()
      }
      assert(ex.getMessage.contains("array<float>"), s"$e: ${ex.getMessage}")
    }
    val fl = (0 until 2).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      fl.selectExpr("pq_residual_lut(v, 'x')").collect()
    }
    assert(ex.getMessage.contains("cell"), ex.getMessage)
  }

  test("pq_residual_lut accepts a BIGINT cell (joined probe columns are " +
    "bigint) identically to int, and out-of-range longs degrade to null") {
    import spark.implicits._
    val df = (0 until 4).map(i => (i.toLong, vec(i).toSeq)).toDF("id", "v")
    val viaInt = df.selectExpr("id", "pq_residual_lut(v, 2) AS l")
      .collect().map(_.toString).sorted
    val viaLong = df.selectExpr("id",
        "pq_residual_lut(v, cast(2 AS bigint)) AS l")
      .collect().map(_.toString).sorted
    assert(viaInt.sameElements(viaLong))
    val oob = df.selectExpr("pq_residual_lut(v, cast(4294967298 AS bigint)) AS l")
      .collect()
    assert(oob.forall(_.isNullAt(0)))
  }
}
