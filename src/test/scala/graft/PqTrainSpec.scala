package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Pq

/** Per-subspace PQ codebook training: seed layout, assignment
  * consistency with the audited encode kernel, exact means on a
  * quarter-valued corpus, monotone inertia, determinism, and
  * degradation on tiny/empty corpora.
  */
class PqTrainSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Exact-in-float 64-dim corpus (quarters — unambiguous decimal
    * casts, the KMeansSpec fixture rule).
    */
  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val v = Array.tabulate(Pq.Dim)(j =>
        (((i * 7 + j * 13) % 17) - 8) * 0.25f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def key(id: Long): Long = (id * 2654435761L) % 4294967296L

  test("snapshot 0 lays out the K ranked seeds' sub-vectors at " +
    "c0(m,k,j) = seed_k[m*8+j]") {
    val df = corpus(40)
    val mo = Pq.train(df, "vec_id", "embedding", iters = 1)
    val ids = (0L until 40L).sortBy(id => (key(id), id)).take(Pq.K)
    import spark.implicits._
    val vecs = df.as[(Long, Seq[Float])].collect().toMap
    for (k <- 0 until Pq.K; m <- 0 until Pq.M; j <- 0 until Pq.SubDim)
      assert(mo.snapshots.head((m * Pq.K + k) * Pq.SubDim + j) ==
        vecs(ids(k))(m * Pq.SubDim + j).toDouble)
  }

  test("final codes equal a driver-side per-subspace argmin against the " +
    "final codebook (first-min ties, j-ascending double sums)") {
    val df = corpus(50)
    val mo = Pq.train(df, "vec_id", "embedding", iters = 2)
    val got = df.select(col("vec_id"),
        Pq.encodeWith(col("embedding"), mo.bc)
          .getField("code").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import spark.implicits._
    df.as[(Long, Seq[Float])].collect().foreach { case (id, v) =>
      var packed = 0L
      for (m <- 0 until Pq.M) {
        val d = (0 until Pq.K).map { k =>
          (0 until Pq.SubDim).foldLeft(0.0) { (acc, j) =>
            val x = v(m * Pq.SubDim + j).toDouble -
              mo.codebook((m * Pq.K + k) * Pq.SubDim + j)
            acc + x * x
          }
        }
        packed |= d.indexOf(d.min).toLong << (4 * m)
      }
      assert(got(id) == packed, s"vec $id")
    }
  }

  test("iteration-1 means match an exact driver re-derivation on the " +
    "quarter corpus (per (m, cell, j): sum/count then 6-dp round)") {
    val df = corpus(40)
    val mo = Pq.train(df, "vec_id", "embedding", iters = 1)
    val c0 = mo.snapshots(0)
    import spark.implicits._
    val vecs = df.as[(Long, Seq[Float])].collect().sortBy(_._1)
    val expected = c0.clone()
    for (m <- 0 until Pq.M) {
      val assign = vecs.map { case (_, v) =>
        val d = (0 until Pq.K).map { k =>
          (0 until Pq.SubDim).foldLeft(0.0) { (acc, j) =>
            val x = v(m * Pq.SubDim + j).toDouble -
              c0((m * Pq.K + k) * Pq.SubDim + j)
            acc + x * x
          }
        }
        (d.indexOf(d.min), v)
      }
      for (cell <- 0 until Pq.K; j <- 0 until Pq.SubDim) {
        val members = assign.filter(_._1 == cell)
        if (members.nonEmpty) {
          val s = members.map(_._2(m * Pq.SubDim + j).toDouble).sum
          expected((m * Pq.K + cell) * Pq.SubDim + j) =
            BigDecimal(s / members.length)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
    }
    assert(mo.snapshots(1).sameElements(expected))
  }

  test("reconstruction inertia is monotonically non-increasing and " +
    "training is deterministic") {
    val e = graft.engine.Tables.load(spark, sf001, "embeddings")
    val a = Pq.train(e, "vec_id", "embedding", iters = 5)
    assert(a.inertia.length == 5)
    a.inertia.sliding(2).foreach { case Seq(x, y) =>
      assert(y <= x + 1e-3, s"rose: ${a.inertia}")
    }
    assert(a.inertia.last < a.inertia.head)
    val b = Pq.train(e, "vec_id", "embedding", iters = 5)
    assert(a.codebook.sameElements(b.codebook) && a.inertia == b.inertia)
  }

  test("corpora with fewer than K valid vectors (or none) yield an " +
    "empty model, not a crash") {
    assert(Pq.train(corpus(10), "vec_id", "embedding", 3).codebook.isEmpty)
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val mo = Pq.train(empty, "vec_id", "embedding", 3)
    assert(mo.codebook.isEmpty && mo.inertia.isEmpty)
  }

  test("sampled training equals a full train over the pre-filtered " +
    "hash-slice and leaves nothing persisted") {
    val df = corpus(120)
    val frac = 0.5
    val slice = graft.operators.Sampling
      .deterministicSample(df, "vec_id", frac)
    val nSlice = slice.count()
    assert(nSlice >= Pq.K && nSlice < 120, s"degenerate sample: $nSlice")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val sampled = Pq.train(df, "vec_id", "embedding", iters = 2,
      sampleFraction = frac)
    val manual = Pq.train(slice, "vec_id", "embedding", iters = 2)
    assert(sampled.codebook.sameElements(manual.codebook) &&
      sampled.inertia == manual.inertia,
      "sampled train diverged from the slice train")
    assert(spark.sparkContext.getPersistentRDDs.keySet
      .subsetOf(cachedBefore), "training slice left persisted")
  }
}
