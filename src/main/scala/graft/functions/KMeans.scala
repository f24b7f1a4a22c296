package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Cols
import org.apache.spark.sql.types._

/** Distributed k-means (Lloyd) training over an embedding column — the
  * trainer the PQ/IVF stack was missing: FAISS-class vector stores
  * TRAIN their coarse quantizer on a corpus sample before adding
  * vectors (`IndexIVFPQ.train`), they don't ship closed-form
  * codebooks. Every step is deterministic and SQL-recomputable so a
  * DuckDB oracle can replay the whole training run iteration by
  * iteration:
  *
  *  - init: the k vectors with the smallest scrambled key
  *    `(id · 2654435761) mod 2^32` (Knuth's multiplicative hash —
  *    a seeded-but-arbitrary pick, SQL: `row_number() OVER (ORDER BY
  *    key, id) <= k`), elements widened float→double exactly; centroid
  *    index = seed rank. Ids are assumed non-negative and < 2^33 so
  *    the product stays in BIGINT on both engines.
  *  - each of the FIXED `iters` Lloyd iterations: broadcast the current
  *    centroids → per-vector squared-L2 distance array (l-ascending,
  *    j-ascending double summation — [[CentroidDists]], the
  *    [[Pq.PqCoarseDists]] kernel generalized to a trained codebook) →
  *    FIRST-minimum argmin assignment (`array_position(dl,
  *    array_min(dl)) - 1` ≡ SQL `list_position(l, list_min(l)) - 1`) →
  *    per-(cell, dim) decimal-exact means: `round(cast(sum(cast(elem
  *    AS decimal(18,9))) AS double) / count(*), 6)` — the p27
  *    layout-stability pattern: the decimal sum is exact hence
  *    shuffle-order-independent, and the 6-dp round lands Spark and
  *    DuckDB on the same double. Cells that receive no vectors keep
  *    their previous centroid (SQL: LEFT JOIN + coalesce).
  *  - per-iteration inertia (for the monotone-descent diagnostic):
  *    Σ round(min_l d², 6) summed as DECIMAL(38,6) then cast to double
  *    — exact, layout-stable, oracle-recomputable.
  *
  * Scale shape: the per-iteration work is one narrow scan computing a
  * k-entry distance array per row inside WSCG (broadcast centroids via
  * `addReferenceObj`) plus one aggregation whose map-side combine
  * reduces to ≤ k×dim rows per partition before the shuffle; the
  * driver exchange is the ≤ k×dim mean rows every distributed k-means
  * performs between iterations. The element explode feeding the mean
  * exists for decimal-exact oracle parity; its row blowup is absorbed
  * by partial aggregation (the shuffle carries k×dim rows, not
  * rows×dim). Seeds come from a distributed top-k
  * (`TakeOrderedAndProject`), not a single-partition window.
  */
object KMeans {

  /** Squared-L2 distances of one vector to every centroid of a flat
    * (k·dim) codebook: l-ascending array, each entry a j-ascending
    * left-associated double summation — bit-identical to the oracle's
    * `list_sum(list_transform(list_zip(...)))` replay. Public: the
    * generated Java calls it.
    */
  def distsJava(v: ArrayData, cb: Array[Double], dim: Int): ArrayData = {
    if (v == null || v.numElements() < dim) return null
    val k = cb.length / dim
    val out = new Array[Double](k)
    var l = 0
    while (l < k) {
      var d = 0.0
      var j = 0
      while (j < dim) {
        val x = v.getFloat(j).toDouble - cb(l * dim + j)
        d += x * x
        j += 1
      }
      out(l) = d
      l += 1
    }
    new GenericArrayData(out)
  }

  /** embedding → squared-L2 distance array against a broadcast TRAINED
    * codebook (k derived from the broadcast length). The
    * [[Pq.PqCoarseDists]] shape with the codebook as a runtime value:
    * trained centroids are DATA on the wire, probed inside WSCG via
    * `addReferenceObj`.
    */
  case class CentroidDists(child: Expression,
      codebook: Broadcast[Array[Double]], dim: Int)
      extends UnaryExpression with Pq.FloatVecInput {
    override protected def vecChild: Expression = child
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = true
    override def prettyName: String = "km_centroid_dists"

    override def nullSafeEval(input: Any): Any =
      distsJava(input.asInstanceOf[ArrayData], codebook.value, dim)

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("kmCodebook", codebook,
        "org.apache.spark.broadcast.Broadcast")
      nullSafeCodeGen(ctx, ev, c => s"""
        ${ev.value} = graft.functions.KMeans.distsJava($c,
          (double[])$ref.value(), $dim);
        ${ev.isNull} = ${ev.value} == null;""")
    }

    override protected def withNewChildInternal(c: Expression): CentroidDists =
      copy(child = c)
  }

  /** A trained model: `centroids` is the final flat (k'·dim) codebook
    * (k' = min(k, corpus size) — a tiny corpus seeds fewer cells),
    * `snapshots(t)` the codebook after iteration t (index 0 = the
    * seeds), `inertia(t-1)` iteration t's assignment inertia against
    * `snapshots(t-1)`. `bc` is the final codebook's live broadcast for
    * downstream assignment queries.
    */
  case class Model(dim: Int, centroids: Array[Double],
                   snapshots: Seq[Array[Double]], inertia: Seq[Double],
                   bc: Broadcast[Array[Double]]) {
    def k: Int = if (dim == 0) 0 else centroids.length / dim
  }

  /** Column of squared-L2 distances to a broadcast codebook. Different
    * models coexist in one session; each column carries its own
    * broadcast, freed with the last plan that uses it.
    */
  def distsColumn(vec: Column, bc: Broadcast[Array[Double]], dim: Int): Column =
    Cols.of(CentroidDists(Cols.expr(vec), bc, dim))

  /** Distance column against a trained model's final centroids. */
  def dists(vec: Column, m: Model): Column = distsColumn(vec, m.bc, m.dim)

  /** Train — see object doc. Runs eagerly (1 seed job + 2 jobs per
    * iteration, each a small driver exchange); an empty or
    * all-malformed corpus yields an empty model and no jobs beyond the
    * seed probe (the EmptySweep contract: degrade, don't throw).
    *
    * `sampleFraction` < 1 trains on the deterministic hash-sample
    * ([[graft.operators.Sampling.deterministicSample]] — membership a
    * pure function of the id, so a SQL oracle replays the slice
    * exactly), PERSISTED across the Lloyd iterations: at 100 TB,
    * `iters × 2` full-corpus scans is not how anyone trains a coarse
    * quantizer — FAISS trains on a sample — and the per-iteration cost
    * decouples from corpus size (the r17 verdict's trainer fix). The
    * default full-corpus path (no persist: caching 100 TB would be
    * worse than re-scanning) is kept for fixture-exact oracles.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
            iters: Int, sampleFraction: Double = 1.0): Model = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction=$sampleFraction out of (0,1]")
    val spark = df.sparkSession
    val all = df.filter(col(vecCol).isNotNull && size(col(vecCol)) >= dim)
    val sampled = sampleFraction < 1.0
    val valid =
      if (sampled)
        graft.operators.Sampling
          .deterministicSample(all, idCol, sampleFraction)
          .select(col(idCol), col(vecCol))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else all
    try trainOn(valid, spark, idCol, vecCol, k, dim, iters)
    finally if (sampled) valid.unpersist(false)
  }

  private def trainOn(valid: DataFrame, spark: SparkSession, idCol: String,
                      vecCol: String, k: Int, dim: Int, iters: Int): Model = {
    val seeds = valid
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        ((col(idCol) * lit(2654435761L)) % lit(4294967296L)).as("__key"))
      .orderBy(col("__key"), col("__id"))
      .limit(k)
      .collect()
    val init: Array[Double] = seeds.flatMap(
      _.getSeq[Float](1).take(dim).map(_.toDouble).toArray)
    var cents = init
    val snapshots = Seq.newBuilder[Array[Double]]
    val inertias = Seq.newBuilder[Double]
    snapshots += init
    if (init.nonEmpty) {
      var t = 1
      while (t <= iters) {
        val bc = spark.sparkContext.broadcast(cents)
        val dl = distsColumn(col("__v"), bc, dim)
        val assigned = valid
          .select(col(vecCol).as("__v"))
          .select(col("__v"), dl.as("__dl"))
          .select(col("__v"),
            (array_position(col("__dl"), array_min(col("__dl"))) - 1)
              .cast("int").as("__cell"),
            round(array_min(col("__dl")), 6)
              .cast(DecimalType(38, 6)).as("__md"))
        val inertiaRow = assigned
          .agg(sum(col("__md")).cast("double")).collect()(0)
        inertias += (if (inertiaRow.isNullAt(0)) 0.0
                     else inertiaRow.getDouble(0))
        val means = assigned
          .select(col("__cell"), posexplode(col("__v")).as(Seq("__d", "__e")))
          .filter(col("__d") < dim)
          .groupBy(col("__cell"), col("__d"))
          .agg((sum(col("__e").cast(DecimalType(18, 9))).cast("double") /
            count(lit(1))).as("__raw"))
          .select(col("__cell"), col("__d"),
            round(col("__raw"), 6).as("__cv"))
          .collect()
        val next = cents.clone()
        means.foreach { r =>
          next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2)
        }
        // This iteration's centroid broadcast is dead weight on the
        // executors once the next codebook exists (non-blocking: the
        // two jobs above have completed).
        bc.unpersist(blocking = false)
        cents = next
        snapshots += next
        t += 1
      }
    }
    Model(dim, cents, snapshots.result(), inertias.result(),
      spark.sparkContext.broadcast(cents))
  }
}
