package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sessions built through GraftSession get every custom Catalyst function
  * via SparkSessionExtensions — no imperative register() call needed.
  */
class ExtensionsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("injected functions are SQL-callable on a GraftSession build") {
    val sig = spark.sql("SELECT simhash64(array('alpha','beta')) AS s")
      .head().getLong(0)
    val sig2 = spark.sql("SELECT simhash64(array('alpha','beta')) AS s")
      .head().getLong(0)
    assert(sig == sig2, "simhash64 not deterministic")
    val bucket = spark.sql(
      "SELECT hyperplane_lsh(array(cast(0.5 AS float), cast(-1.0 AS float)), 4, 42) AS b")
      .head().getInt(0)
    assert(bucket >= 0 && bucket < 16)
    val asum = spark.sql("SELECT ascii_sum('ab') AS a").head().getLong(0)
    assert(asum == 97L + 98L)
    val mh = spark.sql(
      "SELECT size(minhash_signature(array('a','b','c','d','e','f'), 5, 8)) AS n")
      .head().getInt(0)
    assert(mh == 8)
  }

  test("every GraftExtensions name resolves and evaluates on a new session " +
    "with no register call") {
    val s = spark.newSession()
    import s.implicits._
    Seq((1L, Seq.tabulate(graft.functions.Pq.Dim)(i => (i % 7).toFloat / 7f)))
      .toDF("id", "v").createOrReplaceTempView("ext_vec")
    val calls = Map(
      "simhash64" -> "simhash64(array('alpha', 'beta'))",
      "minhash_signature" -> "minhash_signature(array('a','b','c','d','e','f'), 5, 8)",
      "minhash_bands" -> "minhash_bands(array('a','b','c','d','e','f'), 3, 16, 2)",
      "shingle_hashes" -> "shingle_hashes(array('a','b','c','d'), 2)",
      "hyperplane_lsh" -> "hyperplane_lsh(array(cast(0.5 AS float)), 4, 42L)",
      "winnow_fingerprints" -> "winnow_fingerprints('the quick brown fox', 4, 3)",
      "byte_stride" -> "hex(byte_stride(cast('abcdef' AS binary), 2))",
      "ascii_sum" -> "ascii_sum('ab')",
      "nfc_normalize" -> "nfc_normalize('abc')",
      "interleave_bits" -> "interleave_bits(3, 5)",
      "dot_f" -> "dot_f(array(1, 2), array(3, 4))",
      "l2sq_f" -> "l2sq_f(array(1.0, 2.0), array(3.0, 4.0))",
      "sign_project" -> "sign_project(v, 4, 9L)",
      "bpe_encode" -> "bpe_encode('the')",
      "fasttext_score" -> "fasttext_score('the')",
      "pq_encode" -> "pq_encode(v).code",
      "pq_lut" -> "pq_lut(v)",
      "pq_coarse_dists" -> "pq_coarse_dists(v)",
      "pq_residual_encode" -> "pq_residual_encode(v).cell",
      "pq_residual_lut" -> "pq_residual_lut(v, 2)")
    assert(calls.keySet ==
      graft.engine.GraftExtensions.functions.map(_._1.funcName).toSet,
      "every injected name needs a call here")
    val row = s.sql(s"SELECT ${calls.values.mkString(", ")} FROM ext_vec").head()
    assert((0 until row.length).forall(!row.isNullAt(_)), row)
    val byName = calls.keys.zipWithIndex.toMap
    assert(row.getString(byName("byte_stride")) == "616365")
    assert(row.getLong(byName("ascii_sum")) == 97L + 98L)
    assert(row.getDouble(byName("dot_f")) == 11.0)
    assert(row.getSeq[Int](byName("bpe_encode")) == Seq(50))
    assert(row.getSeq[Double](byName("sign_project")).length == 4)
  }

  test("trained-model columns leave the session function registry unchanged") {
    import graft.functions.{FastText, KMeans}
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    import s.implicits._
    val vecs = (0 until 12).map(i => (i.toLong, Seq(i.toFloat, (i % 3).toFloat)))
      .toDF("id", "embedding")
    val texts = Seq("a b c", "q q").toDF("text")
    val bc = s.sparkContext.broadcast(Array.fill(FastText.Dim)(1))
    def registrySize = s.sessionState.functionRegistry.listFunction().size
    val before = registrySize
    for (_ <- 0 until 2) {
      val m = KMeans.train(vecs, "id", "embedding", k = 2, dim = 2, iters = 3)
      vecs.select(KMeans.dists(col("embedding"), m)).collect()
      texts.select(FastText.scoreWith(col("text"), bc)).collect()
    }
    assert(registrySize == before)
  }

  test("clusterConf arithmetic: partitions track cores, broadcast tracks memory") {
    import graft.engine.GraftSession
    // A 1000-executor / 8-core / 64 GiB fleet (the 100 TB shape).
    val big = GraftSession.clusterConf(1000, 8, 64)
    assert(big("spark.sql.shuffle.partitions").toLong == 24000L,
      "3 tasks/core over 8000 cores")
    assert(big("spark.sql.autoBroadcastJoinThreshold").toLong == 256L * 1024 * 1024,
      "64 GiB executors afford a 256 MiB build side")
    // A small 8 GiB-executor fleet must get a proportionally smaller
    // broadcast bound, and partitions are capped at a sane ceiling.
    val small = GraftSession.clusterConf(10, 4, 8)
    assert(small("spark.sql.autoBroadcastJoinThreshold").toLong == 32L * 1024 * 1024)
    val huge = GraftSession.clusterConf(100000, 16, 64)
    assert(huge("spark.sql.shuffle.partitions").toLong == 200000L, "ceiling applies")
    // Cluster conf keeps the engine defaults it does not override.
    assert(big("spark.sql.adaptive.enabled") == "true")
  }
}
