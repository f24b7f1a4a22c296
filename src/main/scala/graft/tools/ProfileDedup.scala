package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.{GraftSession, Tables}
import graft.functions.{HashExpressions, TextFunctions}
import graft.operators.Dedup

/** Scratch profiler for the minhash dedup stages. */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder("local[32]", "graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[prof] $name%-20s ${(System.nanoTime() - t0) / 1e9}%7.2f s  n=$n")
    }
    val docs = Tables.load(spark, dir, "documents")
    time("scan")(docs.count())
    val toks = docs.select(col("doc_id").as("id"), TextFunctions.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 5)
    time("tokens")(toks.count())
    val bands = toks.select(col("id"),
      posexplode(HashExpressions.minhashBands(col("toks"), 5, 64, 4)).as(Seq("band", "bh")))
    time("bands")(bands.count())
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
    time("candidates")(cand.count())
    time("nearDupPairs")(Dedup.nearDupPairs(docs, "doc_id", "text").count())
    time("nearDupPairs2")(Dedup.nearDupPairs(docs, "doc_id", "text").count())
    spark.stop()
  }
}
