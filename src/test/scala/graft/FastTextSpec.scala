package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FastText

/** fastText-style classifier inference: the kernel against an
  * independent re-derivation of the documented model (tokens → rolling
  * codepoint hash → unigram/bigram feature indices → planted weights),
  * interpreted-vs-codegen parity, and the WSCG + broadcast pins.
  */
class FastTextSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Independent score re-derivation — straight from the scaladoc model,
    * NOT a call into FastText internals.
    */
  private def refScore(text: String): Long = {
    def hash(t: String): Long =
      t.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % (1 << 20))
    def w(j: Long): Long = ((j * 37 + 11) % 201) - 100
    val toks = text.split(" ").filter(_.nonEmpty).map(hash)
    toks.map(h => w(h % 4096)).sum +
      toks.sliding(2).filter(_.length == 2)
        .map(p => w((p(0) * 131 + p(1)) % 4096)).sum
  }

  private def kernel(text: String): Long =
    FastText.scoreJava(
      org.apache.spark.unsafe.types.UTF8String.fromString(text),
      FastText.buildWeights())

  test("kernel equals the closed-form model on representative inputs") {
    Seq("", "a", "a b", "hello world this is a doc",
      "repeated repeated repeated", ("x " * 50).trim, "1 22 333 4444",
      "punct! mixed, tokens? here.", "unicode café naïve")
      .foreach { t =>
        assert(kernel(t) == refScore(t), s"mismatch on '$t'")
      }
  }

  test("empty tokens are skipped: multi-space and edge spaces score like " +
    "the collapsed string; non-BMP hashes one codepoint") {
    assert(kernel("a  b") == kernel("a b"))
    assert(kernel(" a b ") == kernel("a b"))
    assert(kernel("") == 0L)
    assert(kernel("   ") == 0L)
    // surrogate pair: one codepoint in the rolling hash, same as SQL's
    // unicode(substr(...)) walk
    assert(kernel("a😀b") == refScore("a😀b"))
  }

  test("weight table is the planted rule and both signs occur (the " +
    "threshold actually separates)") {
    val w = FastText.buildWeights()
    assert(w.length == FastText.Dim)
    (0 until FastText.Dim).foreach(j => assert(w(j) == ((j * 37 + 11) % 201) - 100))
    assert(w.exists(_ > 0) && w.exists(_ < 0))
  }

  test("codegen and interpreted eval agree bit-for-bit") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
          (2L, "aaaa eaa ea a2z !!! 42"),
          (3L, ""),
          (4L, "one two three four five six seven eight nine ten"))
        .toDF("id", "text")
        .selectExpr("id", "fasttext_score(text) AS score")
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
  }

  test("projection stays inside whole-stage codegen with the broadcast " +
    "riding addReferenceObj") {
    val dir = java.nio.file.Files.createTempDirectory("ft_wscg").toString
    import spark.implicits._
    Seq((1L, "some quality text"), (2L, "junk")).toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .selectExpr("id", "fasttext_score(text) AS score")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"),
      s"fasttext_score fell out of WSCG:\n$plan")
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[FastText.FastTextScore]))
  }
}
