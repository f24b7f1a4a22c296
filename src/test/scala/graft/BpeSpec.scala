package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Bpe, TextFunctions => TF}

class BpeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def encode(s: String): Seq[Int] = {
    import spark.implicits._
    Seq(s).toDF("t").select(Bpe.bpeEncode(col("t")))
      .collect()(0).getSeq[Int](0)
  }

  test("greedy longest-first matching, by hand") {
    // "the" -> one 3-piece, not th+e.
    assert(encode("the") == Seq(50))
    // "there": the + re (greedy takes the 3-match first, then 're').
    assert(encode("there") == Seq(50, 45))
    // "thin": th + in — 'thi' is no piece, so 2-match wins, then 'in'.
    assert(encode("thin") == Seq(40, 42))
    // "ingot": ing + o + t (o=15, t=20).
    assert(encode("ingot") == Seq(51, 15, 20))
    // digits and singles: "a2z" -> a(1) 2(29) z(26).
    assert(encode("a2z") == Seq(1, 29, 26))
    // UNK for out-of-vocab symbols, one per character.
    assert(encode("a!b") == Seq(1, 0, 2))
    // spaces separate words and emit nothing; pieces never span words.
    assert(encode("in go") == Seq(42, 7, 15))
    assert(encode("") == Seq.empty)
    // word boundary blocks a would-be 3-match: "th e" is th + e.
    assert(encode("th e") == Seq(40, 5))
  }

  test("UNK advances one CODEPOINT: non-BMP input counts like SQL substr") {
    // One astral emoji (surrogate pair in UTF-16) = ONE unk piece.
    assert(encode("a😀b") == Seq(1, 0, 2))
  }

  test("the true count diverges from the regex proxy where merges bite " +
    "(the reason budgets need the real tokenizer)") {
    import spark.implicits._
    val df = Seq("the thing and the other thing").toDF("text")
      .select(Bpe.bpeCount(TF.normText(col("text"))).as("true_bpe"),
        TF.bpeTokenCount(col("text")).as("proxy"))
    val r = df.collect()(0)
    // proxy counts 6 alpha runs; true encode is 13 pieces — a 2x budget
    // error in this direction, document-dependent.
    assert(r.getInt(0) != r.getInt(1),
      s"proxy and true count coincide: $r")
  }

  test("codegen and interpreted eval agree bit-for-bit") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1L, "the quick brown fox ingesting other things"),
          (2L, "a2z !!! mixed 42 cases"),
          (3L, ""),
          (4L, "ententent ananan ndndnd"))
        .toDF("id", "text")
        .selectExpr("id", "bpe_encode(text) AS ids")
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
  }

  test("encode projection stays inside whole-stage codegen, never " +
    "CodegenFallback") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_wscg").toString
    import spark.implicits._
    Seq((1L, "the thing"), (2L, "other words")).toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .selectExpr("id", "bpe_encode(text) AS ids")
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"),
      s"bpe_encode fell out of WSCG:\n$plan")
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Bpe.BpeEncode]))
  }

  private def encodeBig(s: String): Seq[Int] = {
    import spark.implicits._
    Seq(s).toDF("t").select(Bpe.bpeEncodeBig(col("t")))
      .collect()(0).getSeq[Int](0)
  }

  /** Independent little-endian base-26 value — the closed-form membership
    * rule's twin for hand checks.
    */
  private def v26(s: String): Int =
    s.zipWithIndex.map { case (c, i) => (c - 'a') * math.pow(26, i).toInt }.sum

  test("big vocab: table size and membership equal the closed-form rule") {
    val m = Bpe.buildBigVocab()
    // 676/2 + 17576/4 + ceil(456976/64) = 338 + 4394 + 7141.
    assert(m.size == 338 + 4394 + 7141, s"vocab size ${m.size}")
    // Spot membership both ways against the arithmetic rule.
    assert(v26("aa") == 0 && encodeBig("aa") == Seq(100))
    assert(v26("ba") % 2 == 1 && encodeBig("ba") == Seq(2, 1)) // b, a
    // 'aaaa' (v=0, 0%64=0): the 4-match must beat aa+aa.
    assert(encodeBig("aaaa") == Seq(20000))
    // a known 3-member: v('ca') = 2 -> 'ca' is a 2-piece id 102; check a
    // 3-piece: v % 4 == 0 for 'ea' (v=4) -> 'ea' id... 'ea' is len 2:
    // 4 % 2 = 0 -> id 104. For len 3 take v=4 -> 'eaa' id 1004.
    assert(encodeBig("eaa") == Seq(1004))
    assert(encodeBig("ea") == Seq(104))
    // greedy: longest match wins even when shorter members exist inside.
    val four = encodeBig("eaaa") // v('eaaa')=4, 4%64 != 0 -> falls to 'eaa'+'a'
    assert(four == Seq(1004, 1))
  }

  test("big vocab: spaces separate, digits/UNK single-step, non-BMP one " +
    "codepoint — same ladder as the small kernel") {
    assert(encodeBig("aa aa") == Seq(100, 100))
    assert(encodeBig("a2!") == Seq(1, 29, 0))
    assert(encodeBig("a😀b") == Seq(1, 0, 2))
    assert(encodeBig("") == Seq.empty)
  }

  test("big vocab: codegen and interpreted eval agree bit-for-bit") {
    def run(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((1L, "the quick brown fox ingesting other things"),
          (2L, "aaaa eaa ea a2z !!! 42"),
          (3L, ""),
          (4L, "zzzz yyxx wwvv aabb"))
        .toDF("id", "text")
        .select(col("id"), Bpe.bpeEncodeBig(col("text")).as("ids"))
        .collect().map(_.toString).sorted
    }
    val interp = spark.newSession()
    interp.conf.set("spark.sql.codegen.wholeStage", "false")
    interp.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    assert(run(spark).sameElements(run(interp)))
  }

  test("big vocab: projection stays inside whole-stage codegen with the " +
    "broadcast riding addReferenceObj") {
    val dir = java.nio.file.Files.createTempDirectory("bpe_big_wscg").toString
    import spark.implicits._
    Seq((1L, "the thing"), (2L, "other words")).toDF("id", "text")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .select(col("id"), Bpe.bpeEncodeBig(col("text")).as("ids"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project"),
      s"bpe_encode_big fell out of WSCG:\n$plan")
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[Bpe.BpeBigEncode]))
  }
}
