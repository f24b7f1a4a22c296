package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

class TextOpsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("nfcNormalize: composes decomposed marks, idempotent, matches the JDK") {
    import spark.implicits._
    import graft.functions.HashExpressions
    val samples = Seq(
      "cafe\u0301",           // e + combining acute -> \u00e9
      "nai\u0308ve",          // i + combining diaeresis -> \u00ef
      "caf\u00e9",            // already NFC: must pass through
      "A\u030a",              // A + combining ring -> \u00c5
      "\u1100\u1161",        // decomposed Hangul jamo -> \uac00
      "plain ascii text", "")
    val out = samples.toDF("s")
      .select(col("s"), HashExpressions.nfcNormalize(col("s")).as("n"),
        HashExpressions.nfcNormalize(HashExpressions.nfcNormalize(col("s"))).as("nn"))
      .collect()
    out.foreach { r =>
      val (s, n, nn) = (r.getString(0), r.getString(1), r.getString(2))
      val jdk = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      assert(n == jdk, s"NFC mismatch for ${s.codePoints().toArray.toSeq}")
      assert(nn == n, "NFC must be idempotent")
    }
    assert(out.map(_.getString(1)).take(5).toSeq ==
      Seq("caf\u00e9", "na\u00efve", "caf\u00e9", "\u00c5", "\uac00"))
  }

  test("nfcNormalize is a codegen expression, not a fallback") {
    import graft.functions.HashExpressions
    // The sketch expressions use CodegenFallback by design; the text
    // normalizer is on the hot path of every pipeline and must participate
    // in whole-stage codegen.
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[HashExpressions.NfcNormalize]))
  }

  test("chunkByTokens: full coverage, exact overlap, short docs get one chunk") {
    import spark.implicits._
    val text = (1 to 95).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, "tiny doc")).toDF("doc_id", "text")
    val chunks = TextOps.chunkByTokens(df, "doc_id", "text",
        chunkTokens = 40, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val doc1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3.split(" "))
    // ceil((95-10)/30) = 3 chunks; starts 0, 30, 60.
    assert(doc1.length == 3)
    assert(doc1(0).length == 40 && doc1(1).length == 40 && doc1(2).length == 35)
    assert(doc1.flatten.toSet == (1 to 95).map(i => s"w$i").toSet, "token lost")
    assert(doc1(0).takeRight(10).sameElements(doc1(1).take(10)),
      "consecutive chunks must share exactly the overlap window")
    val doc2 = chunks.filter(_._1 == 2L)
    assert(doc2.length == 1 && doc2.head._3 == "tiny doc")
  }

  test("chunkByTokens plan is narrow — no shuffle before the explode") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextOps.chunkByTokens(df, "doc_id", "text", 2, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("redactPii scrubs every pattern class and counts match occurrences") {
    import spark.implicits._
    val df = Seq((1L,
      "mail a@b.co and c.d+e@f-g.org, call 555-123-4567 or 555 867 5309, " +
        "ssn 078-05-1120, host 192.168.1.254 end")).toDF("id", "t")
    val row = df.select(
      graft.operators.TextOps.redactPii(col("t")).as("r"),
      graft.operators.TextOps.piiCount(col("t"), "email").as("ne"),
      graft.operators.TextOps.piiCount(col("t"), "phone").as("np"),
      graft.operators.TextOps.piiCount(col("t"), "ssn").as("ns"),
      graft.operators.TextOps.piiCount(col("t"), "ipv4").as("ni")).head()
    val r = row.getString(0)
    assert(!r.exists(_.isDigit), s"digits survived redaction: $r")
    assert(r.contains("[EMAIL]") && r.contains("[PHONE]") &&
      r.contains("[SSN]") && r.contains("[IP]"))
    assert((row.getInt(1), row.getInt(2), row.getInt(3), row.getInt(4))
      == ((2, 2, 1, 1)))
  }

  test("repetitionStats: uniform doc scores 1/n, degenerate doc scores ~1") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),                    // all unique: share 1/5
      (2L, "spam spam spam spam"),          // one token: share 1
      (3L, "x")                             // single token, no bigrams
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((0.2, 0.2)), s"got ${got(1L)}")
    assert(got(2L)._1 == 1.0 && got(2L)._2 == 0.75, s"got ${got(2L)}")
    assert(got(3L) == ((1.0, 0.0)), s"single-token doc: ${got(3L)}")
  }

  test("bm25TopK ranks by relevance: repetition, presence, absence") {
    import spark.implicits._
    val filler = (1 to 30).map(i => s"x$i").mkString(" ")
    val df = Seq(
      (1L, s"spark spark spark join $filler"),
      (2L, s"spark $filler"),
      (3L, s"$filler nothing relevant here"),
      (4L, s"join window spark $filler")
    ).toDF("doc_id", "text")
    val got = TextOps.bm25TopK(df, "doc_id", "text",
        Seq("spark", "join", "window"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(!got.contains(3L), "doc without any query term must not score")
    assert(got(4L) == 1, "doc matching all three terms ranks first")
    assert(got(1L) < got(2L), "more matched mass must outrank a single hit")
  }

  test("bm25TopK plan uses TakeOrderedAndProject, not a global sort or window") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"spark doc number $i")).toDF("doc_id", "text")
    val plan = TextOps.bm25TopK(df, "doc_id", "text", Seq("spark"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TopK:\n$plan")
  }

  test("tfIdfTopTerms: rare term outscores common term; k and ties respected") {
    import spark.implicits._
    // 'common' is in every doc, 'rare' only in doc 1; both appear once
    // in doc 1, so idf must rank 'rare' first there.
    val df = Seq(
      (1L, "common rare alpha"),
      (2L, "common alpha beta"),
      (3L, "common beta beta")).toDF("doc_id", "text")
    val top = TextOps.tfIdfTopTerms(df, "doc_id", "text", k = 2)
      .filter(col("id") === 1L).orderBy(col("rk"))
      .collect().map(_.getString(1))
    assert(top.head == "rare", s"rare term must rank first, got ${top.toSeq}")
    val counts = TextOps.tfIdfTopTerms(df, "doc_id", "text", k = 2)
      .groupBy("id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ <= 2), "k must cap per-doc terms")
  }

  test("tfIdfTopTerms broadcasts the vocabulary and uses WindowGroupLimit") {
    val d = graft.engine.Tables.load(spark, sf01, "documents")
    val plan = TextOps.tfIdfTopTerms(d, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"df join must broadcast the vocabulary:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      "top-k must run as partial WindowGroupLimit")
  }

  test("passageDedup: planted duplicate passages are found, clean docs score 0") {
    import spark.implicits._
    val shared = (1 to 40).map(i => s"tok$i").mkString(" ") // 2 chunks of 20
    val df = Seq(
      (1L, shared + " unique one two three"),
      (2L, shared + " other tail words here"),
      (3L, "completely different text entirely")).toDF("doc_id", "text")
    val out = TextOps.passageDedup(df, "doc_id", "text", chunkTokens = 20)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 owns the shared chunks (first occurrence); doc 2's first two
    // chunks are dups; doc 3 is clean.
    assert(out(0)._3 == 0, s"doc 1 must keep its chunks: $out")
    assert(out(1)._3 == 2, s"doc 2 must have exactly 2 dup chunks: $out")
    assert(out(2)._3 == 0, s"doc 3 is clean: $out")
  }

  test("ngramPerplexity matches the hand-computed bigram model") {
    import spark.implicits._
    // Corpus: "a b a b", "a b c". Bigram counts: (a b)=3, (b a)=1, (b c)=1;
    // contexts: C(a .)=3, C(b .)=2; vocab V=3; alpha=0.5.
    //   P(b|a) = 3.5/4.5, P(a|b) = 1.5/3.5, P(c|b) = 1.5/3.5
    //   doc1 log2ppl = -(2*log2(3.5/4.5) + log2(1.5/3.5))/3 ~= 0.64918
    //   doc2 log2ppl = -(log2(3.5/4.5) + log2(1.5/3.5))/2  = log2(3)/2 exactly
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.ngramPerplexity(df, "doc_id", "text", alpha = 0.5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 2)
    val withSolo = TextOps.ngramPerplexity(
      Seq((1L, "a b"), (2L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(withSolo.map(_.getLong(0)).toSeq == Seq(1L),
      "a 1-token doc has no bigrams and must drop")
    assert(out(0)._1 == 1L && out(0)._2 == 3L)
    assert(math.abs(out(0)._3 - 0.64918) < 1e-3, s"doc1 score ${out(0)._3}")
    assert(math.abs(out(1)._3 - math.log(3) / math.log(2) / 2) < 1e-3,
      s"doc2 score ${out(1)._3}")
    // Repetitive text the model has seen is more probable than rare text.
    assert(out(0)._3 < out(1)._3,
      "the doc made of the corpus's dominant bigram must score lower ppl")
  }

  test("ngramPerplexity plan: no UDFs, no cartesian, bigram-keyed join only") {
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} end"))
      .toDF("doc_id", "text")
    val plan = TextOps.ngramPerplexity(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"model join must be an equi-join:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("filterFunnel: each planted doc drops at exactly its stage") {
    import spark.implicits._
    val df = Seq(
      // A: 2 tokens -> fails min_tokens.
      (1L, "the cat"),
      // B: 10 tokens, no marker words -> fails lang_known.
      (2L, (1 to 10).map(i => s"zq$i").mkString(" ")),
      // C: 10 tokens incl 'the' (en), quality 0.04+0.15+0.3 = 0.49 < 0.5.
      (3L, "the abcd efgh ijkl mnop qrst uvwx yzab cdef ghij"),
      // D: 100 tokens, 30x 'the' -> quality 1.0 but token share 0.3 > 0.2.
      (4L, (Seq.fill(30)("the") ++ (1 to 70).map(i => s"ok$i")).mkString(" ")),
      // E: 100 distinct tokens with 10 stopwords -> survives everything.
      (5L, ("the a an and or of to in is it " +
        (1 to 90).map(i => s"fin$i").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = TextOps.filterFunnel(df, "doc_id", "text",
        minTokens = 10, minQuality = 0.5, maxTokenShare = 0.2)
      .orderBy("stage_idx").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (0, "input", 5L, 5L),
      (1, "min_tokens", 5L, 4L),
      (2, "lang_known", 4L, 3L),
      (3, "quality", 3L, 2L),
      (4, "repetition", 2L, 1L)), s"got ${out.toSeq}")
  }

  test("importanceWeights matches the hand-computed bigram ratio model") {
    import spark.implicits._
    // Target doc "a b a b": bigrams {a b:2, b a:1}; raw adds "a b c":
    // {a b:1, b c:1}. N_t=3, N_r=5, V=3, alpha=0.5.
    val df = Seq((1L, "a b a b", true), (2L, "a b c", false),
        (3L, "solo", false))
      .toDF("doc_id", "text", "is_tgt")
    val out = TextOps.importanceWeights(df, "doc_id", "text",
        isTarget = col("is_tgt"), alpha = 0.5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def lr(ct: Double, cr: Double): Double =
      math.log((ct + 0.5) / 4.5) / math.log(2) -
        math.log((cr + 0.5) / 6.5) / math.log(2)
    def q6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // llr_micro = exact integer form of the 1e-6-quantized per-term sum.
    val micro1 = ((q6(lr(2, 3)) * 2 + q6(lr(1, 1))) * 1000000).toLongExact
    val micro2 = ((q6(lr(2, 3)) + q6(lr(0, 1))) * 1000000).toLongExact
    val exp1 = BigDecimal((2 * lr(2, 3) + lr(1, 1)) / 3)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp2 = BigDecimal((lr(2, 3) + lr(0, 1)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 3L), (2L, 2L)),
      s"1-token docs must drop; got ${out.toSeq}")
    assert(out(0)._3 == micro1, s"doc1 llr_micro ${out(0)._3} != $micro1")
    assert(out(1)._3 == micro2, s"doc2 llr_micro ${out(1)._3} != $micro2")
    assert(math.abs(out(0)._4 - exp1) < 1e-9, s"doc1 ${out(0)._4} != $exp1")
    assert(math.abs(out(1)._4 - exp2) < 1e-9, s"doc2 ${out(1)._4} != $exp2")
    // The target-looking doc must outscore the one with off-target mass.
    assert(out(0)._4 > out(1)._4)
    // The derived double mean is consistent with the exact integer column
    // (property the operator contract promises: dsir_logratio ==
    // round(llr_micro/1e6/n_bigrams, 4) up to the double division).
    out.foreach { case (id, n, micro, mean) =>
      val rebuilt = BigDecimal(micro.toDouble / 1e6 / n)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rebuilt - mean) < 1e-9,
        s"doc $id: mean $mean inconsistent with llr_micro $micro / n=$n")
    }
  }

  test("cdcChunks: boundaries are content-defined and shift-robust") {
    import spark.implicits._
    // ascii_sum('p') = 112 = 16*7 -> 'p' is a boundary token at avg=16;
    // t1..t5, x, y, z are not (sums mod 16 nonzero).
    val a = "t1 t2 p t3 t4 p t5"
    val shifted = "x y z " + a
    val df = Seq((1L, a), (2L, shifted)).toDF("doc_id", "text")
    val chunks = TextOps.cdcChunks(df, "doc_id", "text", avgChunkTokens = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val c1 = chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val c2 = chunks.filter(_._1 == 2L).sortBy(_._2).map(_._3).toSeq
    assert(c1 == Seq("t1 t2 p", "t3 t4 p", "t5"), s"doc1 chunks: $c1")
    // Prefix insertion changes ONLY the first chunk; every later chunk
    // keeps its exact identity — the CDC property fixed windows lack.
    assert(c2 == Seq("x y z t1 t2 p", "t3 t4 p", "t5"), s"doc2 chunks: $c2")
    // Token conservation: chunks partition the token stream in order.
    assert(c1.mkString(" ") == a && c2.mkString(" ") == shifted)
  }

  test("cdcChunks plan: one exchange serves window and reassembly") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"w${i % 11} p w${i % 7} q"))
      .toDF("doc_id", "text")
    val plan = TextOps.cdcChunks(df, "doc_id", "text", 16)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"id-partitioning must serve both window and groupBy, got $exchanges:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("filterFunnel/importanceWeights plans: no UDFs, no cartesian") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, s"the tok${i % 7} and tok${i % 5} end", i % 2 == 0))
      .toDF("doc_id", "text", "is_tgt")
    val p1 = TextOps.filterFunnel(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val p2 = TextOps.importanceWeights(df, "doc_id", "text", col("is_tgt"))
      .queryExecution.executedPlan.toString
    Seq(p1, p2).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
      assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    }
  }
}
