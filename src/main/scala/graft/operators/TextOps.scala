package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus-level text operators for training-data and retrieval pipelines:
  * token-window chunking (sequence-length preparation) and BM25 keyword
  * scoring (the lexical side of the similarity-search surface; Robertson &
  * Spärck Jones probabilistic relevance framework).
  *
  * Both are deterministic compositions of codegen'd built-ins: chunking is
  * purely narrow (explode of computed slices); BM25 is one tiny corpus-stats
  * aggregate broadcast back over a narrow scoring pass + TopK — no UDFs, no
  * quadratic joins, layout-independent results.
  */
object TextOps {

  /** Split each document into token-window chunks of `chunkTokens` tokens
    * with `overlap` tokens shared between consecutive chunks (the standard
    * context-window prep for training/embedding). Chunk starts advance by
    * `chunkTokens - overlap`; every token lands in at least one chunk; docs
    * shorter than one window yield exactly one chunk. Output: id, chunk_id
    * (0-based), chunk text, chunk token count.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens=$chunkTokens must be >= 1")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap=$overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    // ceil((nTokens - overlap) / stride), at least 1.
    val nChunks = greatest(
      ceil((size(toks) - overlap).cast("double") / stride).cast("int"), lit(1))
    df.select(col(idCol), toks.as("__toks"), nChunks.as("__n"))
      // NULL text tokenizes to a NULL array, which would otherwise emit a
      // single chunk=NULL garbage row per such doc; a doc with no text
      // has no chunks. (Empty text still yields one empty chunk — the
      // "short docs get one chunk" coverage property.)
      .filter(col("__toks").isNotNull)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__n") - 1),
          i => array_join(slice(col("__toks"), i * stride + 1, lit(chunkTokens)), " ")))
          .as(Seq("chunk_id", "chunk")))
      .withColumn("n_chunk_tokens", size(split(col("chunk"), " ")))
  }

  /** Content-defined chunking (the FastCDC/rsync family, at token
    * granularity): a chunk boundary falls AFTER every token whose hash is
    * ≡ 0 mod `avgChunkTokens`, so expected chunk length is
    * `avgChunkTokens` and — unlike [[chunkByTokens]]'s fixed windows —
    * boundaries are a function of CONTENT alone: inserting or deleting
    * text shifts only the chunks it touches, and every later chunk keeps
    * its identity (same text ⇒ same fingerprint). That shift-robustness is
    * what makes chunk-level dedup work on incremental crawls, where
    * yesterday's page returns with one extra paragraph.
    *
    * The boundary hash is [[graft.functions.HashExpressions.AsciiSum]] —
    * deliberately DuckDB-mirrorable so the whole chunking is
    * oracle-verifiable; production would swap in a stronger rolling hash
    * (the plumbing is identical). Empty tokens are never boundaries (both
    * engines agree by explicit guard).
    *
    * Scale shape: ONE shuffle on the doc id serves both the per-doc
    * running boundary count (window) and the chunk reassembly groupBy —
    * hash-partitioning on id satisfies the (id, chunk_id) clustering, so
    * no second exchange. Work per doc is linear in its token count.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                avgChunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(avgChunkTokens >= 2,
      s"avgChunkTokens=$avgChunkTokens must be >= 2")
    val toksPos = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), posexplode(col("__toks")).as(Seq("pos", "tok")))
    val flagged = toksPos.withColumn("__bd",
      when(length(col("tok")) > 0 &&
        pmod(graft.functions.HashExpressions.asciiSum(col("tok")),
          lit(avgChunkTokens.toLong)) === 0, 1L).otherwise(0L))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk_id", coalesce(sum(col("__bd")).over(w), lit(0L)))
      .groupBy(col("id"), col("chunk_id"))
      .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("chunk"),
        count(lit(1)).cast("long").as("n_chunk_tokens"))
  }

  /** PII patterns, applied in declaration order (SSN before phone so the
    * more specific pattern wins its span). RE2-compatible syntax — the same
    * patterns run under Java regex (Spark) and RE2-family engines.
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "[EMAIL]"),
    ("ssn", """\b\d{3}-\d{2}-\d{4}\b""", "[SSN]"),
    ("phone", """\b\d{3}[-. ]\d{3}[-. ]\d{4}\b""", "[PHONE]"),
    ("ipv4", """\b\d{1,3}(\.\d{1,3}){3}\b""", "[IP]"))

  /** Redact every PII pattern occurrence. Narrow, codegen'd regexp pass —
    * the scrubbing front door of a training-data pipeline.
    */
  def redactPii(c: Column): Column =
    piiPatterns.foldLeft(c) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Occurrence count of one named PII pattern. */
  def piiCount(c: Column, name: String): Column = {
    val pat = piiPatterns.collectFirst { case (`name`, p, _) => p }
      .getOrElse(throw new IllegalArgumentException(s"unknown PII pattern '$name'"))
    size(regexp_extract_all(c, lit(pat), lit(0)))
  }

  /** Per-document repetition statistics (the Gopher/C4 repetition quality
    * rule): share of tokens taken by the most frequent token and by the
    * most frequent bigram. Shuffles on (id, gram) — two aggregations,
    * corpus-scalable; no per-doc quadratic work.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
    def maxShare(gramCol: Column, outName: String) =
      base.select(col("id"), size(col("__toks")).as("__n"),
          explode(gramCol).as("__g"))
        .groupBy(col("id"), col("__g"))
        .agg(count(lit(1)).as("__c"), max(col("__n")).as("__n"))
        .groupBy(col("id"))
        .agg(round(max(col("__c")).cast("double") /
          greatest(max(col("__n")), lit(1L)), 6).as(outName))
    val uni = maxShare(col("__toks"), "max_token_share")
    val bi = maxShare(
      when(size(col("__toks")) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(col("__toks")) - 2),
          i => concat_ws(" ", slice(col("__toks"), i + 1, lit(2))))),
      "max_bigram_share")
    // Id spine straight from the input with only the id column selected —
    // column pruning keeps this scan text-free (no third tokenization
    // pass), and unlike using `uni` as the spine it preserves rows whose
    // text is NULL (tokens(null) -> null -> explode drops them from the
    // aggregates) with 0.0 shares.
    df.select(col(idCol).as("id"))
      .join(uni, Seq("id"), "left_outer")
      .join(bi, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("max_token_share"), lit(0.0)).as("max_token_share"),
        coalesce(col("max_bigram_share"), lit(0.0)).as("max_bigram_share"))
  }

  /** Top-k most frequent tokens per group (vocabulary report, e.g. per
    * source): one (group, token) aggregation, then a rank-filter that
    * Spark executes as WindowGroupLimit — per-partition partial top-k
    * before the shuffle, so the full per-group frequency table never
    * concentrates on one reducer. Ties break lexicographically.
    */
  def topTokensPerGroup(df: DataFrame, groupCol: String, textCol: String,
                        k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(col(groupCol).as("grp"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("grp"), col("tok"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("n").desc, col("tok"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("grp"), col("tok"), col("n"), col("rk"))
  }

  /** Per-document top-`k` TF-IDF terms — the classic keyword/topic profile
    * of a corpus (and the exact lexical dual of the embedding top-k in
    * `Similarity`). idf = ln((N+1)/(df_t+1)) + 1 (smoothed, never
    * negative); score = tf · idf.
    *
    * Shape: one (id, term) aggregation off a narrow explode gives tf; the
    * per-term document frequencies are a SECOND aggregation of that same
    * frame (vocabulary-sized — for natural text, millions of rows against
    * the corpus's billions), joined back onto the tf frame (AQE broadcasts
    * it when it measures under the size threshold); the final
    * per-doc top-k rank-filter runs as WindowGroupLimit (per-partition
    * partial top-k before the shuffle). Corpus size N is the only
    * driver-side scalar. Ties break lexicographically on the term.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k=$k must be >= 1")
    val nDocs = df.count()
    val tf = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    // No broadcast hint: the vocabulary frame is corpus-dependent (web-scale
    // corpora exceed any fixed "millions" assumption), and a forced hint
    // bypasses Spark's size threshold. AQE still broadcasts it whenever the
    // measured size fits autoBroadcastJoinThreshold, which it does at every
    // sane scale — and falls back to a shuffled join when it wouldn't.
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * (log(lit(nDocs + 1.0) / (col("df_t") + 1.0)) + 1.0), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("term"), col("tf"), col("tfidf"), col("rk"))
  }

  /** Cross-document passage dedup (the CCNet/RefinedWeb paragraph-dedup
    * signal, at token-window granularity because this corpus has no
    * paragraph breaks): chunk every doc into fixed token windows, fingerprint
    * each chunk, and count per doc how many of its chunks already appeared
    * earlier in the corpus (first occurrence by (id, chunk_id) survives).
    *
    * One shuffle on the 16-byte chunk fingerprint; the keep/dup decision is
    * a row_number window inside each fingerprint group, then a per-doc
    * re-aggregation. A pathological boilerplate chunk shared by a large
    * fraction of the corpus would concentrate its group on one reducer —
    * at that point the right fix is filtering known boilerplate upstream,
    * not a fancier plan, so the skew is documented rather than salted.
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
                   chunkTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = chunkByTokens(df, idCol, textCol, chunkTokens, overlap = 0)
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol), col("chunk_id"))
    chunks.withColumn("fp", md5(col("chunk")))
      .withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_share",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  /** BM25 scores of every document against a bag of query tokens; returns
    * the top `k` as (id, score, rk). Corpus statistics (N, avgdl, per-term
    * document frequency) are one small aggregate collected to the driver
    * (|queryTokens|+1 values — the same driver-sized statistics exchange
    * AQE performs) and folded into the scoring expression as literals, so
    * the scoring pass is narrow and the only shuffle is the final TopK.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Robertson/Lucene form,
    * non-negative); tf component = tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTokens: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // Corpus tokens are lowercase-normalized (tokens()), so query tokens
    // must be too or an uppercase query can never match; duplicates would
    // double-count a term (and collide df_<t> column names).
    val queryTokens0 = queryTokens.map(_.toLowerCase.trim).filter(_.nonEmpty).distinct
    require(queryTokens0.nonEmpty, "queryTokens must not be empty")
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol).as("id"), toks.as("__toks"))
    // One pass: corpus size, total tokens, and per-term doc frequency.
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(size(col("__toks"))).cast("long").as("total_toks")) ++
      queryTokens0.map(t =>
        sum(when(array_contains(col("__toks"), t), 1L).otherwise(0L)).as(s"df_$t"))
    val statsRow = base.agg(aggs.head, aggs.tail: _*).head()
    val nDocs = statsRow.getAs[Long]("n_docs")
    val avgdl = statsRow.getAs[Long]("total_toks").toDouble / nDocs
    val scoreExpr: Column = queryTokens0.map { t =>
      val dfT = statsRow.getAs[Long](s"df_$t")
      val idf = math.log(1.0 + (nDocs - dfT + 0.5) / (dfT + 0.5))
      val tf = size(filter(col("__toks"), x => x === t)).cast("double")
      tf * lit(k1 + 1.0) * lit(idf) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * size(col("__toks")).cast("double") / lit(avgdl)))
    }.reduce(_ + _)
    import org.apache.spark.sql.expressions.Window
    // TopK first via orderBy+limit (TakeOrderedAndProject: per-partition
    // partial top-k, no global sort), THEN rank the k survivors — a global
    // row_number window over the full corpus would serialize it through
    // one task.
    val top = base.withColumn("score", round(scoreExpr, 4))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
    top.withColumn("rk",
        row_number().over(Window.orderBy(col("score").desc, col("id"))))
      .select(col("id"), col("score"), col("rk"))
  }

  /** Curation funnel report: the per-stage survivor counts of a standard
    * quality-filter cascade (the first table a corpus-curation team reads).
    * Stages apply cumulatively, in order:
    *
    *   0 input        — every document
    *   1 min_tokens   — token count >= `minTokens`
    *   2 lang_known   — rule-based language ID != 'unknown'
    *   3 quality      — heuristic quality score >= `minQuality`
    *   4 repetition   — max single-token share <= `maxTokenShare`
    *                    (the Gopher repetition rule)
    *
    * Output: one row per stage with (stage_idx, stage, n_in, n_out).
    *
    * Scale shape: stages 1-3 are narrow codegen'd expressions evaluated in
    * ONE corpus scan; stage 4 reuses [[repetitionStats]] (two map-side-
    * combined aggregations keyed by (id, gram)); everything reduces to a
    * single 5-row result — no driver-side iteration, no per-stage rescans
    * of the corpus.
    */
  def filterFunnel(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 10, minQuality: Double = 0.5,
                   maxTokenShare: Double = 0.2): DataFrame = {
    val t = col(textCol)
    val rep = repetitionStats(df, idCol, textCol)
      .select(col("id"), col("max_token_share"))
    val cums = df.select(col(idCol).as("id"),
        (tokenCount(t) >= minTokens).as("c1"),
        (langId(t) =!= "unknown").as("c2"),
        (qualityScore(t) >= minQuality).as("c3"))
      .join(rep, Seq("id"))
      .select(
        col("c1").as("p1"),
        (col("c1") && col("c2")).as("p2"),
        (col("c1") && col("c2") && col("c3")).as("p3"),
        (col("c1") && col("c2") && col("c3") &&
          col("max_token_share") <= maxTokenShare).as("p4"))
    // coalesce: sums over an EMPTY corpus are null — the funnel must then
    // report five all-zero stages, not five null rows.
    val agg = cums.agg(
      count(lit(1)).as("n0"),
      coalesce(sum(col("p1").cast("long")), lit(0L)).as("n1"),
      coalesce(sum(col("p2").cast("long")), lit(0L)).as("n2"),
      coalesce(sum(col("p3").cast("long")), lit(0L)).as("n3"),
      coalesce(sum(col("p4").cast("long")), lit(0L)).as("n4"))
    def stage(i: Int, name: String, nIn: Column, nOut: Column) =
      struct(lit(i).as("stage_idx"), lit(name).as("stage"),
        nIn.as("n_in"), nOut.as("n_out"))
    agg.select(explode(array(
        stage(0, "input", col("n0"), col("n0")),
        stage(1, "min_tokens", col("n0"), col("n1")),
        stage(2, "lang_known", col("n1"), col("n2")),
        stage(3, "quality", col("n2"), col("n3")),
        stage(4, "repetition", col("n3"), col("n4")))).as("s"))
      .select(col("s.stage_idx"), col("s.stage"), col("s.n_in"), col("s.n_out"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * the mean log-likelihood ratio of its token bigrams between a TARGET
    * distribution (documents matching `isTarget`, e.g. a trusted high-
    * quality slice) and the RAW corpus distribution —
    *
    *   score(d) = (1/|bg(d)|) * sum_bg [ log2 P_t(bg) - log2 P_r(bg) ]
    *
    * with add-alpha smoothing over the corpus bigram vocabulary:
    * P(bg) = (C(bg) + alpha) / (N + alpha*V). High scores = documents that
    * look like the target slice; sampling proportional to the ratio is the
    * DSIR recipe for steering a 100 TB crawl toward a curated style without
    * an external classifier.
    *
    * Scale shape mirrors [[ngramPerplexity]]: bigrams are built narrowly
    * with zip_with (no explode before counting); ONE aggregation keyed by
    * the bigram produces both models (raw count + conditional target
    * count); the three model scalars (N_t, N_r, V) are a single driver
    * aggregate folded in as literals; scoring is one bigram-keyed equi-join
    * (AQE broadcasts the model when it fits) + per-doc re-aggregation.
    * Documents with < 2 tokens have no bigrams and are excluded.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        isTarget: Column, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be > 0 (unsmoothed zero-count " +
      "bigrams would make the log-ratio infinite)")
    val toks = tokens(col(textCol))
    val bigrams = df
      .select(col(idCol).as("id"), isTarget.as("__tgt"), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("id"), col("__tgt"), explode(
        zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
    val model = bigrams.groupBy(col("bg")).agg(
      count(lit(1)).as("c_r"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("c_t"))
    val s = model.agg(sum(col("c_r")), sum(col("c_t")), count(lit(1))).head()
    // Empty corpus / no doc with >= 2 tokens: the sums aggregate nothing
    // and come back null — return the (empty) correctly-typed result
    // instead of NPEing on getLong.
    if (s.isNullAt(0)) {
      return bigrams.groupBy(col("id"))
        .agg(count(lit(1)).as("n_bigrams"),
          lit(0L).as("llr_micro"),
          lit(0.0).as("dsir_logratio"))
        .select(col("id"), col("n_bigrams"), col("llr_micro"),
          col("dsir_logratio"))
    }
    val (nR, nT, v) = (s.getLong(0).toDouble, s.getLong(1).toDouble,
      s.getLong(2).toDouble)
    // Literal denominators precomputed with the same IEEE op order the
    // oracle uses: alpha*V first, then the addition.
    val denomT = nT + alpha * v
    val denomR = nR + alpha * v
    // Each per-bigram log-ratio term is quantized to a fixed-scale DECIMAL
    // BEFORE the per-doc sum: decimal addition is exact and order-
    // independent, so the result is byte-identical under any partitioning /
    // partial-aggregation order (a raw double sum drifted ~1e-13 with
    // layout, which round(,4) amplified to visible diffs near rounding
    // boundaries — the p27 labelCentroids pattern, applied here).
    //
    // The grid is 1e-6, NOT finer: log2 is not correctly rounded in either
    // engine, so Spark and the DuckDB oracle can disagree by 1 ulp
    // (~1e-16) per term; against a 1e-6 grid a 1-ulp straddle of a cell
    // boundary is ~1e-9-probable per term. The oracle SQL mirrors the same
    // CAST(... AS DECIMAL(28,6)).
    //
    // llr_micro is the EXACT decimal sum scaled to an integer (×10^6):
    // decimal arithmetic is exact in both engines, so this column is
    // bit-stable across engines, versions, and partitionings. The derived
    // mean (dsir_logratio) stays available for callers, but any cross-
    // engine comparison surface should hash llr_micro + n_bigrams, never
    // the double: `round(double, 4)` itself is engine-dependent (Spark
    // rounds via exact BigDecimal HALF_UP on the binary double; DuckDB's
    // double round multiplies by 10^4, and that path has changed across
    // DuckDB releases).
    import org.apache.spark.sql.types.DecimalType
    bigrams.join(model, Seq("bg"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum((log2((col("c_t") + lit(alpha)) / lit(denomT)) -
                log2((col("c_r") + lit(alpha)) / lit(denomR)))
             .cast(DecimalType(28, 6))).as("__llr"))
      .select(col("id"), col("n_bigrams"),
        (col("__llr") * lit(1000000L)).cast("long").as("llr_micro"),
        round(col("__llr").cast("double") / col("n_bigrams"), 4)
          .as("dsir_logratio"))
  }

  /** Statistical quality scoring via a corpus-trained bigram language model
    * (the CCNet-style perplexity filter, with the corpus itself as the
    * training set): per document, the mean negative log2-likelihood of its
    * token bigrams under add-alpha smoothing —
    * P(w2|w1) = (C(w1 w2) + alpha) / (C(w1 ·) + alpha·V), where C(w1 ·) is
    * the context count (sum of bigram counts starting with w1) and V the
    * corpus vocabulary size. High log-ppl = text the corpus's own statistics
    * find improbable (noise, gibberish, wrong-language) — the standard
    * perplexity quality signal without an external LM.
    *
    * Scale shape: bigram extraction is a narrow zip_with over the token
    * array (no explode until counting); model training is two word-count
    * aggregations keyed by the bigram / context token — the canonical
    * map-side-combined shuffle that scales to any corpus; scoring is one
    * equi-join of per-doc bigram occurrences against the model (bigram-typed
    * key; AQE broadcasts the model when it fits, shuffles when it doesn't)
    * and a per-doc re-aggregation. No driver-side state beyond the scalar V.
    * Docs with < 2 tokens have no bigrams and are excluded.
    */
  def ngramPerplexity(df: DataFrame, idCol: String, textCol: String,
                      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha=$alpha must be > 0 (unsmoothed zero-count " +
      "bigrams would make the log-likelihood infinite)")
    val toks = tokens(col(textCol))
    // (id, bigram) occurrences — bigrams built narrowly from the array.
    val bigrams = df
      .select(col(idCol).as("id"), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("id"), explode(
        zip_with(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
    val vocab = df.select(explode(toks).as("w")).agg(countDistinct(col("w"))).head().getLong(0)
    val bgCounts = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val ctxCounts = bgCounts.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_ctx"))
    val model = bgCounts.join(ctxCounts, Seq("w1"))
      .select(col("bg"), col("c_bg"), col("c_ctx"))
    bigrams.join(model, Seq("bg"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(-log2((col("c_bg") + lit(alpha)) /
                     (col("c_ctx") + lit(alpha * vocab)))).as("__nll"))
      .select(col("id"), col("n_bigrams"),
        round(col("__nll") / col("n_bigrams"), 4).as("log2_ppl"))
  }
}
