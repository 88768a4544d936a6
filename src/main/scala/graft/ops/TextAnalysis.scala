package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArrayFunctions, BloomFunctions, TextFunctions}
import graft.pipeline.Tables

/** Text-analysis operators over `documents`: n-gram-profile language ID,
  * heuristic + classifier-model quality scoring, token/BPE accounting,
  * repetition filtering, unigram/bigram LM surprise scoring, tf·idf
  * keyword extraction, deterministic hash + stratified sampling, PII
  * scrubbing, content fingerprinting, and the composed corpus filter.
  * All ratios are integer-count arithmetic (bit-exact across engines);
  * per-document statistics run as single-pass kernels or array-side
  * projections (zero shuffle), corpus-level statistics as hash
  * aggregations — linear in corpus size, no driver-side state.
  */
object TextAnalysis {

  /** Per-document quality-gate threshold, shared by the corpus filter,
    * the assembly pipeline, and the streaming gate — interpolated into
    * the SQL oracles from this same constant so the engine and oracle
    * can never drift apart.
    */
  val QUALITY_MIN = 0.45

  /** The deterministic 32-bit sampling draw: md5(doc_id) first 8 hex
    * chars as a long in [0, 2^32). Every sampler (hash sample, mixture,
    * streaming gates) derives from this one definition; its DuckDB twin
    * is `CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS
    * BIGINT)`.
    */
  def md5Bucket(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10).cast("long")

  /** Per-language character-trigram profiles — the head of each language's
    * most-frequent char-trigram list (Cavnar–Trenkle n-gram profiling).
    * These are properties of the LANGUAGES (function words and affixes:
    * "the"/"ing", "de "/"ent", "os "/"que", "der"/"sch"), not of any test
    * corpus — the operator works on arbitrary text.
    */
  val CHAR_PROFILES: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("en ", "er ", "der", "ie ", "die", "ein", "ich", "sch",
      "und", " un", "ung", "ch "),
    "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ",
      "ing", "ng ", " to", "ion"),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " el", "el ", "ent",
      "que", " qu", "ue ", "ado"),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", "ent", " la", "la ",
      " et", "et ", "que", "les"))

  private val PROFILE_LANGS: Seq[String] = CHAR_PROFILES.map(_._1)

  /** Occurrence-count sum of `lang`'s profile trigrams over a `padded`
    * column, via replace-scan arithmetic — pure string/integer ops with
    * identical semantics in Spark and DuckDB (each term is an exact
    * multiple of the trigram length, so the fractional divide is exact).
    */
  private def scoreExprSql(lang: String): String =
    CHAR_PROFILES.toMap.apply(lang).map { g =>
      s"(length(padded) - length(replace(padded, '$g', ''))) / ${g.length}"
    }.mkString("(", " + ", ")")

  /** Language ID: score each candidate language as the total occurrence
    * count of its profile trigrams in the lower-cased, space-padded text;
    * pick the argmax (ties broken language-ascending), 'unknown' when no
    * trigram fires. One codegen'd projection — no explode, no join, no
    * shuffle: the per-document scan cost and nothing else, at any corpus
    * size.
    */
  def langid(docs: DataFrame): DataFrame = {
    val scored = docs
      .withColumn("padded", concat(lit(" "), lower(col("text")), lit(" ")))
      .select(col("doc_id") +: col("lang") +:
        PROFILE_LANGS.map(l => expr(scoreExprSql(l)).cast("long").as(s"score_$l")): _*)
    val g = greatest(PROFILE_LANGS.map(l => col(s"score_$l")): _*)
    val chain = PROFILE_LANGS.tail.foldLeft(
      when(col(s"score_${PROFILE_LANGS.head}") === g, PROFILE_LANGS.head)) {
      (acc, l) => acc.when(col(s"score_$l") === g, l)
    }
    scored.select(col("doc_id"), col("lang"),
      when(g === 0L, lit("unknown")).otherwise(chain).as("predicted_lang"),
      g.as("hits"))
  }

  def textLangid(spark: SparkSession, sfDir: String): DataFrame =
    langid(Tables.documents(spark, sfDir))

  val textLangidSql: String = {
    val scoreCols = PROFILE_LANGS
      .map(l => s"CAST(${scoreExprSql(l)} AS BIGINT) AS score_$l")
      .mkString(",\n         ")
    val caseArms = PROFILE_LANGS.init
      .map(l => s"WHEN score_$l = hits THEN '$l'")
      .mkString("\n            ")
    s"""WITH padded AS (
       |  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS padded FROM documents),
       |scored AS (
       |  SELECT doc_id, lang,
       |         $scoreCols
       |  FROM padded),
       |g AS (
       |  SELECT *, greatest(${PROFILE_LANGS.map("score_" + _).mkString(", ")}) AS hits
       |  FROM scored)
       |SELECT doc_id, lang,
       |       CASE WHEN hits = 0 THEN 'unknown'
       |            $caseArms
       |            ELSE '${PROFILE_LANGS.last}' END AS predicted_lang,
       |       hits
       |FROM g""".stripMargin
  }

  /** Language-ID quality, MEASURED: the confusion matrix of
    * [[langid]]'s prediction against the corpus's labeled `lang` column,
    * with each cell's share of its true-language row count — the same
    * measured-quality discipline as the LSH precision/recall and ANN
    * recall queries (a classifier you ship is a number, not a shape).
    * The matrix is |langs|² rows; everything after the one linear
    * scoring projection is aggregation over that tiny frame.
    */
  def langidQuality(docs: DataFrame): DataFrame = {
    val m = langid(docs)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).cast("long").as("n"))
      .localCheckpoint() // fans into the cells and the per-lang totals
    val tot = m.groupBy(col("lang")).agg(sum(col("n")).as("t"))
    m.join(tot, Seq("lang"))
      .select(col("lang"), col("predicted_lang"), col("n"),
        round(col("n").cast("double") / col("t").cast("double"), 6).as("share"))
  }

  def textLangidQuality(spark: SparkSession, sfDir: String): DataFrame =
    langidQuality(Tables.documents(spark, sfDir))

  val textLangidQualitySql: String =
    s"""WITH m AS (
       |  SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       |  FROM ($textLangidSql) b GROUP BY 1, 2),
       |t AS (SELECT lang, sum(n) AS t FROM m GROUP BY 1)
       |SELECT m.lang, m.predicted_lang, m.n,
       |       round(CAST(m.n AS DOUBLE) / CAST(t.t AS DOUBLE), 6) AS share
       |FROM m JOIN t ON m.lang = t.lang""".stripMargin

  /** THE composite quality score — the single Scala definition of
    * round(ttr · (1 − short_ratio), 6) over per-doc counts, shared by
    * [[quality]] and the target-set gates ([[qualityKeep]]) so the
    * formula can never fork.
    */
  private def qualityScore(nDistinct: Column, nTokens: Column,
      nShort: Column): Column = {
    val ttr = nDistinct.cast("double") / nTokens.cast("double")
    val shortRatio = nShort.cast("double") / nTokens.cast("double")
    round(ttr * (lit(1.0) - shortRatio), 6)
  }

  /** Quality scoring: token count, type-token ratio, mean token length,
    * short-token ratio, and a composite score — the length/ratio heuristics
    * a pretraining filter runs per document.
    */
  def quality(docs: DataFrame): DataFrame = {
    // All stats computed array-side (higher-order functions inside one
    // codegen'd projection): zero explode, zero shuffle, zero join — the
    // per-document scan cost and nothing else, at any corpus size.
    val stats = docs
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_short",
        size(expr("filter(toks, t -> length(t) <= 2)")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(transform(toks, t -> length(t)), 0L, (acc, v) -> acc + v)"))
    val ttr = col("n_distinct").cast("double") / col("n_tokens").cast("double")
    val shortRatio = col("n_short").cast("double") / col("n_tokens").cast("double")
    stats
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("n_distinct"),
        round(ttr, 6).as("ttr"),
        round(col("sum_len").cast("double") / col("n_tokens").cast("double"), 6)
          .as("avg_token_len"),
        round(shortRatio, 6).as("short_ratio"),
        qualityScore(col("n_distinct"), col("n_tokens"), col("n_short"))
          .as("quality_score"))
  }

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    quality(Tables.documents(spark, sfDir))

  val textQualitySql: String =
    s"""WITH ${Tables.TOK_CTE},
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short,
       |         sum(length(tok)) AS sum_len
       |  FROM tok GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.source, s.n_tokens, s.n_distinct,
       |       round(CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6) AS ttr,
       |       round(CAST(s.sum_len AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6) AS avg_token_len,
       |       round(CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE), 6) AS short_ratio,
       |       round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |             * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6) AS quality_score
       |FROM documents d JOIN stats s ON d.doc_id = s.doc_id""".stripMargin

  /** Token accounting per (lang, source) corpus slice: documents, whitespace
    * tokens, and a BPE-ish estimate (ceil(chars/4) — the standard
    * chars-per-token approximation when no tokenizer ships with the engine).
    */
  def tokenStats(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      col("lang"), col("source"),
      size(split(col("text"), "\\s+")).cast("long").as("n_words"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("est_bpe_tokens"))
    perDoc.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        round(avg(col("n_words").cast("double")), 6).as("avg_words"),
        sum(col("est_bpe_tokens")).as("total_est_bpe"))
  }

  def textTokens(spark: SparkSession, sfDir: String): DataFrame =
    tokenStats(Tables.documents(spark, sfDir))

  val textTokensSql: String =
    """WITH per_doc AS (
      |  SELECT lang, source,
      |         len(string_split_regex(text, '\s+')) AS n_words,
      |         CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS est_bpe_tokens
      |  FROM documents)
      |SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(n_words) AS BIGINT) AS total_words,
      |       round(avg(CAST(n_words AS DOUBLE)), 6) AS avg_words,
      |       CAST(sum(est_bpe_tokens) AS BIGINT) AS total_est_bpe
      |FROM per_doc GROUP BY 1, 2""".stripMargin

  /** Ordered BPE merge table (a demo vocabulary learned over common
    * English pairs — at production scale this is the learned merge list of
    * the target tokenizer, applied unchanged). Each entry merges the
    * symbol pair (x, y) into xy.
    */
  val BPE_MERGES: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
    "e" -> "r", "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n",
    "o" -> "r", "e" -> "s", "s" -> "t", "a" -> "r", "o" -> "u",
    "in" -> "g", "t" -> "o", "i" -> "s", "i" -> "t", "a" -> "l",
    "l" -> "e", "c" -> "h", "s" -> "h", "u" -> "n", "o" -> "f",
    "q" -> "u", "d" -> "e", "s" -> "e", "l" -> "a", "h" -> "e")

  /** SQL expression counting the BPE tokens of a word column: the word is
    * encoded as DOUBLE-pipe-delimited symbols (`||c||a||t||`), each merge
    * rule rewrites `|x||y|` → `|xy|` in one left-to-right non-overlapping
    * replace pass (identical replace semantics in Spark and DuckDB). The
    * surrounding pipes make the pattern match only complete symbols, and
    * the DOUBLING leaves immediately repeated occurrences nothing to
    * share — with single delimiters, `|a|b|a|b|` merges only the first
    * `(a,b)` because the second starts on the consumed middle pipe (the
    * same encoding the trainer uses). Token count: pipes = 2·(symbols+1).
    * `duck` switches capture-group syntax and integer-division spelling.
    */
  private def bpeCountSql(wordExpr: String, duck: Boolean): String = {
    val interspersed =
      if (duck) s"'||' || regexp_replace($wordExpr, '(.)', '\\1||', 'g')"
      else s"'||' || regexp_replace($wordExpr, '(.)', '$$1||')"
    val chain = BPE_MERGES.foldLeft(interspersed) { case (acc, (x, y)) =>
      s"replace($acc, '|$x||$y|', '|$x$y|')"
    }
    val pipes = s"(length($chain) - length(replace($chain, '|', '')))"
    if (duck) s"($pipes // 2 - 1)" else s"($pipes DIV 2 - 1)"
  }

  /** Real BPE token accounting per (lang, source): greedy merge-table
    * tokenization of every whitespace word, rolled up doc-wise then
    * slice-wise (two-level aggregation — no count-distinct shuffle). The
    * per-word merge chain is a fixed cascade of replace() calls inside one
    * codegen'd projection: linear in corpus size, no joins, no UDF.
    */
  def bpeTokenStats(docs: DataFrame): DataFrame = {
    val words = docs.select(col("lang"), col("source"), col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("w"))
    val perDoc = words
      .withColumn("n_toks", expr(bpeCountSql("w", duck = false)).cast("long"))
      .groupBy(col("lang"), col("source"), col("doc_id"))
      .agg(sum(col("n_toks")).as("doc_toks"))
    perDoc.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_toks")).as("bpe_tokens"),
        round(avg(col("doc_toks").cast("double")), 6).as("avg_doc_tokens"))
  }

  def textBpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    bpeTokenStats(Tables.documents(spark, sfDir))

  val textBpeTokensSql: String =
    s"""WITH words AS (
       |  SELECT lang, source, doc_id,
       |         unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents),
       |per_word AS (
       |  SELECT lang, source, doc_id,
       |         CAST(${bpeCountSql("w", duck = true)} AS BIGINT) AS n_toks
       |  FROM words),
       |per_doc AS (
       |  SELECT lang, source, doc_id, CAST(sum(n_toks) AS BIGINT) AS doc_toks
       |  FROM per_word GROUP BY 1, 2, 3)
       |SELECT lang, source, count(*) AS n_docs,
       |       CAST(sum(doc_toks) AS BIGINT) AS bpe_tokens,
       |       round(avg(CAST(doc_toks AS DOUBLE)), 6) AS avg_doc_tokens
       |FROM per_doc GROUP BY 1, 2""".stripMargin

  /** Tokenizer fertility per language — the metric a tokenizer is judged
    * by per language: BPE tokens per whitespace word (fertility; an
    * English-trained merge table fragments other languages into more
    * pieces) and characters per BPE token (compression). High fertility
    * on a language means the token budget buys fewer words there — the
    * number that drives "language X costs 2× the tokens" decisions in
    * mixture planning (cf. [[mixSample]]'s token budget).
    *
    * Shape: the same linear merge-cascade projection as
    * [[bpeTokenStats]] rolled up by language only, joined with a
    * doc-level char/word agg — two hash aggs keyed by language, one
    * languages-sized join, zero windows.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    val words = docs.select(col("lang"),
      explode(split(lower(col("text")), "\\s+")).as("w"))
    val tokSide = words
      .withColumn("n_toks", expr(bpeCountSql("w", duck = false)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_toks")).as("bpe_tokens"))
    val charSide = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
    charSide.join(tokSide, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("bpe_tokens").cast("double"), 6)
          .as("chars_per_token"))
  }

  def textFertility(spark: SparkSession, sfDir: String): DataFrame =
    tokenizerFertility(Tables.documents(spark, sfDir))

  val textFertilitySql: String =
    s"""WITH words AS (
       |  SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
       |  FROM documents),
       |toks AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |         CAST(sum(CAST(${bpeCountSql("w", duck = true)} AS BIGINT)) AS BIGINT) AS bpe_tokens
       |  FROM words GROUP BY 1),
       |chars AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY 1)
       |SELECT c.lang, c.n_docs, t.n_words, t.bpe_tokens,
       |       round(CAST(t.bpe_tokens AS DOUBLE) / CAST(t.n_words AS DOUBLE), 6) AS fertility,
       |       round(CAST(c.n_chars AS DOUBLE) / CAST(t.bpe_tokens AS DOUBLE), 6) AS chars_per_token
       |FROM chars c JOIN toks t ON c.lang = t.lang""".stripMargin

  /** Fixed linear-model weights for [[qualityModel]] — stand-ins for a
    * trained quality classifier's coefficients (at production scale these
    * load from the model artifact and broadcast; the scoring plan is
    * identical).
    */
  val QM_W_TTR = 2.0
  val QM_W_SHORT = -3.0
  val QM_W_AVGLEN = 0.35
  val QM_BIAS = -1.2

  /** Classifier-based quality filtering — the fastText-classifier stage
    * of a pretraining pipeline, as a FIXED linear model over the engine's
    * own quality features: score = sigmoid(w·x + b), keep at ≥ 0.5. A
    * pure projection on top of [[quality]] (zero extra shuffle); inputs
    * are the already-round-pinned feature columns, so both engines feed
    * identical doubles into the one transcendental (exp), and the output
    * is round-pinned again.
    */
  def qualityModel(docs: DataFrame): DataFrame = {
    val z = lit(QM_W_TTR) * col("ttr") +
      lit(QM_W_SHORT) * col("short_ratio") +
      lit(QM_W_AVGLEN) * col("avg_token_len") + lit(QM_BIAS)
    val score = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
    quality(docs).select(col("doc_id"), col("lang"), col("source"),
      score.as("model_score"), (score >= 0.5).as("keep"))
  }

  def textQualityModel(spark: SparkSession, sfDir: String): DataFrame =
    qualityModel(Tables.documents(spark, sfDir))

  val textQualityModelSql: String =
    s"""WITH q AS (
       |$textQualitySql)
       |SELECT doc_id, lang, source,
       |       round(1.0 / (1.0 + exp(-($QM_W_TTR * ttr + ($QM_W_SHORT) * short_ratio
       |                                + $QM_W_AVGLEN * avg_token_len + ($QM_BIAS)))), 6) AS model_score,
       |       round(1.0 / (1.0 + exp(-($QM_W_TTR * ttr + ($QM_W_SHORT) * short_ratio
       |                                + $QM_W_AVGLEN * avg_token_len + ($QM_BIAS)))), 6) >= 0.5 AS keep
       |FROM q""".stripMargin

  /** Learning rate / round count for [[qualityTrain]] — lr is sized for
    * the raw feature scales (avg_token_len² ≈ 30 dominates the GD
    * stability bound lr < 2/λmax ≈ 0.067).
    */
  val QT_LR = 0.05
  val QT_ROUNDS = 5

  /** In-engine training of the quality classifier — completes the
    * [[qualityModel]] story the way `text_bpe_train` completed the
    * tokenizer: instead of shipping pinned weights, DISTILL the
    * heuristic gate (quality_score ≥ [[QUALITY_MIN]]) into a linear
    * model by [[QT_ROUNDS]] gradient-descent rounds over the
    * round-pinned features (the fastText-stage pattern: train a cheap
    * classifier on rule labels). Squared loss, so every training op is
    * +/×/− (correctly rounded in IEEE 754 — no transcendental drift
    * feeding back through rounds); each per-document gradient term is
    * round-pinned and summed as DECIMAL, making the only
    * order-sensitive step exact and partitioning-independent. One
    * aggregation per round over a checkpointed feature frame; weights
    * are 4 driver-held doubles (the k-means pattern). Output: the
    * weight trajectory and entering mean-squared-error per round; the
    * oracle replays the identical rounds as unrolled CTEs.
    */
  def qualityTrain(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val feats = quality(docs)
      .select(col("ttr"), col("short_ratio"), col("avg_token_len"),
        when(col("quality_score") >= QUALITY_MIN, 1.0).otherwise(0.0).as("y"))
      .localCheckpoint()
    def dec(c: Column) = sum(round(c, 9).cast("decimal(28,9)"))
    var w = Array(0.0, 0.0, 0.0, 0.0) // ttr, short_ratio, avg_token_len, bias
    val rows = Seq.newBuilder[(Long, Double, Double, Double, Double, Double)]
    for (r <- 1 to QT_ROUNDS) {
      val res = lit(w(0)) * col("ttr") + lit(w(1)) * col("short_ratio") +
        lit(w(2)) * col("avg_token_len") + lit(w(3)) - col("y")
      val g = feats.agg(
        count(lit(1)).as("n"),
        dec(res * col("ttr")).as("gt"),
        dec(res * col("short_ratio")).as("gs"),
        dec(res * col("avg_token_len")).as("ga"),
        dec(res).as("gb"),
        dec(res * res).as("sse")).head()
      val n = g.getLong(0).toDouble
      def gd(i: Int) = g.getDecimal(i).doubleValue
      val mse = gd(5) / n
      w = Array(
        w(0) - QT_LR * (gd(1) / n), w(1) - QT_LR * (gd(2) / n),
        w(2) - QT_LR * (gd(3) / n), w(3) - QT_LR * (gd(4) / n))
      rows += ((r.toLong, w(0), w(1), w(2), w(3), mse))
    }
    rows.result()
      .toDF("round", "w_ttr", "w_short", "w_avglen", "bias", "mse")
      .select(col("round"),
        round(col("w_ttr"), 6).as("w_ttr"),
        round(col("w_short"), 6).as("w_short"),
        round(col("w_avglen"), 6).as("w_avglen"),
        round(col("bias"), 6).as("bias"),
        round(col("mse"), 6).as("mse"))
  }

  def textQualityTrain(spark: SparkSession, sfDir: String): DataFrame =
    FitStore.frame(spark, "quality_train", FitStore.documentsFp(spark, sfDir, None)) {
      qualityTrain(Tables.documents(spark, sfDir))
    }

  val textQualityTrainSql: String = {
    def dsum(e: String) =
      s"CAST(sum(CAST(round($e, 9) AS DECIMAL(28,9))) AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= s"WITH q AS (\n$textQualitySql),\n"
    sb ++= ("f AS (SELECT ttr, short_ratio, avg_token_len,\n" +
      s"  CASE WHEN quality_score >= $QUALITY_MIN THEN 1.0 ELSE 0.0 END AS y FROM q),\n")
    sb ++= ("w0 AS (SELECT CAST(0.0 AS DOUBLE) AS wt, CAST(0.0 AS DOUBLE) AS ws,\n" +
      "  CAST(0.0 AS DOUBLE) AS wa, CAST(0.0 AS DOUBLE) AS wb,\n" +
      "  CAST(0.0 AS DOUBLE) AS mse),\n")
    for (r <- 1 to QT_ROUNDS) {
      val p = s"w${r - 1}"
      val res =
        s"($p.wt * f.ttr + $p.ws * f.short_ratio + $p.wa * f.avg_token_len + $p.wb - f.y)"
      sb ++= s"""g$r AS (
                |  SELECT CAST(count(*) AS DOUBLE) AS n,
                |         ${dsum(s"$res * f.ttr")} AS gt,
                |         ${dsum(s"$res * f.short_ratio")} AS gs,
                |         ${dsum(s"$res * f.avg_token_len")} AS ga,
                |         ${dsum(res)} AS gb,
                |         ${dsum(s"$res * $res")} AS sse
                |  FROM f, $p),
                |w$r AS (
                |  SELECT $p.wt - $QT_LR * (g$r.gt / g$r.n) AS wt,
                |         $p.ws - $QT_LR * (g$r.gs / g$r.n) AS ws,
                |         $p.wa - $QT_LR * (g$r.ga / g$r.n) AS wa,
                |         $p.wb - $QT_LR * (g$r.gb / g$r.n) AS wb,
                |         g$r.sse / g$r.n AS mse
                |  FROM g$r, $p),
                |""".stripMargin
    }
    sb.setLength(sb.length - 2) // drop the trailing ",\n"
    sb ++= "\n"
    sb ++= (1 to QT_ROUNDS).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, round(wt, 6) AS w_ttr,
         |       round(ws, 6) AS w_short, round(wa, 6) AS w_avglen,
         |       round(wb, 6) AS bias, round(mse, 6) AS mse
         |FROM w$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.toString
  }

  /** Bigram-LM surprise scoring: score(doc) = mean(−ln p(cur | prev))
    * with the conditional from the corpus's own bigram/context counts —
    * the next rung of the perplexity-filter ladder after
    * [[unigramLogprob]] (a token stream can be unigram-plausible yet
    * bigram-impossible: shuffled text, interleaved documents). Bigrams
    * are built array-side (one projection, no positional self-join);
    * the count tables scale with DISTINCT bigrams (vocabulary², not
    * corpus) and join broadcast-friendly.
    */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val bg = Tables.bigrams(docs)
    val cb = bg.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c"))
    val cp = cb.groupBy(col("prev")).agg(sum(col("c")).as("n"))
    bg.join(cb, Seq("prev", "cur"))
      .join(cp, Seq("prev"))
      .withColumn("neg_lp", -log(col("c").cast("double") / col("n").cast("double")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("neg_lp")), 6).as("avg_neg_logprob"))
  }

  def textBigramLogprob(spark: SparkSession, sfDir: String): DataFrame =
    bigramLogprob(Tables.documents(spark, sfDir))

  val textBigramLogprobSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |bg AS (
       |  SELECT a.doc_id, a.tok AS prev, b.tok AS cur
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |cb AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
       |cp AS (SELECT prev, CAST(sum(c) AS BIGINT) AS n FROM cb GROUP BY 1)
       |SELECT g.doc_id, count(*) AS n_bigrams,
       |       round(avg(-ln(CAST(cb.c AS DOUBLE) / CAST(cp.n AS DOUBLE))), 6) AS avg_neg_logprob
       |FROM bg g
       |JOIN cb ON g.prev = cb.prev AND g.cur = cb.cur
       |JOIN cp ON g.prev = cp.prev
       |GROUP BY 1""".stripMargin

  /** Stupid Backoff discount (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the web-scale LM smoothing that
    * needs no held-out tuning).
    */
  val BACKOFF_ALPHA = 0.4

  /** Stupid-Backoff bigram scoring against a TARGET-slice LM — the
    * CCNet shape done honestly: the LM trains on the high-quality
    * English slice (same target set as [[dsirModel]]), and EVERY
    * document scores against it, so unseen bigrams genuinely occur and
    * back off (score = c(prev,cur)/c(prev) if the bigram is in the LM,
    * else α·c(cur)/N, else the α/N OOV floor) — unlike
    * [[bigramLogprob]], whose self-trained LM can never see a novel
    * pair. Per doc: mean −ln p, plus how many pairs backed off and how
    * many hit the OOV floor (the "how far is this doc from the target
    * LM" diagnostics a filter threshold is tuned on).
    *
    * Scale shape: both LM tables are vocab-sized (broadcast below; at a
    * vocabulary too big to broadcast they become shuffle joins on the
    * token key — still linear); scoring is the doc-bigram stream joined
    * twice + one per-doc aggregation, the [[unigramLogprob]] plan with
    * one more probe.
    */
  def backoffLogprob(docs: DataFrame): DataFrame = {
    val tgt = docs.filter(col("lang") === "en" && qualityKeep)
    // vocab-sized LM tables, checkpointed once: uni fans into the total
    // and TWO probe joins, cb into one — without the checkpoint every
    // consumer re-tokenizes the target slice; the two builds are
    // independent, so overlap them (guide §2.6)
    val lm = Overlap.all(Seq(
      () => Tables.tokens(tgt)
        .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        .localCheckpoint(),
      () => Tables.bigrams(tgt)
        .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
        .localCheckpoint()), Overlap.DEFAULT_CAP)
    val (uni, bigrams) = (lm(0), lm(1))
    val nTot = uni.agg(sum(col("cu")).as("n_tot"))
    val docBg = Tables.bigrams(docs)
    val scored = docBg
      .join(broadcast(bigrams), Seq("prev", "cur"), "left_outer")
      .join(broadcast(uni.select(col("tok").as("prev"), col("cu").as("cu_prev"))),
        Seq("prev"), "left_outer")
      .join(broadcast(uni.select(col("tok").as("cur"), col("cu").as("cu_cur"))),
        Seq("cur"), "left_outer")
      .crossJoin(broadcast(nTot))
      .withColumn("p",
        when(col("cb").isNotNull,
          col("cb").cast("double") / col("cu_prev").cast("double"))
          .when(col("cu_cur").isNotNull,
            lit(BACKOFF_ALPHA) * col("cu_cur").cast("double") / col("n_tot").cast("double"))
          .otherwise(lit(BACKOFF_ALPHA) / col("n_tot").cast("double")))
      .withColumn("backed_off", col("cb").isNull)
      .withColumn("oov", col("cb").isNull && col("cu_cur").isNull)
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("backed_off"), 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        round(avg(-log(col("p"))), 6).as("avg_neg_logprob"))
  }

  def textBackoffLogprob(spark: SparkSession, sfDir: String): DataFrame =
    backoffLogprob(Tables.documents(spark, sfDir))

  val textBackoffLogprobSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |tgt_ids AS (
       |  SELECT d.doc_id FROM documents d JOIN stats s ON d.doc_id = s.doc_id
       |  WHERE d.lang = 'en'
       |    AND round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |          * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |        >= $QUALITY_MIN),
       |uni AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM tok
       |  WHERE doc_id IN (SELECT doc_id FROM tgt_ids) GROUP BY 1),
       |nt AS (SELECT CAST(sum(cu) AS BIGINT) AS n_tot FROM uni),
       |bg_all AS (
       |  SELECT a.doc_id, a.tok AS prev, b.tok AS cur
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |cb AS (
       |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb FROM bg_all
       |  WHERE doc_id IN (SELECT doc_id FROM tgt_ids) GROUP BY 1, 2),
       |p AS (
       |  SELECT g.doc_id,
       |         cb.cb IS NULL AS backed_off,
       |         cb.cb IS NULL AND uc.cu IS NULL AS oov,
       |         CASE
       |           WHEN cb.cb IS NOT NULL
       |             THEN CAST(cb.cb AS DOUBLE) / CAST(up.cu AS DOUBLE)
       |           WHEN uc.cu IS NOT NULL
       |             THEN $BACKOFF_ALPHA * CAST(uc.cu AS DOUBLE) / CAST(nt.n_tot AS DOUBLE)
       |           ELSE $BACKOFF_ALPHA / CAST(nt.n_tot AS DOUBLE)
       |         END AS p
       |  FROM bg_all g
       |  LEFT JOIN cb ON g.prev = cb.prev AND g.cur = cb.cur
       |  LEFT JOIN uni up ON g.prev = up.tok
       |  LEFT JOIN uni uc ON g.cur = uc.tok, nt)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       CAST(sum(CASE WHEN backed_off THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       |       CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       round(avg(-ln(p)), 6) AS avg_neg_logprob
       |FROM p GROUP BY 1""".stripMargin

  /** Unigram log-probability scoring — the perplexity-filter shape of LM
    * quality filtering, with the LM being the corpus's own unigram
    * distribution: score(doc) = mean(−ln p(tok)), p from corpus token
    * frequencies. Two hash aggregations + one broadcast-friendly join of
    * the frequency table; the corpus total rides along as a literal-sized
    * singleton cross join. High scores = improbable token streams (noise,
    * boilerplate, other-language text); at production scale the frequency
    * table comes from a reference corpus instead of self-training.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val toks = Tables.tokens(docs)
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freqs.agg(sum(col("cnt")).as("total"))
    val scored = toks
      .join(freqs, Seq("tok"))
      .crossJoin(broadcast(total))
      .withColumn("neg_lp", -log(col("cnt").cast("double") / col("total").cast("double")))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("neg_lp")), 6).as("avg_neg_logprob"))
  }

  def textUnigramLogprob(spark: SparkSession, sfDir: String): DataFrame =
    unigramLogprob(Tables.documents(spark, sfDir))

  val textUnigramLogprobSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |freqs AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freqs)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |       round(avg(-ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))), 6) AS avg_neg_logprob
       |FROM tok t JOIN freqs f ON t.tok = f.tok, tot
       |GROUP BY 1""".stripMargin

  /** Repetition statistics per document (the Gopher-style repetition
    * filter): duplicate-3-gram fraction and top-3-gram fraction over RAW
    * (multiplicity-preserving) shingles, plus a keep flag at dup_ratio ≤
    * 0.2. The ratios are exact integer divisions, so both engines agree
    * bit-for-bit.
    *
    * Computed ARRAY-SIDE: the 3-gram multiset statistics come from one
    * hash-map walk per document ([[graft.functions.NgramStats]]) inside a
    * codegen'd projection — zero shuffle, versus the exploded formulation
    * (the full shingle stream shuffled on (doc_id, shingle) twice) the
    * oracle still states the semantics with.
    */
  val MAX_DUP_3GRAM_RATIO = 0.2

  def repetitionStats(docs: DataFrame): DataFrame = {
    val dupRatio = lit(1.0) -
      col("distinct_3grams").cast("double") / col("total_3grams").cast("double")
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.ngramStats(col("toks")).as("s"))
      .select(col("doc_id"), col("s.total_3grams").as("total_3grams"),
        col("s.distinct_3grams").as("distinct_3grams"),
        col("s.top_count").as("top_count"))
      .select(col("doc_id"), col("total_3grams"), col("distinct_3grams"),
        round(dupRatio, 6).as("dup_ratio"),
        round(col("top_count").cast("double") / col("total_3grams").cast("double"), 6)
          .as("top_ratio"),
        (dupRatio <= MAX_DUP_3GRAM_RATIO).as("keep"))
  }

  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionStats(Tables.documents(spark, sfDir))

  val textRepetitionSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_RAW_CTE},
       |counts AS (
       |  SELECT doc_id, shingle, count(*) AS c FROM shr GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_3grams,
       |         count(*) AS distinct_3grams, max(c) AS top_count
       |  FROM counts GROUP BY 1)
       |SELECT doc_id, total_3grams, distinct_3grams,
       |       round(CAST(1 AS DOUBLE) - CAST(distinct_3grams AS DOUBLE) / CAST(total_3grams AS DOUBLE), 6) AS dup_ratio,
       |       round(CAST(top_count AS DOUBLE) / CAST(total_3grams AS DOUBLE), 6) AS top_ratio,
       |       (CAST(1 AS DOUBLE) - CAST(distinct_3grams AS DOUBLE) / CAST(total_3grams AS DOUBLE)) <= $MAX_DUP_3GRAM_RATIO AS keep
       |FROM per_doc""".stripMargin

  /** Top [[TFIDF_TOP_K]] terms per document by tf·idf — keyword extraction
    * for corpus exploration and topic tagging. tf = in-document term count,
    * idf = ln(N / document-frequency); ranking happens on the ROUNDED score
    * with a term tie-break so both engines rank identically. Shapes: two
    * hash aggregations (tf, then df over the tf table — distinct-free),
    * one vocabulary-sized join (broadcastable at any corpus size), a
    * 1-row corpus count riding along broadcast, and a per-document top-k
    * window. The frequency side scales with VOCABULARY, not corpus.
    */
  val TFIDF_TOP_K = 3

  def tfidfTopTerms(docs: DataFrame): DataFrame = {
    val tf = Tables.tokens(docs)
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf") * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("tok"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TFIDF_TOP_K)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("tfidf"),
        col("rnk").cast("long").as("rnk"))
  }

  def textTfidf(spark: SparkSession, sfDir: String): DataFrame =
    tfidfTopTerms(Tables.documents(spark, sfDir))

  val textTfidfSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT t.doc_id, t.tok, t.tf, d.df,
       |         round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS tfidf
       |  FROM tf t JOIN dfq d ON t.tok = d.tok, nd n),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY tfidf DESC, tok) AS rnk
       |  FROM scored)
       |SELECT doc_id, tok, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $TFIDF_TOP_K""".stripMargin

  // --------------------------------------------------------------------
  // BM25 retrieval
  // --------------------------------------------------------------------

  /** Okapi BM25 constants (the textbook defaults) and the query/result
    * sizing for the retrieval query: the first [[BM25_N_QUERIES]]
    * documents act as queries (their distinct tokens are the query
    * terms), each retrieving its top-[[BM25_TOP_K]] other documents.
    */
  val BM25_K1 = 1.2
  val BM25_B = 0.75
  val BM25_N_QUERIES = 3
  val BM25_TOP_K = 5

  /** BM25 sparse retrieval — the lexical counterpart of the dense
    * `simsearch_topk`: score(q, d) = Σ_{t ∈ q ∩ d} idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)), with the Lucene
    * always-positive idf = ln((N − df + ½)/(df + ½) + 1). Every modern
    * data pipeline keeps a lexical retriever next to the embedding one
    * (hybrid retrieval, hard-negative mining for dense training, eval
    * lookup), and BM25 is that retriever.
    *
    * Scale shape — the inverted-index join, not a pairwise scan: query
    * terms (a fixed, small query set) broadcast against the (doc, term,
    * tf) posting table, so candidates are bounded by postings of query
    * terms, never corpus². df and doc-length sides are vocabulary- and
    * corpus-keyed hash aggs; N and avgdl ride along as a broadcast 1-row
    * frame; ranking is a per-query top-k window over the candidate list.
    * Ranking compares the ROUNDED score with a doc tie-break so both
    * engines order identically.
    */
  /** The (doc_id, tok, tf) postings — THE inverted index of the BM25
    * family; memoized per session and persisted per corpus (FitStore
    * artifact `bm25_postings`): a retrieval deployment builds postings
    * once per corpus snapshot and serves every query wave from the
    * store — the same lifecycle the fitted models get, at index scale
    * (corpus-linear like the standing cluster assignment, written once,
    * loaded by fingerprint key).
    */
  private def bm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"bm25_postings:$sfDir") {
      FitStore.frame(spark, "bm25_postings",
        FitStore.documentsFp(spark, sfDir, None)) {
        termFreqs(Tables.documents(spark, sfDir))
      }.localCheckpoint()
    }

  /** The (doc_id, tok, tf) postings of `docs` — what [[bm25TopK]] scores. */
  def termFreqs(docs: DataFrame): DataFrame =
    Tables.tokens(docs).groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))

  /** BM25 top-`k` of the first `nQueries` documents against `docs`, scored
    * on its [[termFreqs]] postings `tf`.
    */
  def bm25TopK(docs: DataFrame, nQueries: Int, k: Int, tf: DataFrame): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = broadcast(
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg(avg(col("dl").cast("double")).as("avgdl"))))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("tok"))
    val idf = log(
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = col("tf").cast("double") * (lit(BM25_K1) + 1.0) /
      (col("tf").cast("double") +
        lit(BM25_K1) * (lit(1.0 - BM25_B) + lit(BM25_B) * col("dl").cast("double") / col("avgdl")))
    val scored = broadcast(qterms).join(tf, Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfreq, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), round(sum(idf * tfNorm), 6).as("bm25"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("bm25").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("n_terms"), col("bm25"),
        col("rnk").cast("long").as("rnk"))
  }

  def textBm25(spark: SparkSession, sfDir: String): DataFrame =
    bm25TopK(Tables.documents(spark, sfDir), BM25_N_QUERIES, BM25_TOP_K,
      bm25Postings(spark, sfDir))

  /** Incremental maintenance of the BM25 index: the STANDING postings
    * (even doc_ids — the already-indexed corpus, in production loaded
    * from the [[bm25Postings]] store) absorb an arriving batch (odd
    * doc_ids) WITHOUT re-tokenizing the standing half — postings of
    * disjoint doc sets merge by plain union (the inverted index is
    * doc-additive), and the corpus statistics (n_docs, avgdl, df) are
    * re-derived from the merged index by one aggregation, O(index) not
    * O(re-tokenize). Completes the index lifecycle next to the
    * persistence half: build once ([[bm25Postings]]), extend by
    * arrivals (here), serve. Scoring on the merged index must equal the
    * cold full build exactly — the query shares `text_bm25`'s oracle.
    */
  def textBm25Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val standing = termFreqs(docs.filter(col("doc_id") % 2 === 0))
    val arriving = termFreqs(docs.filter(col("doc_id") % 2 === 1))
    bm25TopK(docs, BM25_N_QUERIES, BM25_TOP_K,
      standing.unionByName(arriving).localCheckpoint())
  }

  val textBm25Sql: String =
    s"""WITH ${Tables.TOK_CTE},
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       |              (SELECT avg(CAST(dl AS DOUBLE)) FROM dl) AS avgdl),
       |qt AS (SELECT doc_id AS q_id, tok FROM tf WHERE doc_id < $BM25_N_QUERIES),
       |scored AS (
       |  SELECT q.q_id, t.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |         round(sum(
       |           ln((CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
       |           * (CAST(t.tf AS DOUBLE) * (1.0 + $BM25_K1)
       |              / (CAST(t.tf AS DOUBLE)
       |                 + $BM25_K1 * (${1.0 - BM25_B} + $BM25_B * CAST(l.dl AS DOUBLE) / s.avgdl)))), 6) AS bm25
       |  FROM qt q
       |  JOIN tf t ON q.tok = t.tok AND t.doc_id <> q.q_id
       |  JOIN dfq f ON t.tok = f.tok
       |  JOIN dl l ON t.doc_id = l.doc_id, st s
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY bm25 DESC, doc_id) AS rnk
       |  FROM scored)
       |SELECT q_id, doc_id, n_terms, bm25, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $BM25_TOP_K""".stripMargin

  /** PII scrubbing: redact email addresses, then standalone long digit
    * runs (≥9 digits — phone/account numbers), and report counts plus the
    * scrubbed text's fingerprint and length. Redaction order matters
    * (emails contain digits); patterns stay in the RE2 ∩ java.util.regex
    * common subset so Spark and DuckDB match identically. One codegen'd
    * projection — no shuffle.
    */
  val EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val LONGNUM_RE = "[0-9]{9,}"

  def piiScrub(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val noEmail = regexp_replace(lowered, EMAIL_RE, "<email>")
    val scrubbed = regexp_replace(noEmail, LONGNUM_RE, "<number>")
    docs.select(col("doc_id"),
      regexp_count(lowered, lit(EMAIL_RE)).cast("long").as("n_emails"),
      regexp_count(noEmail, lit(LONGNUM_RE)).cast("long").as("n_long_numbers"),
      length(scrubbed).cast("long").as("scrubbed_len"),
      md5(scrubbed).as("scrubbed_fp"))
  }

  def textPiiScrub(spark: SparkSession, sfDir: String): DataFrame =
    piiScrub(Tables.documents(spark, sfDir))

  val textPiiScrubSql: String =
    s"""WITH s1 AS (
       |  SELECT doc_id, lower(text) AS t,
       |         regexp_replace(lower(text), '$EMAIL_RE', '<email>', 'g') AS t1
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(t, '$EMAIL_RE')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(t1, '$LONGNUM_RE')) AS BIGINT) AS n_long_numbers,
       |       CAST(length(regexp_replace(t1, '$LONGNUM_RE', '<number>', 'g')) AS BIGINT) AS scrubbed_len,
       |       md5(regexp_replace(t1, '$LONGNUM_RE', '<number>', 'g')) AS scrubbed_fp
       |FROM s1""".stripMargin

  /** Term blocklist for the safety-filter gate — fixture stand-ins for a
    * real unsafe-content list (which at production scale broadcasts from
    * a policy artifact; the scoring plan is identical).
    */
  val BLOCKLIST: Seq[String] = Seq("slow", "dup")

  /** Blocklist incidence — the safety-filter stage next to [[piiScrub]]:
    * per (lang, source), how many documents contain a blocklisted term,
    * the total hit count, and the flag rate. The per-document hit count
    * is an array-side lambda over the token split (one codegen'd
    * projection, zero shuffle — the same discipline as the quality
    * scorer); the rollup is one hash agg keyed by slice. Per-source
    * rates, not just per-doc flags, because safety review happens at
    * the feed level: a 40%-flagged source gets dropped, not trimmed.
    */
  def blocklistStats(docs: DataFrame): DataFrame = {
    val inList = BLOCKLIST.map(w => s"'$w'").mkString("(", ", ", ")")
    val hits = docs.select(col("lang"), col("source"),
      expr(s"size(filter(split(lower(text), '\\\\s+'), x -> x IN $inList))")
        .cast("long").as("hits"))
    hits.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("flagged_docs"),
        sum(col("hits")).as("total_hits"))
      .select(col("lang"), col("source"), col("n_docs"), col("flagged_docs"),
        col("total_hits"),
        round(col("flagged_docs").cast("double") / col("n_docs").cast("double"), 6)
          .as("flag_rate"))
  }

  def textBlocklist(spark: SparkSession, sfDir: String): DataFrame =
    blocklistStats(Tables.documents(spark, sfDir))

  val textBlocklistSql: String = {
    val inList = BLOCKLIST.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH h AS (
       |  SELECT lang, source,
       |         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |                              x -> x IN $inList)) AS BIGINT) AS hits
       |  FROM documents)
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
       |       CAST(sum(hits) AS BIGINT) AS total_hits,
       |       round(CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS flag_rate
       |FROM h GROUP BY 1, 2""".stripMargin
  }

  /** Deterministic hash sampling rate, percent. */
  val SAMPLE_PCT = 20

  /** Consistent [[SAMPLE_PCT]]% document sample via a content-stable hash
    * bucket: keep a document iff its md5(doc_id)-derived bucket falls
    * under the rate. This is how sampling works at 100 TB — `rand()` is
    * neither repeatable across runs nor consistent across tables, while a
    * key hash gives the SAME sample every run and, applied to a shared
    * key, samples consistently across joined tables (the same users
    * everywhere). One codegen'd projection, zero shuffle; the oracle
    * replays the identical md5 arithmetic, so the sampled id set is
    * bit-identical across engines.
    */
  def hashSample(docs: DataFrame): DataFrame = {
    val bucket = md5Bucket(col("doc_id")) % 100
    docs.select(col("doc_id"), col("lang"), col("source"), bucket.as("bucket"))
      .filter(col("bucket") < SAMPLE_PCT)
  }

  def textSample(spark: SparkSession, sfDir: String): DataFrame =
    hashSample(Tables.documents(spark, sfDir))

  val textSampleSql: String =
    s"""SELECT doc_id, lang, source,
       |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
       |FROM documents
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < $SAMPLE_PCT""".stripMargin

  /** Per-stratum sample size for [[stratifiedSample]]. */
  val STRAT_K = 2

  /** Deterministic stratified sampling: the [[STRAT_K]] documents with the
    * smallest md5(doc_id) per (lang, source) stratum — balanced eval-set
    * carving that is repeatable across runs and engines (hash order, not
    * rand()). Per-group top-k plans as WindowGroupLimit: each group keeps
    * k rows map-side before the shuffle, so the window never sorts a full
    * stratum.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val hk = md5(col("doc_id").cast("string"))
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(hk, col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= STRAT_K)
      .select(col("doc_id"), col("lang"), col("source"), col("rk").cast("long").as("rk"))
  }

  def textSampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, sfDir))

  val textSampleStratifiedSql: String =
    s"""SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT doc_id, lang, source,
       |         row_number() OVER (PARTITION BY lang, source
       |                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $STRAT_K""".stripMargin

  /** Document fingerprinting: (a) a canonical content fingerprint — md5 of
    * the sorted distinct token set (catches shuffled/reordered copies that
    * exact dedup misses); (b) a winnowing-style min-shingle fingerprint —
    * the minimum rolling 3-gram hash, the classic MOSS/rolling-hash sketch.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val content = Tables.tokens(docs)
      .select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("doc_id"))
      .agg(md5(concat_ws(" ", array_sort(collect_list(col("tok"))))).as("content_fp"))
    val minShingle = Tables.shingles(docs)
      .groupBy(col("doc_id"))
      .agg(min(md5(col("shingle"))).as("min_shingle_fp"))
    content.join(minShingle, Seq("doc_id"))
  }

  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    fingerprints(Tables.documents(spark, sfDir))

  /** The full corpus-preparation pipeline, composed from the engine's own
    * operators: exact-dedup survivors (LEFT SEMI on keep ids) minus
    * near-duplicates (LEFT ANTI on the Jaccard pairs' later doc) minus
    * low-quality documents, rolled up per (lang, source). What a user runs
    * before tokenizing a pretraining shard.
    */
  def corpusFilter(docs: DataFrame): DataFrame =
    filterFrom(assemblyFlags(docs))

  /** The exact+near-dedup and quality gates only (no decontam/domain/mix
    * stages — this is the early-pipeline pre-filter report).
    */
  private def filterFrom(flags: DataFrame): DataFrame =
    flags.filter(col("is_keeper").isNotNull && col("is_loser").isNull &&
        col("quality_score") >= QUALITY_MIN)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))

  def textCorpusFilter(spark: SparkSession, sfDir: String): DataFrame =
    filterFrom(sharedFlags(spark, sfDir))

  val textCorpusFilterSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |keep AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |        FROM documents) GROUP BY fp),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |losers AS (
       |  SELECT DISTINCT i.d2 AS doc_id
       |  FROM inter i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= ${Dedup.JACCARD_THRESHOLD}),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.lang, d.source, s.n_tokens,
       |         round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |           * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6) AS score
       |  FROM documents d JOIN stats s ON d.doc_id = s.doc_id)
       |SELECT sc.lang, sc.source, count(*) AS kept_docs, CAST(sum(sc.n_tokens) AS BIGINT) AS kept_tokens
       |FROM scored sc
       |WHERE sc.doc_id IN (SELECT doc_id FROM keep)
       |  AND sc.doc_id NOT IN (SELECT doc_id FROM losers)
       |  AND sc.score >= $QUALITY_MIN
       |GROUP BY 1, 2""".stripMargin

  val textFingerprintSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |content AS (
       |  SELECT doc_id, md5(string_agg(DISTINCT tok, ' ' ORDER BY tok)) AS content_fp
       |  FROM tok GROUP BY 1),
       |ms AS (
       |  SELECT doc_id, min(md5(shingle)) AS min_shingle_fp
       |  FROM sh GROUP BY 1)
       |SELECT c.doc_id, c.content_fp, ms.min_shingle_fp
       |FROM content c JOIN ms ON c.doc_id = ms.doc_id""".stripMargin

  /** Lexical-entropy quality signals: per-document word-distribution
    * Shannon entropy (nats) and type-token ratio. Low entropy or low TTR
    * flags keyword-stuffed / template / repeated-phrase documents — the
    * distribution-level complement of the n-gram repetition ratios
    * ([[repetitionStats]] counts repeated PHRASES; entropy measures the
    * whole unigram distribution's concentration).
    *
    * Shape: ONE codegen'd projection — the `tok_entropy` kernel walks
    * each document's token array and returns (n, types, Σ c·ln c) with
    * no explode and zero shuffle (the exploded formulation moves the
    * whole token stream across the cluster just to re-group on doc_id).
    * The entropy uses the algebraic form H = ln n − (Σ c·ln c)/n so each
    * term is computed from integer counts (no per-term division); the
    * oracle keeps the exploded two-agg spelling — same multiset of
    * terms, round(6) pins the float sum's order sensitivity.
    */
  def lexicalEntropy(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        TextFunctions.tokEntropy(split(col("text"), "\\s+")).as("e"))
      .select(col("doc_id"),
        col("e.n_tokens").as("n_tokens"),
        col("e.n_types").as("n_types"),
        round(col("e.n_types").cast("double") /
          col("e.n_tokens").cast("double"), 6).as("ttr"),
        round(log(col("e.n_tokens").cast("double")) -
          col("e.sum_clnc") / col("e.n_tokens").cast("double"), 6).as("entropy_nats"))
  }

  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    lexicalEntropy(Tables.documents(spark, sfDir))

  val textEntropySql: String =
    s"""WITH ${Tables.TOK_CTE},
       |tf AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2)
       |SELECT doc_id,
       |       CAST(sum(c) AS BIGINT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS n_types,
       |       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
       |       round(ln(CAST(sum(c) AS DOUBLE))
       |             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
       |               / CAST(sum(c) AS DOUBLE), 6) AS entropy_nats
       |FROM tf GROUP BY 1""".stripMargin

  /** Windowed co-occurrence with pointwise mutual information — the
    * distributional statistic behind embedding-training data prep
    * (word2vec-style skip-gram counts) and collocation mining. Pairs
    * are word co-occurrences within a ≤[[COOC_WINDOW]]-token forward
    * window, canonicalized unordered (PMI is symmetric); the report is
    * the top-20 pairs by PMI among those seen ≥[[COOC_MIN_COUNT]]
    * times (the standard min-count gate — PMI is noise for rare pairs).
    *
    * Shape: pair extraction is ARRAY-SIDE (one `transform` over each
    * document's token array — zero shuffle, like the shingle builder);
    * then two hash aggs (pair counts, unigram counts), a broadcast of
    * the 1-row corpus totals, and a TakeOrderedAndProject top-k over
    * the aggregated ≥min-count pair vocabulary — never the corpus. PMI =
    * ln(c_xy·N_tok²/(N_pair·c_x·c_y)) is computed from integer counts
    * in one spelling on both engines and round-pinned before ranking.
    */
  val COOC_WINDOW = 2
  val COOC_MIN_COUNT = 5L
  val COOC_TOP = 20

  def coocPmi(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    // ordered forward pairs (i, i+g) for g in 1..COOC_WINDOW, canonicalized
    val pairs = toks
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, size(toks) - 1),
           |  i -> transform(sequence(i + 1, least(i + $COOC_WINDOW, size(toks))),
           |    j -> struct(least(element_at(toks, i), element_at(toks, j)) AS x,
           |                greatest(element_at(toks, i), element_at(toks, j)) AS y))))"""
          .stripMargin)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    // raw pair counts fan into the min-count survivors AND the corpus
    // pair total; unigram counts fan into both pair-side joins and the
    // token total — checkpoint each so its pass runs once, and overlap
    // the two independent builds (guide §2.6)
    val cnt = Overlap.all(Seq(
      () => pairs.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).cast("long").as("c_xy"))
        .localCheckpoint(),
      () => Tables.tokens(docs).groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("c"))
        .localCheckpoint()), Overlap.DEFAULT_CAP)
    val (pc0, uni) = (cnt(0), cnt(1))
    val pairCounts = pc0.filter(col("c_xy") >= COOC_MIN_COUNT)
    val nPair = pc0.agg(sum(col("c_xy")).cast("double").as("n_pair"))
    val nTok = uni.agg(sum(col("c")).cast("double").as("n_tok"))
    val scored = pairCounts
      .join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nPair))
      .select(col("x"), col("y"), col("c_xy"),
        round(log(col("c_xy").cast("double") * col("n_tok") * col("n_tok") /
          (col("n_pair") * col("c_x").cast("double") * col("c_y").cast("double"))), 6)
          .as("pmi"))
    // global top-k via orderBy().limit() = TakeOrderedAndProject
    // (per-partition heaps); the rank window then runs over ≤ COOC_TOP rows
    val top = scored.orderBy(col("pmi").desc, col("x"), col("y")).limit(COOC_TOP)
    top.withColumn("rnk",
      row_number().over(Window.orderBy(col("pmi").desc, col("x"), col("y"))))
  }

  def textCoocPmi(spark: SparkSession, sfDir: String): DataFrame =
    coocPmi(Tables.documents(spark, sfDir))

  val textCoocPmiSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |pr AS (
       |  SELECT least(a.tok, b.tok) AS x, greatest(a.tok, b.tok) AS y
       |  FROM tok a JOIN tok b
       |    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + $COOC_WINDOW),
       |pc0 AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM pr GROUP BY 1, 2),
       |pc AS (SELECT * FROM pc0 WHERE c_xy >= $COOC_MIN_COUNT),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       |nt AS (SELECT CAST(sum(c) AS DOUBLE) AS n_tok FROM uni),
       |np AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n_pair FROM pc0),
       |scored AS (
       |  SELECT p.x, p.y, p.c_xy,
       |         round(ln(CAST(p.c_xy AS DOUBLE) * nt.n_tok * nt.n_tok /
       |                  (np.n_pair * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))), 6) AS pmi
       |  FROM pc p
       |  JOIN uni ux ON p.x = ux.tok
       |  JOIN uni uy ON p.y = uy.tok, nt, np),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY pmi DESC, x, y) AS rnk FROM scored)
       |SELECT x, y, c_xy, pmi, rnk FROM ranked WHERE rnk <= $COOC_TOP""".stripMargin

  /** Duplicated-n-gram coverage: the fraction of each document's
    * distinct 3-gram shingles that occur in at least one OTHER document
    * — the per-document "how much of me is boilerplate" number
    * (RefinedWeb's dup-n-gram coverage metric), read next to the
    * repetition ratios (which measure WITHIN-doc repeats). The
    * per-document distinct-shingle sets come from the `shingle_hashes`
    * kernel (one codegen pass, no explode+distinct shuffle); the only
    * corpus-wide movement is the document-frequency count and the join
    * back — both over 8-byte hash rows, not shingle strings. The oracle
    * intersects the shingle STRINGS (hashes are engine-internal and
    * injective, ~D²/2⁶⁵ collision odds).
    */
  def dupCoverage(docs: DataFrame): DataFrame = {
    val ex = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(TextFunctions.shingleHashes(col("toks"))).as("h"))
      .localCheckpoint() // fans into the DF count and the join back
    val df = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    ex.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
        round(col("n_dup_shingles").cast("double") /
          col("n_shingles").cast("double"), 6).as("dup_coverage"))
  }

  def textDupCoverage(spark: SparkSession, sfDir: String): DataFrame =
    dupCoverage(Tables.documents(spark, sfDir))

  val textDupCoverageSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
       |SELECT s.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
       |       round(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS dup_coverage
       |FROM sh s JOIN df d ON s.shingle = d.shingle
       |GROUP BY 1""".stripMargin

  /** Corpus-level heavy hitters: the top-10 word 3-grams per language by
    * raw frequency — the boilerplate/contamination audit a corpus owner
    * runs before choosing dedup caps (the span-DF caps in the substring
    * family are tuned from exactly this view). The expensive half is a
    * partial-agg-friendly count over the shingle stream (linear, map-side
    * combined); the rank window then runs over the AGGREGATED n-gram
    * vocabulary — |distinct n-grams| rows, orders of magnitude below the
    * corpus — partitioned by language, following the
    * [[graft.ops.Relational.topUsersPerChain]] top-k-per-group pattern.
    */
  def ngramTopk(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("lang"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("lang"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"""
          .stripMargin)).as("shingle"))
      .groupBy(col("lang"), col("shingle")).agg(count(lit(1)).cast("long").as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("shingle"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("shingle"), col("cnt"), col("rnk"))
  }

  def textNgramTopk(spark: SparkSession, sfDir: String): DataFrame =
    ngramTopk(Tables.documents(spark, sfDir))

  val textNgramTopkSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split_regex(text, '\s+')) AS tok,
      |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
      |  FROM documents),
      |g AS (
      |  SELECT a.lang, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      |  FROM tok a
      |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |counts AS (
      |  SELECT lang, shingle, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang
      |                               ORDER BY cnt DESC, shingle) AS rnk
      |  FROM counts)
      |SELECT lang, shingle, cnt, rnk FROM ranked WHERE rnk <= 10""".stripMargin

  /** Sequence-packing geometry (concat-and-chunk, the GPT-style batch
    * layout): documents concatenate in doc_id order into one global token
    * stream, and the stream cuts into fixed-[[PACK_CAPACITY]]-token
    * training sequences. Emits each document's slot — global start
    * offset, start/end sequence ids, and whether it straddles a cut —
    * which is exactly what a loader needs to materialize packed batches.
    *
    * The running offset is a HIERARCHICAL prefix sum: a partitioned
    * window inside fixed doc_id ranges ([[PACK_SHARD_DOCS]] docs per
    * shard), a second partitioned window over the per-shard totals
    * inside [[PACK_SUPER_SHARDS]]-shard ranges, and an unpartitioned
    * prefix only over the per-super-shard totals —
    * |corpus|/(shard·super) rows, ~4 rows per 10⁹ documents, so NO
    * window input ever scales with the corpus through one task (a
    * single global ORDER BY window would funnel 100 TB through one;
    * the earlier two-level form still put corpus/64 summary rows
    * there). Integer arithmetic throughout — the hierarchical sum is
    * exactly the global cumulative sum the oracle computes with one
    * window.
    */
  val PACK_CAPACITY = 128L
  val PACK_SHARD_DOCS = 64L

  /** Shards per super-shard in the recursive level of the pack prefix
    * sum — together with [[PACK_SHARD_DOCS]] it bounds the one
    * unpartitioned window to corpus/262144 rows.
    */
  val PACK_SUPER_SHARDS = 4096L

  def packSequences(docs: DataFrame): DataFrame =
    packGeometry(docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens")))

  /** The packing core over any (doc_id, n_tokens, ...) frame; extra
    * columns pass through. Shards are doc_id ranges, so (shard, doc_id)
    * order equals doc_id order even when ids are sparse (a filtered
    * corpus packs exactly like a dense one).
    */
  def packGeometry(perDocIn: DataFrame): DataFrame = {
    val perDoc = perDocIn
      .withColumn("shard", expr(s"doc_id DIV $PACK_SHARD_DOCS"))
    val wIn = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = perDoc
      .withColumn("in_off", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    // shard summaries (one row per shard) RECURSE the same construction:
    // a window inside super-shard ranges plus an unpartitioned prefix
    // over per-super totals only — corpus/(64·4096) rows in the one
    // single-partition window, so even a 10⁹-doc corpus puts ~4k rows
    // there instead of ~15M (the r6 scale flag)
    val summaries = perDoc.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_n"))
      .withColumn("super", expr(s"shard DIV $PACK_SUPER_SHARDS"))
    val wShIn = Window.partitionBy(col("super")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSup = Window.orderBy(col("super"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffs = summaries.groupBy(col("super"))
      .agg(sum(col("shard_n")).as("super_n"))
      .withColumn("super_off", coalesce(sum(col("super_n")).over(wSup), lit(0L)))
      .select(col("super"), col("super_off"))
    val prefixes = summaries
      .withColumn("in_super_off",
        coalesce(sum(col("shard_n")).over(wShIn), lit(0L)))
      .join(broadcast(superOffs), Seq("super"))
      .select(col("shard"),
        (col("super_off") + col("in_super_off")).as("shard_off"))
    within.join(prefixes, Seq("shard"))
      .withColumn("start_off", col("shard_off") + col("in_off"))
      .withColumn("start_seq", expr(s"start_off DIV $PACK_CAPACITY"))
      .withColumn("end_seq",
        expr(s"(start_off + n_tokens - 1) DIV $PACK_CAPACITY"))
      .withColumn("straddles", col("end_seq") > col("start_seq"))
      .drop("shard", "in_off", "shard_off")
  }

  def textPack(spark: SparkSession, sfDir: String): DataFrame =
    packSequences(Tables.documents(spark, sfDir))

  /** Incremental pack APPEND — how a production corpus actually grows:
    * the standing corpus (even doc_ids, the `dedup_incremental` split)
    * is already packed and immutable; an arriving batch (odd ids)
    * concatenates AFTER it, continuing to fill the standing layout's
    * partially-filled final sequence rather than re-packing anything.
    * Emits the arriving docs' slots in the combined stream — global
    * offsets/sequence ids shifted by the standing token total — plus
    * `in_prior_tail` (doc starts inside the standing corpus's open last
    * sequence — those tokens co-train with old data).
    *
    * Scale shape: the standing corpus contributes ONE aggregated scalar
    * (its token total, broadcast) — no window, sort, or shuffle ever
    * touches it again, no matter how many batches have accumulated;
    * the new batch pays only its own hierarchical prefix sum
    * ([[packGeometry]]). Append ≡ re-pack of the arrival-ordered
    * stream (spec'd), so the loader contract is unchanged.
    */
  def packIncremental(docs: DataFrame): DataFrame = {
    val isNew = col("doc_id") % 2 === 1
    val perDoc = docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    val prior = broadcast(perDoc.filter(!isNew)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("prior_tokens")))
    packGeometry(perDoc.filter(isNew))
      .select(col("doc_id"), col("n_tokens"), col("start_off"))
      .crossJoin(prior)
      .withColumn("start_off", col("start_off") + col("prior_tokens"))
      .withColumn("start_seq", expr(s"start_off DIV $PACK_CAPACITY"))
      .withColumn("end_seq",
        expr(s"(start_off + n_tokens - 1) DIV $PACK_CAPACITY"))
      .withColumn("straddles", col("end_seq") > col("start_seq"))
      .withColumn("in_prior_tail",
        col("start_seq") === expr(s"prior_tokens DIV $PACK_CAPACITY") &&
          expr(s"prior_tokens % $PACK_CAPACITY") =!= 0L)
      .drop("prior_tokens")
  }

  def textPackIncremental(spark: SparkSession, sfDir: String): DataFrame =
    packIncremental(Tables.documents(spark, sfDir))

  val textPackIncrementalSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |pt AS (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS prior_tokens
       |       FROM n WHERE doc_id % 2 = 0),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS rel_off
       |  FROM n WHERE doc_id % 2 = 1)
       |SELECT o.doc_id, o.n_tokens,
       |       o.rel_off + p.prior_tokens AS start_off,
       |       (o.rel_off + p.prior_tokens) // $PACK_CAPACITY AS start_seq,
       |       (o.rel_off + p.prior_tokens + o.n_tokens - 1) // $PACK_CAPACITY AS end_seq,
       |       (o.rel_off + p.prior_tokens + o.n_tokens - 1) // $PACK_CAPACITY
       |         > (o.rel_off + p.prior_tokens) // $PACK_CAPACITY AS straddles,
       |       ((o.rel_off + p.prior_tokens) // $PACK_CAPACITY = p.prior_tokens // $PACK_CAPACITY
       |        AND p.prior_tokens % $PACK_CAPACITY <> 0) AS in_prior_tail
       |FROM o, pt p""".stripMargin

  /** Per-SEQUENCE manifest of the packed layout: for every training
    * sequence, how many documents contribute, the token count (exactly
    * [[PACK_CAPACITY]] for all but the final partial sequence), and the
    * contributing doc_id range — the loader-side index that turns the
    * per-document geometry into "which docs do I read to materialize
    * batch s". Each document explodes into its (end_seq − start_seq + 1)
    * overlapping sequences with the exact token overlap
    * min(end_off, (s+1)·C) − max(start_off, s·C); fan-out is
    * |docs| + |sequences| segments (a doc adds one row per boundary it
    * straddles), then one hash agg on seq_id.
    */
  def packManifest(docs: DataFrame): DataFrame = {
    val geo = packSequences(docs)
      .select(col("doc_id"), col("n_tokens"), col("start_off"),
        col("start_seq"), col("end_seq"))
    geo
      .select(col("doc_id"), col("start_off"),
        (col("start_off") + col("n_tokens")).as("end_off"),
        explode(expr("sequence(start_seq, end_seq)")).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        (least(col("end_off"), (col("seq_id") + 1) * PACK_CAPACITY) -
          greatest(col("start_off"), col("seq_id") * PACK_CAPACITY)).as("seq_tokens"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("seq_tokens")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  def textPackManifest(spark: SparkSession, sfDir: String): DataFrame =
    packManifest(Tables.documents(spark, sfDir))

  val textPackManifestSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM n),
       |seg AS (
       |  SELECT doc_id, start_off, start_off + n_tokens AS end_off,
       |         unnest(generate_series(start_off // $PACK_CAPACITY,
       |                                (start_off + n_tokens - 1) // $PACK_CAPACITY)) AS seq_id
       |  FROM o)
       |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(least(end_off, (seq_id + 1) * $PACK_CAPACITY)
       |                - greatest(start_off, seq_id * $PACK_CAPACITY)) AS BIGINT) AS n_tokens,
       |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM seg GROUP BY 1""".stripMargin

  val textPackSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM n)
       |SELECT doc_id, n_tokens, start_off,
       |       start_off // $PACK_CAPACITY AS start_seq,
       |       (start_off + n_tokens - 1) // $PACK_CAPACITY AS end_seq,
       |       (start_off + n_tokens - 1) // $PACK_CAPACITY
       |         > start_off // $PACK_CAPACITY AS straddles
       |FROM o""".stripMargin

  /** Token-balanced output sharding: assign documents to
    * [[SHARD_COUNT]] contiguous shards of ≈ equal TOKEN mass (not doc
    * count — a doc-count split leaves shard sizes at the mercy of the
    * length distribution), and report each shard's doc/token totals and
    * doc_id range — the writer layout step that turns a prepared corpus
    * into balanced training files. shard = ⌊start_off · N / T⌋ over the
    * [[packGeometry]] two-level prefix sum, so the only global state is
    * the 1-row token total (broadcast); no global sort or window touches
    * the corpus.
    */
  val SHARD_COUNT = 8

  def shardAssignment(docs: DataFrame): DataFrame = {
    // the per-doc geometry fans into the corpus total and the join
    val perDoc = packGeometry(docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("start_off"))
      .localCheckpoint()
    val tot = perDoc.agg(sum(col("n_tokens")).cast("double").as("t_tokens"))
    perDoc.crossJoin(broadcast(tot))
      .withColumn("shard_id",
        floor(col("start_off").cast("double") * SHARD_COUNT / col("t_tokens")).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("shard_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
  }

  def textShards(spark: SparkSession, sfDir: String): DataFrame =
    shardAssignment(Tables.documents(spark, sfDir))

  val textShardsSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM n),
       |t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS t_tokens FROM n),
       |s AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(floor(CAST(start_off AS DOUBLE) * $SHARD_COUNT / t_tokens) AS BIGINT)
       |           AS shard_id
       |  FROM o, t)
       |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM s GROUP BY 1""".stripMargin

  /** Decontamination: flag documents sharing any word 3-gram with the
    * benchmark subset (here doc_id ≡ 0 mod [[DECONTAM_MOD]] stands in
    * for the eval suite). The standard pretraining hygiene pass: before
    * training, every document overlapping a benchmark n-gram is flagged
    * (and usually dropped) so eval scores measure generalization, not
    * memorization.
    *
    * Shape: the benchmark's distinct shingle-hash set is tiny by
    * construction (eval suites are thousands of documents, not
    * billions) and BROADCASTS; corpus documents explode their
    * single-pass `shingle_hashes` arrays and count distinct overlapping
    * hashes — one broadcast join + one aggregation, linear in corpus
    * shingle volume, no corpus-side self-join.
    */
  val DECONTAM_MOD = 97L

  def decontam(docs: DataFrame): DataFrame = {
    val shs = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
    val isBench = col("doc_id") % DECONTAM_MOD === 0
    val bench = shs.filter(isBench)
      .select(explode(col("shs")).as("h")).distinct()
    val counts = shs.filter(!isBench)
      .select(col("doc_id"), explode(col("shs")).as("h"))
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
    docs.filter(!isBench)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contaminated", col("n_contam") > 0)
  }

  def textDecontam(spark: SparkSession, sfDir: String): DataFrame =
    decontam(Tables.documents(spark, sfDir))

  val textDecontamSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $DECONTAM_MOD = 0),
       |cnt AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_contam
       |  FROM sh s JOIN bench b ON s.shingle = b.shingle
       |  WHERE s.doc_id % $DECONTAM_MOD <> 0 GROUP BY 1)
       |SELECT d.doc_id, d.lang, d.source,
       |       coalesce(c.n_contam, 0) AS n_contam,
       |       coalesce(c.n_contam, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id
       |WHERE d.doc_id % $DECONTAM_MOD <> 0""".stripMargin

  /** The decontamination report INVERTED: one row per benchmark item —
    * how many corpus documents share at least one of its 3-gram
    * shingles, the largest per-document overlap, and the total hit
    * count. `text_decontam` answers "which corpus docs to drop"; this
    * answers the eval owner's question — "which benchmark items are
    * burned, and how badly" — the leaderboard that decides whether a
    * suite is still trustworthy. Zero-leak items are reported as 0 via
    * the left join (a bare groupBy would silently drop exactly the rows
    * that prove an item is clean).
    *
    * Same scale shape as decontam: the benchmark side broadcasts (eval
    * suites are fixed-size), the corpus side is one shingle stream, and
    * both rollups key on (bench, doc) pairs bounded by true overlap.
    */
  def decontamReport(docs: DataFrame): DataFrame = {
    val isBench = col("doc_id") % DECONTAM_MOD === 0
    // filter BEFORE shingling on both sides: the doc_id predicate then
    // reaches the parquet scan directly, and the bench side shingles
    // 1/MOD of the corpus instead of all of it
    val bench = Tables.shingles(docs.filter(isBench))
      .select(col("shingle"), col("doc_id").as("bench_id"))
    val ov = Tables.shingles(docs.filter(!isBench))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val per = ov.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_leaky_docs"), max(col("c")).as("max_overlap"),
        sum(col("c")).as("n_hits"))
    docs.filter(isBench).select(col("doc_id").as("bench_id"))
      .join(per, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_leaky_docs"), lit(0L)).as("n_leaky_docs"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  def textDecontamReport(spark: SparkSession, sfDir: String): DataFrame =
    decontamReport(Tables.documents(spark, sfDir))

  val textDecontamReportSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |bsh AS (SELECT doc_id AS bench_id, shingle FROM sh
       |        WHERE doc_id % $DECONTAM_MOD = 0),
       |ov AS (
       |  SELECT b.bench_id, s.doc_id, CAST(count(*) AS BIGINT) AS c
       |  FROM sh s JOIN bsh b ON s.shingle = b.shingle
       |  WHERE s.doc_id % $DECONTAM_MOD <> 0 GROUP BY 1, 2),
       |per AS (
       |  SELECT bench_id, CAST(count(*) AS BIGINT) AS n_leaky_docs,
       |         CAST(max(c) AS BIGINT) AS max_overlap,
       |         CAST(sum(c) AS BIGINT) AS n_hits
       |  FROM ov GROUP BY 1)
       |SELECT d.doc_id AS bench_id,
       |       coalesce(p.n_leaky_docs, 0) AS n_leaky_docs,
       |       coalesce(p.max_overlap, 0) AS max_overlap,
       |       coalesce(p.n_hits, 0) AS n_hits
       |FROM documents d LEFT JOIN per p ON d.doc_id = p.bench_id
       |WHERE d.doc_id % $DECONTAM_MOD = 0""".stripMargin

  /** SURGICAL decontamination: instead of dropping a contaminated
    * document ([[decontam]]), redact exactly the tokens covered by a
    * benchmark-overlapping 3-gram and KEEP the rest — the span-level
    * scrub a production pipeline prefers when the leak is a quoted
    * benchmark sentence inside an otherwise-valuable document (dropping
    * whole docs over one quote costs real tokens). Emits one row per
    * non-benchmark document: token count, contaminated-3-gram count,
    * redacted-token count, and the md5 fingerprint of the scrubbed text
    * (a fully-redacted doc fingerprints the empty string).
    *
    * Scale shape: positional 3-grams are an array-side projection; they
    * probe the broadcast benchmark set map-side, so only true hit
    * positions (bounded by real overlap) reach the per-doc hit
    * aggregation; the hit lists join back on doc_id WITHOUT a broadcast
    * hint (contamination volume is data-dependent — AQE broadcasts when
    * small, falls back to a linear doc_id-keyed shuffle when not) and
    * the redaction itself is one codegen'd higher-order-function
    * projection (`filter`/`exists` over the token array).
    *
    * Semantic caveat (deliberate): spans are judged against the ORIGINAL
    * token stream. Redaction can make previously-separated tokens
    * adjacent, and the new adjacency could itself form a benchmark
    * 3-gram; a paranoid pipeline iterates scrub→check to a fixpoint.
    * One pass is the standard trade (each pass costs a corpus scan) and
    * is what the oracle states.
    */
  def decontamScrub(docs: DataFrame): DataFrame =
    decontamScrubAgainst(docs.filter(col("doc_id") % DECONTAM_MOD =!= 0),
      docs.filter(col("doc_id") % DECONTAM_MOD === 0))

  /** The JOIN-form scrub against an EXPLICIT benchmark-document side —
    * factored so the streaming replay can run it per micro-batch against
    * the standing suite (`docs` must already exclude bench documents).
    * The join probe is what scales when the suite is LARGE: cost per
    * document is its own shingle count, never O(\|bench\|) — the
    * literal-set form ([[scrubAgainstSet]]) pays the whole suite per row
    * and measurably goes linear-in-suite (SCALING.md round 10).
    */
  /** Positional 3-grams: (doc_id, i, shingle) with i 1-based token index. */
  private def posShingles(d: DataFrame): DataFrame = d
    .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"), posexplode(expr(
      """transform(sequence(1, size(toks) - 2),
        |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"""
        .stripMargin)))
    .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("shingle"))

  private[graft] def decontamScrubAgainst(docs: DataFrame,
      benchDocs: DataFrame): DataFrame =
    decontamScrubAgainstShingles(docs, benchShinglesOf(benchDocs))

  /** The suite's distinct 3-gram set — build ONCE per standing suite
    * (and localCheckpoint it) when scrubbing many batches against it;
    * [[decontamScrubAgainst]] rebuilds it per call.
    */
  private[graft] def benchShinglesOf(benchDocs: DataFrame): DataFrame =
    posShingles(benchDocs).select(col("shingle")).distinct()

  private[graft] def decontamScrubAgainstShingles(docs: DataFrame,
      bench: DataFrame): DataFrame = {
    val hits = posShingles(docs)
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("hits"))
    // hits is DATA-DEPENDENT (grows with true contamination), so no
    // broadcast hint — AQE broadcasts it when small and falls back to a
    // doc_id-keyed shuffle join when not, which is linear either way.
    // Only the benchmark set above gets the hint (fixed-size eval suite).
    docs
      .join(hits, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("hits", coalesce(col("hits"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("kept", expr(
        "filter(sequence(1, size(toks)), j -> !exists(hits, i -> j >= i AND j <= i + 2))"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("hits")).cast("long").as("n_contam_ngrams"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_redacted"),
        md5(expr("array_join(transform(kept, j -> element_at(toks, j)), ' ')"))
          .as("clean_fp"))
  }

  def textDecontamScrub(spark: SparkSession, sfDir: String): DataFrame =
    decontamScrub(Tables.documents(spark, sfDir))

  /** Scrub against a DRIVER-HELD benchmark 3-gram set — the stateless-
    * projection form of [[decontamScrub]], kept as the property tests'
    * reference for the join form (CurationProps): membership is a per-row `array_intersect` against the literal set,
    * so a document is scrubbed with no join, no shuffle, and no state
    * store. Bounded by the eval suite's size (the fixed-size-benchmark
    * argument every decontam variant here rests on); a many-suite union
    * too big for a literal pre-filters with the Bloom path of
    * [[decontamBloom]] and exact-confirms only the hits. Row-identical
    * to [[decontamScrub]] on the same corpus (spec'd).
    */
  private[graft] def scrubAgainstSet(docs: DataFrame, bench: Seq[String]): DataFrame =
    docs.filter(col("doc_id") % DECONTAM_MOD =!= 0)
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // guard the generator: sequence(1, 0) would count DOWN
      .withColumn("tris", expr(
        """CASE WHEN size(toks) >= 3
          |     THEN transform(sequence(1, size(toks) - 2),
          |            i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))
          |     ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .withColumn("contam", array_intersect(col("tris"), typedLit(bench)))
      .withColumn("hits", expr(
        """CASE WHEN size(contam) > 0
          |     THEN filter(sequence(1, size(tris)), i -> array_contains(contam, element_at(tris, i)))
          |     ELSE CAST(array() AS ARRAY<INT>) END""".stripMargin))
      .withColumn("kept", expr(
        "filter(sequence(1, size(toks)), j -> !exists(hits, i -> j >= i AND j <= i + 2))"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("hits")).cast("long").as("n_contam_ngrams"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_redacted"),
        md5(expr("array_join(transform(kept, j -> element_at(toks, j)), ' ')"))
          .as("clean_fp"))

  /** Intra-document repeated-span scrub — the ACT half of the repetition
    * measures ([[repetitionStats]] flags, [[dupCoverage]] quantifies,
    * this one fixes): every 3-gram occurrence AFTER the first within the
    * same document is a repeat; redact the union of tokens the repeats
    * cover and keep the first occurrence — templated boilerplate
    * (navigation chrome, repeated legal footers, copy-pasted paragraphs)
    * collapses to one copy while original prose survives. Same output
    * contract as [[decontamScrub]].
    *
    * Scale shape: first-occurrence detection is ONE hash aggregation
    * keyed (doc_id, shingle) — map-side combined, the only corpus-sized
    * shuffle; repeats (bounded by actual repetition) fan back per doc
    * and the redaction is the same codegen'd array projection. No
    * window (a per-(doc,shingle) rank would shuffle-sort the same
    * stream for strictly more work than min+explode).
    */
  def repetitionScrub(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"""
          .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("shingle"))
    val repeats = pos
      .groupBy(col("doc_id"), col("shingle"))
      .agg(min(col("i")).as("fi"), collect_list(col("i")).as("is"))
      .select(col("doc_id"), col("fi"), explode(col("is")).as("i"))
      .filter(col("i") > col("fi"))
    val hits = repeats.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("hits"))
    // no broadcast hint: the hit frame grows with actual repetition (a
    // boilerplate-heavy corpus has many), so AQE picks broadcast vs a
    // doc_id-keyed shuffle join from its real size
    docs
      .join(hits, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("hits", coalesce(col("hits"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("kept", expr(
        "filter(sequence(1, size(toks)), j -> !exists(hits, i -> j >= i AND j <= i + 2))"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("hits")).cast("long").as("n_repeat_ngrams"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_redacted"),
        md5(expr("array_join(transform(kept, j -> element_at(toks, j)), ' ')"))
          .as("clean_fp"))
  }

  def textRepetitionScrub(spark: SparkSession, sfDir: String): DataFrame =
    repetitionScrub(Tables.documents(spark, sfDir))

  val textRepetitionScrubSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |big AS (
       |  SELECT a.doc_id, a.i, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM tok a
       |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |f AS (SELECT doc_id, shingle, min(i) AS fi FROM big GROUP BY 1, 2),
       |rep AS (
       |  SELECT b.doc_id, b.i
       |  FROM big b JOIN f ON b.doc_id = f.doc_id AND b.shingle = f.shingle
       |  WHERE b.i > f.fi),
       |cov AS (
       |  SELECT DISTINCT r.doc_id, r.i + v.d AS j
       |  FROM rep r, (VALUES (0), (1), (2)) v(d)),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_repeat_ngrams FROM rep GROUP BY 1),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.tok
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.j
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         md5(string_agg(tok, ' ' ORDER BY i)) AS clean_fp
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, n.n_tokens,
       |       coalesce(h.n_repeat_ngrams, 0) AS n_repeat_ngrams,
       |       n.n_tokens - coalesce(a.n_kept, 0) AS n_redacted,
       |       coalesce(a.clean_fp, md5('')) AS clean_fp
       |FROM documents d
       |JOIN n ON d.doc_id = n.doc_id
       |LEFT JOIN h ON d.doc_id = h.doc_id
       |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  val textDecontamScrubSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |big AS (
       |  SELECT a.doc_id, a.i, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM tok a
       |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |bench AS (SELECT DISTINCT shingle FROM big WHERE doc_id % $DECONTAM_MOD = 0),
       |hits AS (
       |  SELECT g.doc_id, g.i FROM big g JOIN bench b ON g.shingle = b.shingle
       |  WHERE g.doc_id % $DECONTAM_MOD <> 0),
       |cov AS (
       |  SELECT DISTINCT h.doc_id, h.i + v.d AS j
       |  FROM hits h, (VALUES (0), (1), (2)) v(d)),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contam_ngrams FROM hits GROUP BY 1),
       |kept AS (
       |  SELECT t.doc_id, t.i, t.tok
       |  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.j
       |  WHERE c.doc_id IS NULL AND t.doc_id % $DECONTAM_MOD <> 0),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         md5(string_agg(tok, ' ' ORDER BY i)) AS clean_fp
       |  FROM kept GROUP BY 1)
       |SELECT d.doc_id, n.n_tokens,
       |       coalesce(h.n_contam_ngrams, 0) AS n_contam_ngrams,
       |       n.n_tokens - coalesce(a.n_kept, 0) AS n_redacted,
       |       coalesce(a.clean_fp, md5('')) AS clean_fp
       |FROM documents d
       |JOIN n ON d.doc_id = n.doc_id
       |LEFT JOIN h ON d.doc_id = h.doc_id
       |LEFT JOIN agg a ON d.doc_id = a.doc_id
       |WHERE d.doc_id % $DECONTAM_MOD <> 0""".stripMargin

  /** Per-source scrub report — the three redaction operators composed
    * into one dashboard: for every source, how many tokens each scrub
    * family would remove ([[decontamScrub]] benchmark overlap,
    * [[repetitionScrub]] intra-doc repeats, [[Dedup.passageScrub]]
    * cross-doc copied passages) and the removal rates. This is the
    * "what is my corpus actually made of" card a data owner reads
    * before deciding which scrubs to run — a feed at 40% passage
    * overlap gets deduplicated source-side, not document-side.
    * Benchmark documents are excluded (they are the decontam reference,
    * not corpus content). Each family's counts are that operator's own
    * code path, so the report can never disagree with the scrubs it
    * summarizes; the rollup is one hash agg to |sources| rows.
    */
  def corpusScrubReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dec = decontamScrub(docs)
      .select(col("doc_id"), col("n_tokens"), col("n_redacted").as("dec_red"))
    val rep = repetitionScrub(docs)
      .select(col("doc_id"), col("n_redacted").as("rep_red"))
    val pas = graft.ops.Dedup.passageScrub(docs)
      .select(col("doc_id"), col("n_redacted").as("pas_red"))
    docs.select(col("doc_id"), col("source"))
      .join(dec, Seq("doc_id")) // inner: drops benchmark docs, like decontam
      .join(rep, Seq("doc_id"))
      .join(pas, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("dec_red")).as("decontam_redacted"),
        sum(col("rep_red")).as("repeat_redacted"),
        sum(col("pas_red")).as("passage_redacted"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("decontam_redacted"), col("repeat_redacted"), col("passage_redacted"),
        round(col("decontam_redacted").cast("double") / col("total_tokens").cast("double"), 6)
          .as("decontam_rate"),
        round(col("repeat_redacted").cast("double") / col("total_tokens").cast("double"), 6)
          .as("repeat_rate"),
        round(col("passage_redacted").cast("double") / col("total_tokens").cast("double"), 6)
          .as("passage_rate"))
  }

  /** Count-only CTE chains for the scrub report oracle (no fingerprints
    * — the report sums covered-token counts). Prefixed names so the
    * three families compose in one WITH block.
    */
  lazy val corpusScrubReportSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |tri AS (
       |  SELECT a.doc_id, a.i, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
       |  FROM tok a
       |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |d_bench AS (SELECT DISTINCT shingle FROM tri WHERE doc_id % $DECONTAM_MOD = 0),
       |d_cov AS (
       |  SELECT DISTINCT g.doc_id, g.i + v.d AS j
       |  FROM tri g JOIN d_bench b ON g.shingle = b.shingle,
       |       (VALUES (0), (1), (2)) v(d)
       |  WHERE g.doc_id % $DECONTAM_MOD <> 0),
       |d_red AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dec_red FROM d_cov GROUP BY 1),
       |r_first AS (SELECT doc_id, shingle, min(i) AS fi FROM tri GROUP BY 1, 2),
       |r_cov AS (
       |  SELECT DISTINCT t.doc_id, t.i + v.d AS j
       |  FROM tri t JOIN r_first f ON t.doc_id = f.doc_id AND t.shingle = f.shingle,
       |       (VALUES (0), (1), (2)) v(d)
       |  WHERE t.i > f.fi),
       |r_red AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS rep_red FROM r_cov GROUP BY 1),
       |p_span AS (
       |  SELECT doc_id, i,
       |         md5(array_to_string(list_slice(toks, i, i + ${graft.ops.Dedup.SPAN_WORDS - 1}), ' ')) AS h
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${graft.ops.Dedup.SPAN_WORDS - 1})) AS i
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= ${graft.ops.Dedup.SPAN_WORDS})),
       |p_keep AS (SELECT h, min(doc_id) AS keeper FROM p_span GROUP BY 1),
       |p_cov AS (
       |  SELECT DISTINCT s.doc_id, s.i + v.d AS j
       |  FROM p_span s JOIN p_keep k ON s.h = k.h,
       |       (SELECT unnest(range(0, ${graft.ops.Dedup.SPAN_WORDS})) AS d) v
       |  WHERE s.doc_id > k.keeper),
       |p_red AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS pas_red FROM p_cov GROUP BY 1),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |per_doc AS (
       |  SELECT d.source, n.n_tokens,
       |         coalesce(dr.dec_red, 0) AS dec_red,
       |         coalesce(rr.rep_red, 0) AS rep_red,
       |         coalesce(pr.pas_red, 0) AS pas_red
       |  FROM documents d
       |  JOIN n ON d.doc_id = n.doc_id
       |  LEFT JOIN d_red dr ON d.doc_id = dr.doc_id
       |  LEFT JOIN r_red rr ON d.doc_id = rr.doc_id
       |  LEFT JOIN p_red pr ON d.doc_id = pr.doc_id
       |  WHERE d.doc_id % $DECONTAM_MOD <> 0)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |       CAST(sum(dec_red) AS BIGINT) AS decontam_redacted,
       |       CAST(sum(rep_red) AS BIGINT) AS repeat_redacted,
       |       CAST(sum(pas_red) AS BIGINT) AS passage_redacted,
       |       round(CAST(sum(dec_red) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6) AS decontam_rate,
       |       round(CAST(sum(rep_red) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6) AS repeat_rate,
       |       round(CAST(sum(pas_red) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6) AS passage_rate
       |FROM per_doc GROUP BY 1""".stripMargin

  /** False-positive rate for the decontamination Bloom pre-filter. */
  val BLOOM_FPP = 0.01

  /** Decontamination through a Bloom-filter pre-filter — the scale path
    * for when the benchmark shingle set is too large to broadcast as an
    * exact hash set (a many-suite eval union at 100 TB): the benchmark
    * hashes fold into a Bloom filter DISTRIBUTED-side (Spark's own
    * `BloomFilterAggregate`: per-partition partial Blooms, OR-merged),
    * the corpus shingle stream probes it inside WholeStageCodegen and
    * only the surviving ~fpp fraction reaches the exact confirm join.
    * Bloom filters have no false negatives, so the result is IDENTICAL
    * to [[decontam]] — same oracle — while the join input shrinks from
    * the corpus's full shingle volume to (true hits + fpp · volume).
    * The only driver-side state is the built filter itself (the
    * broadcast-build-side pattern; bytes bounded by [[BLOOM_FPP]] and
    * the benchmark size, never by the corpus).
    */
  def decontamBloom(docs: DataFrame): DataFrame = {
    val shs = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
    val isBench = col("doc_id") % DECONTAM_MOD === 0
    // fans into the sizing count, the Bloom build, and the confirm join
    val bench = shs.filter(isBench)
      .select(explode(col("shs")).as("h")).distinct().localCheckpoint()
    val nBench = math.max(bench.count(), 1L)
    val nBits = BloomFunctions.optimalNumBits(nBench, BLOOM_FPP)
    val bloomBytes = bench
      .agg(BloomFunctions.bloomAgg(col("h"), nBench, nBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // empty benchmark -> no bloom -> nothing can be contaminated
    val probe = if (bloomBytes == null) lit(false)
      else BloomFunctions.mightContain(lit(bloomBytes), col("h"))
    val counts = shs.filter(!isBench)
      .select(col("doc_id"), explode(col("shs")).as("h"))
      .filter(probe)
      .join(broadcast(bench), Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))
    docs.filter(!isBench)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .withColumn("contaminated", col("n_contam") > 0)
  }

  def textDecontamBloom(spark: SparkSession, sfDir: String): DataFrame =
    decontamBloom(Tables.documents(spark, sfDir))

  /** The END-TO-END training-data assembly in one query — the README's
    * "Training-data assembly" order executed as a single composed plan
    * over the engine's own operators:
    *
    *   1. decontaminate (drop benchmark docs and benchmark-overlapping
    *      docs),
    *   2. exact-dedup representatives only,
    *   3. drop near-dup (Jaccard) losers,
    *   4. per-document quality gate,
    *   5. whole-domain gate relative to the SURVIVING corpus mean,
    *   6. mixture-sample per language against the token budget,
    *   7. pack the sampled stream into training sequences.
    *
    * Emits the per-language assembly report plus a TOTAL row: documents
    * and tokens shipped, and how many distinct training sequences the
    * language's documents touch (TOTAL = the job's sequence count).
    * Every stage is the already-oracled operator's own code path, so
    * this query is the integration check that the stages compose — the
    * number a pretraining run starts from.
    */
  def corpusAssembly(docs: DataFrame): DataFrame =
    assemblyFrom(assemblyFlags(docs).localCheckpoint())

  private def assemblyFrom(flags: DataFrame): DataFrame = {
    // gated fans out into the domain gate, the mix rates, and the sample —
    // `flags` is checkpointed by the caller (without it every branch
    // re-executes the decontam + dedup chain, measured 6× the single-pass
    // cost), so each branch re-runs only this filter.
    val gated = flags.filter(!col("is_bench") && col("is_contam").isNull &&
      col("is_keeper").isNotNull && col("is_loser").isNull &&
      col("quality_score") >= QUALITY_MIN)
    val bySrc = gated.groupBy(col("source"))
      .agg(round(avg(col("quality_score")), 6).as("avg_q"))
    val overall = gated.agg(round(avg(col("quality_score")), 6).as("corpus_avg"))
    val goodSrc = bySrc.crossJoin(broadcast(overall))
      .filter(col("avg_q") >= col("corpus_avg")).select(col("source"))
    val domained = gated.join(broadcast(goodSrc), Seq("source"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val totals = domained.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val rates = mixRates(
      domained.groupBy(col("lang")).agg(sum(col("n_tokens")).as("lang_tokens")),
      totals).select(col("lang"), col("rate"))
    val bucket = md5Bucket(col("doc_id"))
    // sampled feeds the pack geometry, whose within/prefix windows and
    // doc/sequence aggregates read it four times (dropping this
    // checkpoint re-runs the goodSrc/rates aggregation chain per read —
    // measured +1.3 s at sf0.1)
    val sampled = domained.join(broadcast(rates), Seq("lang"))
      .filter(bucket.cast("double") < col("rate") * lit(4294967296.0))
      .localCheckpoint()
    val packed = packGeometry(sampled.select(col("doc_id"), col("n_tokens"), col("lang")))
    val docAgg = packed.rollup(col("lang"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tokens")).as("kept_tokens"))
      .select(coalesce(col("lang"), lit("TOTAL")).as("lang"),
        col("kept_docs"), col("kept_tokens"))
    val seqAgg = packed
      .select(col("lang"), explode(expr("sequence(start_seq, end_seq)")).as("seq"))
      .rollup(col("lang"))
      .agg(countDistinct(col("seq")).as("n_sequences"))
      .select(coalesce(col("lang"), lit("TOTAL")).as("lang"), col("n_sequences"))
    docAgg.join(seqAgg, Seq("lang"))
  }

  def textCorpusAssembly(spark: SparkSession, sfDir: String): DataFrame =
    assemblyFrom(sharedFlags(spark, sfDir))

  // lazy: interpolates MIX_SHARES and friends, declared later in the
  // object — an eager val would capture them mid-init as null
  /** Shared CTE prefix of the assembly pipeline, through the mix-rate
    * table `rt`: the stage frames [[textCorpusAssemblySql]] packs and
    * [[textCorpusRejectionsSql]] audits are the SAME SQL text, so the
    * two oracles cannot drift from each other stage by stage.
    */
  private lazy val assemblyPrefixSql: String = {
    val shareRows = MIX_SHARES
      .map { case (l, s) => s"('$l', CAST($s AS DOUBLE))" }.mkString(", ")
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % $DECONTAM_MOD = 0),
       |contam AS (
       |  SELECT DISTINCT s.doc_id
       |  FROM sh s JOIN bench b ON s.shingle = b.shingle
       |  WHERE s.doc_id % $DECONTAM_MOD <> 0),
       |clean AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % $DECONTAM_MOD <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |keep AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
       |        FROM documents) GROUP BY fp),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |losers AS (
       |  SELECT DISTINCT i.d2 AS doc_id
       |  FROM inter i JOIN sz s1 ON i.d1 = s1.doc_id JOIN sz s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= ${Dedup.JACCARD_THRESHOLD}),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |gated AS (
       |  SELECT d.doc_id, d.lang, d.source, CAST(s.n_tokens AS BIGINT) AS n_tokens,
       |         round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |               * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |           AS quality_score
       |  FROM documents d JOIN stats s ON d.doc_id = s.doc_id
       |  WHERE d.doc_id IN (SELECT doc_id FROM clean)
       |    AND d.doc_id IN (SELECT doc_id FROM keep)
       |    AND d.doc_id NOT IN (SELECT doc_id FROM losers)
       |    AND round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |              * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |        >= $QUALITY_MIN),
       |bysrc AS (SELECT source, round(avg(quality_score), 6) AS avg_q FROM gated GROUP BY 1),
       |overallq AS (SELECT round(avg(quality_score), 6) AS corpus_avg FROM gated),
       |goodsrc AS (
       |  SELECT source FROM bysrc CROSS JOIN overallq WHERE avg_q >= corpus_avg),
       |domained AS (
       |  SELECT doc_id, lang, n_tokens FROM gated
       |  WHERE source IN (SELECT source FROM goodsrc)),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM domained),
       |shr(lang, share) AS (VALUES $shareRows),
       |rt AS (
       |  SELECT bl.lang,
       |         least(1.0, round(s.share * $MIX_BUDGET_FRAC * t.corpus_tokens
       |                          / bl.lang_tokens, 6)) AS rate
       |  FROM (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
       |        FROM domained GROUP BY 1) bl
       |  JOIN shr s ON bl.lang = s.lang CROSS JOIN tot t)""".stripMargin
  }

  lazy val textCorpusAssemblySql: String =
    s"""$assemblyPrefixSql,
       |sampled AS (
       |  SELECT d.doc_id, d.lang, d.n_tokens
       |  FROM domained d JOIN rt ON d.lang = rt.lang
       |  WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |             AS DOUBLE) < rt.rate * CAST(4294967296 AS DOUBLE)),
       |packed AS (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM sampled),
       |slots AS (
       |  SELECT doc_id, lang, n_tokens,
       |         start_off // $PACK_CAPACITY AS start_seq,
       |         (start_off + n_tokens - 1) // $PACK_CAPACITY AS end_seq
       |  FROM packed),
       |docagg AS (
       |  SELECT coalesce(lang, 'TOTAL') AS lang, CAST(count(*) AS BIGINT) AS kept_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
       |  FROM slots GROUP BY ROLLUP (lang)),
       |seqagg AS (
       |  SELECT coalesce(lang, 'TOTAL') AS lang,
       |         CAST(count(DISTINCT seq) AS BIGINT) AS n_sequences
       |  FROM (SELECT lang, unnest(generate_series(start_seq, end_seq)) AS seq FROM slots)
       |  GROUP BY ROLLUP (lang))
       |SELECT d.lang, d.kept_docs, d.kept_tokens, q.n_sequences
       |FROM docagg d JOIN seqagg q ON d.lang = q.lang""".stripMargin

  /** Per-document rejection audit — the "why did my document disappear"
    * table every production data pipeline keeps next to its assembly
    * job: one row per INPUT document with its fate under
    * [[corpusAssembly]]'s own precedence — the FIRST stage that drops
    * it, in pipeline order: `benchmark` (it is the eval side of the
    * decontamination split), `contaminated`, `exact_dup` (not its
    * group's representative), `near_dup` (Jaccard loser), `low_quality`,
    * `weak_domain` (source below the corpus quality bar), `sampled_out`
    * (mix-rate draw missed; a lang without a mixture share reports
    * `no_mix_share`), else `kept`. Every flag is the corresponding
    * operator's own code path, so the audit can never disagree with the
    * assembly it explains.
    *
    * Shape: the per-doc flags are left joins of the stage outputs
    * (contaminated ids, exact representatives, Jaccard losers — each
    * already bucket/prefix-bounded), the domain/rate tables are
    * |sources|- and |langs|-row broadcasts, and the verdict is one
    * stateless CASE projection. Cost ≈ the assembly's own stage chain;
    * rows = corpus size, but each row is (ids + short string).
    */
  def corpusRejections(docs: DataFrame): DataFrame =
    rejectionsFrom(assemblyFlags(docs).localCheckpoint())

  /** Per-document stage flags of the assembly pipeline: the quality row
    * of every input doc left-joined with the contaminated-id, exact-
    * representative and Jaccard-loser sets, plus the benchmark split —
    * the frame [[corpusAssembly]], [[corpusRejections]] and
    * [[corpusFilter]] all derive their gates from. The session entry
    * points share ONE checkpointed copy ([[SharedFits]]): the stage
    * chain (decontam + both dedups + quality) is deterministic, so the
    * memo changes cost, never results — the production-DAG shape, stage
    * outputs computed once and fanned out.
    */
  private[ops] def assemblyFlags(docs: DataFrame): DataFrame =
    assemblyFlagsFrom(docs, Dedup.ngramJaccardPairs(docs), contamIds(docs), keeperIds(docs))

  /** The contaminated-id gate: (doc_id, is_contam). */
  private def contamIds(docs: DataFrame): DataFrame =
    decontam(docs).filter(col("contaminated"))
      .select(col("doc_id"), lit(true).as("is_contam"))

  /** The exact-representative gate: (doc_id, is_keeper). */
  private def keeperIds(docs: DataFrame): DataFrame =
    Dedup.exactGroups(docs)
      .select(col("keep_id").as("doc_id"), lit(true).as("is_keeper"))

  /** [[assemblyFlags]] over given gate frames — [[sharedFlags]] passes
    * them PRE-PINNED, built in overlap instead of serially inside the one
    * flags job; same frames, same join shape.
    */
  private[ops] def assemblyFlagsFrom(docs: DataFrame, jaccardPairs: DataFrame,
      contamIds: DataFrame, keepIds: DataFrame): DataFrame = {
    val loserIds = jaccardPairs
      .select(col("d2").as("doc_id")).distinct()
      .withColumn("is_loser", lit(true))
    quality(docs)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("quality_score"))
      .join(contamIds, Seq("doc_id"), "left")
      .join(keepIds, Seq("doc_id"), "left")
      .join(loserIds, Seq("doc_id"), "left")
      .withColumn("is_bench", col("doc_id") % lit(DECONTAM_MOD) === 0)
  }

  private def sharedFlags(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"assembly_flags:$sfDir") {
      // the near-dup-loser gate reads the session-shared pair frame — the
      // AllPairs pair-gen is the chain's dominant stage and also feeds the
      // duplicate-cluster family, so it must not run once per family.
      // The flags pass's three gate inputs are independent corpus chains
      // (contaminated ids via the shingle probe, exact representatives
      // via the fp groupBy, the AllPairs pair frame) that the single
      // composed plan ran serially inside one job — pre-pin them in
      // overlap (guide §2.6; the id sets are corpus-bounded narrow
      // frames) and let the flags pass join the pinned gates
      val docs = Tables.documents(spark, sfDir)
      val g = Overlap.all(Seq(
        () => Dedup.sharedJaccardPairs(spark, sfDir),
        () => contamIds(docs).localCheckpoint(),
        () => keeperIds(docs).localCheckpoint()), Overlap.DEFAULT_CAP)
      assemblyFlagsFrom(docs, g(0), g(1), g(2)).localCheckpoint()
    }

  private def rejectionsFrom(flags: DataFrame): DataFrame = {
    val gated = flags.filter(!col("is_bench") && col("is_contam").isNull &&
      col("is_keeper").isNotNull && col("is_loser").isNull &&
      col("quality_score") >= QUALITY_MIN)
    val bySrc = gated.groupBy(col("source"))
      .agg(round(avg(col("quality_score")), 6).as("avg_q"))
    val overall = gated.agg(round(avg(col("quality_score")), 6).as("corpus_avg"))
    val goodSrc = bySrc.crossJoin(broadcast(overall))
      .filter(col("avg_q") >= col("corpus_avg"))
      .select(col("source"), lit(true).as("good_src"))
    val domained = gated.join(broadcast(goodSrc), Seq("source"), "left_semi")
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val totals = domained.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val rates = mixRates(
      domained.groupBy(col("lang")).agg(sum(col("n_tokens")).as("lang_tokens")),
      totals).select(col("lang"), col("rate"))
    val bucket = md5Bucket(col("doc_id"))
    flags
      .join(broadcast(goodSrc), Seq("source"), "left")
      .join(broadcast(rates), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(col("is_bench"), "benchmark")
          .when(col("is_contam").isNotNull, "contaminated")
          .when(col("is_keeper").isNull, "exact_dup")
          .when(col("is_loser").isNotNull, "near_dup")
          .when(col("quality_score") < QUALITY_MIN, "low_quality")
          .when(col("good_src").isNull, "weak_domain")
          .when(col("rate").isNull, "no_mix_share")
          .when(bucket.cast("double") >= col("rate") * lit(4294967296.0),
            "sampled_out")
          .otherwise("kept").as("reason"))
  }

  def textCorpusRejections(spark: SparkSession, sfDir: String): DataFrame =
    rejectionsFrom(sharedFlags(spark, sfDir))

  // --------------------------------------------------------------------
  // Incremental corpus-rejection audit: arrivals vs STANDING state
  // --------------------------------------------------------------------

  /** Arrival split for the incremental audit: the TOP fifth of the id
    * space arrives. Ids are assigned in ingest order, so new documents
    * carry ids above every standing one — the realistic split, and the
    * one that makes the min-id keeper rules ONE-directional: an arrival
    * can never displace a standing exact/near-dup keeper, so the only
    * standing-state correction the merge needs is contamination (bench
    * membership is id%[[DECONTAM_MOD]], directionless — an arriving
    * benchmark document can burn a STANDING document). Computed as
    * floor(0.8·(max_id+1)) — identical IEEE arithmetic in both engines.
    */
  def caThreshold(docs: DataFrame): Long = {
    // max() over an empty frame is NULL — surface that as a named fixture
    // problem instead of an opaque NPE from getLong on a null cell
    val row = docs.agg(max(col("doc_id"))).head
    require(!row.isNullAt(0),
      "caThreshold: documents table is empty (or doc_id all null) — " +
        "cannot derive the standing/arrival split horizon")
    math.floor(0.8 * (row.getLong(0) + 1)).toLong
  }

  /** (doc_id, shs, n): per-doc sorted shingle-hash arrays — the unit all
    * dedup/decontam state is built from. Docs under 3 tokens have no
    * 3-grams and drop out, exactly as in every batch consumer.
    */
  private[graft] def caShingleSets(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
  }

  /** Standing per-doc stats + the stage-gate flag under STANDING-only
    * knowledge (standing bench contamination, standing exact/near dup;
    * arrivals can't displace keepers under the id-ordered split). The
    * one thing a later batch can retroactively change — an arriving
    * benchmark doc burning a standing doc — is corrected at merge time
    * by probing the postings index, never by re-scanning.
    */
  private[graft] def caDocStats(standing: DataFrame,
      sets: DataFrame): DataFrame = {
    val contamIds = decontam(standing).filter(col("contaminated"))
      .select(col("doc_id"), lit(true).as("c"))
    val keepIds = Dedup.exactGroups(standing)
      .select(col("keep_id").as("doc_id"), lit(true).as("k"))
    // the near-dup pair chain reuses the caller's checkpointed shingle-set
    // table (caShingleSets ≡ jaccardSets row-for-row) instead of
    // re-shingling the standing corpus a second time
    val loserIds = Dedup.ngramJaccardPairsFromSets(sets, -1L)
      .select(col("d2").as("doc_id")).distinct().withColumn("l", lit(true))
    quality(standing)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("quality_score"))
      .join(contamIds, Seq("doc_id"), "left")
      .join(keepIds, Seq("doc_id"), "left")
      .join(loserIds, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("quality_score"),
        (!(col("doc_id") % lit(DECONTAM_MOD) === 0) && col("c").isNull &&
          col("k").isNotNull && col("l").isNull &&
          col("quality_score") >= QUALITY_MIN).as("gated"))
  }

  /** Rarest-first AllPairs prefix of each doc's shingle set under the
    * df order of `dfSource` — factored so the arrival batch ranks its
    * prefixes under its OWN batch-local order: prefix completeness
    * (a J ≥ τ pair must share a shingle inside EITHER member's prefix,
    * by pigeonhole on the ⌈τ·n⌉−1-sized excluded suffix) holds for ANY
    * consistent order of the prefix-side doc, so the arrival-side
    * prefix joined against the standing FULL postings index is a
    * complete candidate generator without ever re-ranking standing
    * documents under a merged df.
    */
  private def caPrefixes(sets: DataFrame): DataFrame = {
    val sh = sets.select(col("doc_id"), col("n"), explode(col("shs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ranked"))
      .select(col("doc_id"), explode(expr(
        s"""slice(ranked, 1,
           |  CAST(size(ranked) - ceil(${Dedup.JACCARD_THRESHOLD} * size(ranked)) + 1 AS INT))"""
          .stripMargin)).as("r"))
      .select(col("doc_id"), col("r.h").as("h"))
  }

  /** INCREMENTAL corpus-rejection audit — the text-side capstone of the
    * FitStore story and the twin of
    * [[graft.ops.Multimodal.assemblyIncremental]]: an ARRIVAL batch
    * receives its first-failing-stage verdict against STANDING state,
    * result ≡ the batch [[corpusRejections]] restricted to arrivals.
    *
    *  - `contaminated`: arrival shingles probe the standing bench-hash
    *    set UNIONED with the batch's own bench arrivals;
    *  - `exact_dup`: one standing fp-set probe + the within-batch rank;
    *  - `near_dup`: arrival prefixes (batch-local df order — complete by
    *    the pigeonhole argument, see [[caPrefixes]]) join the standing
    *    POSTINGS index, candidates verify exactly against the standing
    *    shingle arrays; within-batch pairs run the regular AllPairs.
    *    Arrivals carry the highest ids, so they are always the losing
    *    side and standing keepers never move;
    *  - `weak_domain` / mix rates: standing per-(source, lang) gated
    *    (Σq, Σtokens, n) MINUS the standing docs newly burned by
    *    arriving benchmark shingles (a postings-bounded probe, the one
    *    retroactive correction the split leaves) PLUS the batch's own
    *    partial — merged means and rates are then exactly the
    *    full-corpus numbers.
    *
    * Per-batch cost: O(batch + index matches); the standing corpus is
    * probed through its persisted indexes, never re-scanned.
    */
  /** Standing-fingerprint exact-dup probe for the incremental rejection
    * audit: an arrival is a dup iff a STANDING holder of its fingerprint
    * exists, or a smaller-id arrival in the same batch holds it (the
    * within-batch rank). The fp index is one row per distinct standing
    * document — corpus-proportional — so this join must NEVER carry a
    * static broadcast hint (at 100 TB it is billions of rows and the
    * hint becomes a driver OOM at exactly the scale the operator exists
    * for). AQE sizes it at runtime: small standing corpora still
    * broadcast, large ones shuffle on fp — the same no-static-hint
    * discipline as the decontam scrub join. PlanSpec guards the
    * hint-free shape on this method's own plan (the final query
    * checkpoints the flag frame, hiding this join behind ExistingRDD).
    */
  private[graft] def standingFpProbe(arrivals: DataFrame,
      fpIdx: DataFrame): DataFrame = {
    val wfp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    arrivals
      .select(col("doc_id"), Dedup.exactFp(col("text")).as("fp"))
      .join(fpIdx.withColumn("st_hit", lit(true)), Seq("fp"), "left")
      .withColumn("rn", row_number().over(wfp))
      .select(col("doc_id"),
        (col("st_hit").isNotNull || col("rn") > 1).as("is_dup"))
  }

  private[graft] def rejectionsIncremental(arrivals: DataFrame,
      benchH: DataFrame, fpIdx: DataFrame, postings: DataFrame,
      sets: DataFrame, docStats: DataFrame,
      aSets: DataFrame, abench: DataFrame): DataFrame =
    rejStreamFinish(
      rejStreamFlags(arrivals, aSets, fpIdx, postings, sets),
      aSets.select(col("doc_id"), explode(col("shs")).as("h")),
      abench, benchH, postings, docStats)

  /** The arrival side of the incremental audit, both pinned: the
    * arrivals' shingle sets and the distinct shingle hashes of the bench
    * docs among them.
    */
  private[graft] def arrivalSets(arrivals: DataFrame): (DataFrame, DataFrame) = {
    val aSets = caShingleSets(arrivals).localCheckpoint()
    (aSets, aSets.filter(col("doc_id") % lit(DECONTAM_MOD) === 0)
      .select(explode(col("shs")).as("h")).distinct().localCheckpoint())
  }

  /** The batch-decomposition-INVARIANT half of the rejection audit:
    * per-arrival quality, the exact-dup verdict (fp-index probe +
    * within-batch rank) and the near-dup verdict (batch-local-order
    * prefixes vs the supplied postings index + within-batch AllPairs) —
    * the stages whose outcomes are final the moment the batch closes
    * under the id-ordered clock (a smaller-id holder never arrives
    * later; the loser of a near-pair is always the later side).
    * Contamination, domain gating and mix rates are END-OF-WINDOW
    * statistics (the bench suite and corpus stats seal with the window)
    * and live in [[rejStreamFinish]]. One row per arrival:
    * (doc_id, lang, source, n_tokens, quality_score, is_dup, is_loser).
    * This form self-counts the arrival slice (`batchBounded = false` in
    * [[rejFlags]]), as the one-shot incremental audit needs.
    */
  private[graft] def rejStreamFlags(arrivals: DataFrame, aSets: DataFrame,
      fpIdxAll: DataFrame, postingsAll: DataFrame, setsAll: DataFrame): DataFrame =
    rejFlags(arrivals, aSets, fpIdxAll, postingsAll, setsAll, batchBounded = false)

  /** [[rejStreamFlags]] with the within-batch size dispatch named by the
    * caller (`batchBounded`, below). The streaming replay calls this per
    * micro-batch with the supplied indexes carrying standing ∪ earlier
    * arrivals.
    */
  private[graft] def rejFlags(arrivals: DataFrame, aSets: DataFrame,
      fpIdxAll: DataFrame, postingsAll: DataFrame,
      setsAll: DataFrame, batchBounded: Boolean): DataFrame = {
    val aq = quality(arrivals)
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_tokens"), col("quality_score"))
    // exact dup: index probe + within-batch rank
    val exactA = standingFpProbe(arrivals, fpIdxAll)
    // near dup: postings probe + within-batch AllPairs
    val jt = Dedup.JACCARD_THRESHOLD
    val candsStanding = caPrefixes(aSets)
      .join(postingsAll.select(col("h"), col("doc_id").as("sd")), Seq("h"))
      .select(col("doc_id"), col("sd")).distinct()
    val jacc = col("c").cast("double") /
      (col("n1") + col("n2") - col("c")).cast("double")
    val lossStanding = candsStanding
      .join(aSets.select(col("doc_id"), col("shs").as("shs1"), col("n").as("n1")),
        Seq("doc_id"))
      .join(setsAll.select(col("doc_id").as("sd"), col("shs").as("shs2"),
        col("n").as("n2")), Seq("sd"))
      .filter(col("n1") * jt <= col("n2") && col("n2") * jt <= col("n1"))
      .withColumn("c", ArrayFunctions.sortedIntersectCount(col("shs1"), col("shs2")))
      .filter(jacc >= jt)
      .select(col("doc_id"))
    // within-batch AllPairs over the ALREADY-built (and checkpointed)
    // arrival set table — no re-shingling (round-14 advice). The
    // dispatch hint is the CALLER's claim, not this seam's: a streaming
    // micro-batch is bounded by its trigger far below the grouped
    // kernel's pin (batchBounded = true skips the count job and pins
    // the join form), while the ONE-SHOT incremental's "arrivals" slice
    // is corpus-proportional (20% of docs) and must self-count so the
    // size dispatch can take the survivable grouped kernel past the pin
    // (round-14 self-review: hard-coding 0 here forced the join form at
    // exactly the scale it dies at).
    val lossBatch = Dedup.ngramJaccardPairsFromSets(aSets,
        nDocsHint = if (batchBounded) 0L else -1L)
      .select(col("d2").as("doc_id"))
    val loserA = lossStanding.unionByName(lossBatch).distinct()
      .withColumn("is_loser", lit(true))
    aq
      .join(exactA, Seq("doc_id"))
      .join(loserA, Seq("doc_id"), "left")
  }

  /** The end-of-window half: contamination against the SEALED bench
    * suite (standing ∪ every arrival bench doc), the standing-stats burn
    * correction (a postings-bounded probe), the merged per-(source,
    * lang) gated stats → domain gate → mix rates, and the first-failing-
    * stage projection. Shared verbatim by the one-shot incremental and
    * the streaming drain, so the two cannot drift. `arrPostings` is the
    * accumulated (doc_id, h) index of ALL arrivals — in the stream, the
    * index the replay built batch by batch.
    */
  private[graft] def rejStreamFinish(flagsIn: DataFrame, arrPostings: DataFrame,
      abenchAll: DataFrame, benchH: DataFrame, postings: DataFrame,
      docStats: DataFrame): DataFrame = {
    val isBenchA = col("doc_id") % lit(DECONTAM_MOD) === 0
    val allBench = benchH.unionByName(abenchAll).distinct()
    val contamA = arrPostings.filter(!isBenchA)
      .join(broadcast(allBench), Seq("h"))
      .select(col("doc_id")).distinct().withColumn("is_contam", lit(true))
    // gated stats: standing (corrected for arrival-bench burn) + arrivals
    val burned = abenchAll.join(postings, Seq("h"))
      .select(col("doc_id")).distinct().withColumn("burn", lit(true))
    val sStats = docStats.filter(col("gated"))
      .join(burned, Seq("doc_id"), "left").filter(col("burn").isNull)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("quality_score")).as("sq"),
        sum(col("n_tokens")).as("st"))
    val flagsA = flagsIn
      .join(contamA, Seq("doc_id"), "left")
      .localCheckpoint()
    val bStats = flagsA.filter(!isBenchA && col("is_contam").isNull &&
        !col("is_dup") && col("is_loser").isNull &&
        col("quality_score") >= QUALITY_MIN)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("quality_score")).as("sq"),
        sum(col("n_tokens")).as("st"))
    val merged = sStats.unionByName(bStats)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n")).as("n"), sum(col("sq")).as("sq"), sum(col("st")).as("st"))
      .localCheckpoint()
    val bySrc = merged.groupBy(col("source"))
      .agg((sum(col("sq")) / sum(col("n")).cast("double")).as("avg_raw"))
      .select(col("source"), round(col("avg_raw"), 6).as("avg_q"))
    val overall = merged.agg(
      round(sum(col("sq")) / sum(col("n")).cast("double"), 6).as("corpus_avg"))
    val goodSrc = bySrc.crossJoin(broadcast(overall))
      .filter(col("avg_q") >= col("corpus_avg"))
      .select(col("source"), lit(true).as("good_src"))
    val perLang = merged.join(broadcast(goodSrc), Seq("source"), "left_semi")
      .groupBy(col("lang")).agg(sum(col("st")).as("lang_tokens"))
    val totals = perLang.agg(sum(col("lang_tokens")).as("corpus_tokens"))
    val rates = mixRates(perLang, totals).select(col("lang"), col("rate"))
    val bucket = md5Bucket(col("doc_id"))
    flagsA
      .join(broadcast(goodSrc), Seq("source"), "left")
      .join(broadcast(rates), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(isBenchA, "benchmark")
          .when(col("is_contam").isNotNull, "contaminated")
          .when(col("is_dup"), "exact_dup")
          .when(col("is_loser").isNotNull, "near_dup")
          .when(col("quality_score") < QUALITY_MIN, "low_quality")
          .when(col("good_src").isNull, "weak_domain")
          .when(col("rate").isNull, "no_mix_share")
          .when(bucket.cast("double") >= col("rate") * lit(4294967296.0),
            "sampled_out")
          .otherwise("kept").as("reason"))
  }

  /** The gated incremental audit: top-fifth arrivals against four
    * FitStore-persisted standing artifacts (bench hashes, fp set,
    * shingle postings + arrays, per-doc gated stats). Oracle = the
    * batch audit restricted to the arrival ids.
    */
  def textCorpusRejectionsIncremental(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val t = caThreshold(docs)
    val arrivals = docs.filter(col("doc_id") >= t)
    // the arrival-side shingle chain (aSets → abench pins) touches only
    // the arrival slice and is independent of all five standing builds —
    // overlap the two chains so the probe prep rides the standing fit's
    // idle capacity (guide §2.6; bounded pool, Overlap.scala)
    val ((benchH, fpIdx, sets, postings, docStats), (aSets, abench)) = Overlap.all2(
      sharedCaState(spark, sfDir), arrivalSets(arrivals))
    rejectionsIncremental(arrivals, benchH, fpIdx, postings, sets, docStats,
      aSets, abench)
  }

  /** The five FitStore-persisted standing artifacts the incremental AND
    * streaming audits probe: bench hashes, fp set, shingle arrays, the
    * full postings index, per-doc gated stats.
    */
  private[graft] def sharedCaState(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (sets, fpIdx, postings, benchHJ, docStatsJ) =
      sharedCaStateAsync(spark, sfDir)
    (benchHJ(), fpIdx, sets, postings, docStatsJ())
  }

  /** [[sharedCaState]] split by WHEN each artifact is consumed: the
    * three the audits probe per batch (sets, fp index, postings)
    * returned built, and the two only the end-of-window finish reads
    * (bench hashes, doc stats) returned as JOIN handles on an async
    * build — the streaming replay starts its stream as soon as the
    * per-batch state is ready and the drain-only fits build while the
    * stream runs (guide §2.6). Same memo keys, same frames; only the
    * join point moves. The caller joins or cancels the two handles.
    */
  private[graft] def sharedCaStateAsync(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame, Overlap.Handle[DataFrame],
         Overlap.Handle[DataFrame]) = {
    val docs = Tables.documents(spark, sfDir)
    val t = caThreshold(docs)
    val standing = docs.filter(col("doc_id") < t)
    def kept(name: String)(f: => DataFrame): DataFrame =
      SharedFits.memo(spark, s"$name:$sfDir") {
        FitStore.frame(spark, name, FitStore.documentsFp(spark, sfDir, None)) { f }
          .localCheckpoint()
      }
    // one shingle pass feeds all four shingle-derived artifacts: sets is
    // built (and checkpointed) first, then bench hashes, postings and the
    // doc-stats near-dup chain DERIVE from it — the fit used to re-run
    // caShingleSets over the standing corpus four times for identical
    // arrays (the id filter commutes with shingling, so the bench-doc
    // slice of `sets` is exactly the bench docs' shingle sets)
    val sets = kept("ca_sets_t80") { caShingleSets(standing) }
    // the four remaining builds are independent of each other (three
    // derive from the checkpointed `sets`, the fp index from the raw
    // text); their checkpoint jobs were strictly sequential only because
    // this method called them sequentially — overlapping them lets each
    // build's straggler tail back-fill the 32 cores (guide §2.6 shape;
    // memo keys are distinct, so the concurrent SharedFits writes are
    // the documented benign case)
    // (bounded dedicated pool per the round-15 verdict, Overlap.scala)
    // drain-only pair first — their handles outlive this call
    val late = Overlap.begin(Seq(
      () => kept("ca_bench_h_t80") {
        sets.filter(col("doc_id") % lit(DECONTAM_MOD) === 0)
          .select(explode(col("shs")).as("h")).distinct()
      },
      () => kept("ca_doc_stats_t80") { caDocStats(standing, sets) }), cap = 2)
    val r = try Overlap.all(Seq(
      () => kept("ca_fp_idx_t80") {
        standing.select(Dedup.exactFp(col("text")).as("fp")).distinct()
      },
      () => kept("ca_postings_t80") {
        sets.select(col("doc_id"), explode(col("shs")).as("h"))
      }), Overlap.DEFAULT_CAP)
    catch { case e: Throwable => late.foreach(_.cancel()); throw e }
    (sets, r(0), r(1), late(0), late(1))
  }

  lazy val textCorpusRejectionsIncrementalSql: String =
    s"""SELECT doc_id, lang, source, reason
       |FROM ($textCorpusRejectionsSql) r
       |WHERE doc_id >= (SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT)
       |                 FROM documents)""".stripMargin

  lazy val textCorpusRejectionsSql: String =
    s"""$assemblyPrefixSql,
       |allq AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |         round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |               * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |           AS qs
       |  FROM documents d JOIN stats s ON d.doc_id = s.doc_id)
       |SELECT a.doc_id, a.lang, a.source,
       |       CASE
       |         WHEN a.doc_id % $DECONTAM_MOD = 0 THEN 'benchmark'
       |         WHEN a.doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
       |         WHEN a.doc_id NOT IN (SELECT doc_id FROM keep) THEN 'exact_dup'
       |         WHEN a.doc_id IN (SELECT doc_id FROM losers) THEN 'near_dup'
       |         WHEN a.qs < $QUALITY_MIN THEN 'low_quality'
       |         WHEN a.source NOT IN (SELECT source FROM goodsrc) THEN 'weak_domain'
       |         WHEN rt.rate IS NULL THEN 'no_mix_share'
       |         WHEN CAST(CAST(('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |              AS DOUBLE) >= rt.rate * CAST(4294967296 AS DOUBLE) THEN 'sampled_out'
       |         ELSE 'kept'
       |       END AS reason
       |FROM allq a LEFT JOIN rt ON a.lang = rt.lang""".stripMargin

  /** Per-source length-outlier flagging (winsorization prep): exact
    * type-7 percentile bounds of token count per source (one hash
    * aggregation — |sources| rows, broadcast back), then a stateless
    * flag per document. Truncation/length spikes are the classic sign
    * of extraction failures, and per-SOURCE bounds matter because
    * lengths are domain-relative (tweets vs papers). Spark `percentile`
    * and DuckDB `quantile_cont` share type-7 interpolation.
    */
  def lengthOutliers(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    val bounds = perDoc.groupBy(col("source"))
      .agg(round(expr("percentile(n_tokens, 0.05)"), 6).as("p05"),
        round(expr("percentile(n_tokens, 0.95)"), 6).as("p95"))
    perDoc.join(broadcast(bounds), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("p05"), col("p95"),
        (col("n_tokens").cast("double") < col("p05") ||
          col("n_tokens").cast("double") > col("p95")).as("outlier"))
  }

  def textLengthOutliers(spark: SparkSession, sfDir: String): DataFrame =
    lengthOutliers(Tables.documents(spark, sfDir))

  val textLengthOutliersSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |pd AS (
       |  SELECT d.doc_id, d.source, n.n_tokens
       |  FROM documents d JOIN n ON d.doc_id = n.doc_id),
       |bounds AS (
       |  SELECT source, round(quantile_cont(n_tokens, 0.05), 6) AS p05,
       |         round(quantile_cont(n_tokens, 0.95), 6) AS p95
       |  FROM pd GROUP BY 1)
       |SELECT p.doc_id, p.source, p.n_tokens, b.p05, b.p95,
       |       (CAST(p.n_tokens AS DOUBLE) < b.p05
       |        OR CAST(p.n_tokens AS DOUBLE) > b.p95) AS outlier
       |FROM pd p JOIN bounds b ON p.source = b.source""".stripMargin

  /** Domain-shift scoring per source: cross-entropy and KL divergence of
    * each source's unigram distribution against the whole-corpus LM — the
    * signal behind domain up/down-weighting (DoReMi-style mixture tuning)
    * and drift alarms on a recurring crawl: a source whose KL jumps
    * changed its content mix. Three hash aggregations, all keyed no wider
    * than (source, token); the global distribution is vocabulary-sized
    * and broadcasts. Terms with zero source count contribute zero to both
    * sums, so summing over present (source, token) rows is exact.
    */
  def domainShift(docs: DataFrame): DataFrame = {
    val srcCnt = docs
      .select(col("source"), explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c_sw"))
      .localCheckpoint() // feeds the per-source, global, and scoring plans
    val srcTot = srcCnt.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val glob = srcCnt.groupBy(col("tok")).agg(sum(col("c_sw")).as("c_w"))
    val tot = glob.agg(sum(col("c_w")).as("total"))
    val pg = glob.crossJoin(broadcast(tot))
      .select(col("tok"),
        (col("c_w").cast("double") / col("total").cast("double")).as("pg"))
    val ps = col("c_sw").cast("double") / col("n_s").cast("double")
    srcCnt
      .join(broadcast(pg), Seq("tok"))
      .join(broadcast(srcTot), Seq("source"))
      .groupBy(col("source"))
      .agg(min(col("n_s")).cast("long").as("n_tokens"),
        round(sum(-ps * log(col("pg"))), 6).as("cross_entropy"),
        round(sum(ps * log(ps / col("pg"))), 6).as("kl_divergence"))
  }

  def textDomainShift(spark: SparkSession, sfDir: String): DataFrame =
    domainShift(Tables.documents(spark, sfDir))

  val textDomainShiftSql: String =
    """WITH stok AS (
      |  SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
      |  FROM documents),
      |sc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_sw FROM stok GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sc GROUP BY 1),
      |g AS (SELECT tok, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sc GROUP BY 1),
      |t AS (SELECT CAST(sum(c_w) AS BIGINT) AS total FROM g),
      |p AS (SELECT tok, CAST(c_w AS DOUBLE) / CAST(t.total AS DOUBLE) AS pg FROM g, t)
      |SELECT sc.source, CAST(min(st.n_s) AS BIGINT) AS n_tokens,
      |       round(sum(-(CAST(sc.c_sw AS DOUBLE) / CAST(st.n_s AS DOUBLE)) * ln(p.pg)), 6)
      |         AS cross_entropy,
      |       round(sum((CAST(sc.c_sw AS DOUBLE) / CAST(st.n_s AS DOUBLE))
      |                 * ln((CAST(sc.c_sw AS DOUBLE) / CAST(st.n_s AS DOUBLE)) / p.pg)), 6)
      |         AS kl_divergence
      |FROM sc
      |JOIN st ON sc.source = st.source
      |JOIN p ON sc.tok = p.tok
      |GROUP BY 1""".stripMargin

  /** CCNet-style perplexity bucketing: per language, documents split into
    * head / middle / tail by their LM score terciles (here the corpus
    * unigram LM of [[unigramLogprob]]; CCNet uses a wiki-trained KenLM —
    * same shape, different reference model). Downstream pipelines keep
    * head+middle or reweight by bucket. Terciles are exact type-7
    * percentiles per language — a |languages|-row aggregate broadcast
    * back — and the bucket label is a stateless comparison against the
    * round-pinned bounds, so both engines label identically.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint() // feeds the tercile agg and the labeling join
    val bounds = scored.groupBy(col("lang"))
      .agg(
        round(expr("percentile(avg_neg_logprob, CAST(1 AS DOUBLE)/3)"), 6).as("b1"),
        round(expr("percentile(avg_neg_logprob, CAST(2 AS DOUBLE)/3)"), 6).as("b2"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_neg_logprob"),
        when(col("avg_neg_logprob") <= col("b1"), lit("head"))
          .when(col("avg_neg_logprob") <= col("b2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  def textPplBuckets(spark: SparkSession, sfDir: String): DataFrame =
    pplBuckets(Tables.documents(spark, sfDir))

  val textPplBucketsSql: String =
    s"""WITH u AS ($textUnigramLogprobSql),
       |sl AS (
       |  SELECT u.doc_id, d.lang, u.avg_neg_logprob
       |  FROM u JOIN documents d ON u.doc_id = d.doc_id),
       |b AS (
       |  SELECT lang,
       |         round(quantile_cont(avg_neg_logprob, CAST(1 AS DOUBLE)/3), 6) AS b1,
       |         round(quantile_cont(avg_neg_logprob, CAST(2 AS DOUBLE)/3), 6) AS b2
       |  FROM sl GROUP BY 1)
       |SELECT sl.doc_id, sl.lang, sl.avg_neg_logprob,
       |       CASE WHEN sl.avg_neg_logprob <= b.b1 THEN 'head'
       |            WHEN sl.avg_neg_logprob <= b.b2 THEN 'middle'
       |            ELSE 'tail' END AS ppl_bucket
       |FROM sl JOIN b ON sl.lang = b.lang""".stripMargin

  /** Merge rounds for [[bpeTrain]]. */
  val BPE_TRAIN_ROUNDS = 6

  /** BPE vocabulary TRAINING — the other half of the tokenizer story
    * (the merge-table tokenizer applies a vocab; this learns one from
    * the corpus). Classic Sennrich et al. word-level BPE: count corpus
    * word frequencies once, encode each word as |-delimited symbols,
    * then per round (a) sum adjacent-symbol-pair counts weighted by word
    * frequency, (b) take the most frequent pair (lexicographic
    * tie-break), (c) merge it everywhere. Returns the learned merge
    * table (round, pair, merged symbol, count) — the model artifact a
    * tokenizer ships.
    *
    * Scale shape: the iterating state is ONE (pair, count) row per
    * round — model state, collected to the driver exactly like the
    * k-means centroids — while the corpus-sized work stays distributed:
    * the word-frequency table (vocabulary-sized, not corpus-sized —
    * the explode/count happens once) is checkpointed, and each round is
    * one pair-explode aggregation plus a literal-pattern `regexp_replace`
    * projection. M rounds = M bounded jobs; nothing quadratic anywhere.
    * The oracle unrolls the same rounds as CTE blocks.
    */
  def bpeTrain(docs: DataFrame, rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    // Symbols are DOUBLE-pipe separated with double-pipe sentinels at
    // both ends ("||l||o||w||"), and a merge of (a, b) replaces
    // "|a||b|" with "|ab|". The surrounding single pipes make the
    // pattern match only COMPLETE symbols — with single separators,
    // replace("e|s") would also fire inside "we|s" (symbol "we" ends in
    // 'e'), silently merging a pair that was never learned — and the
    // doubling leaves adjacent occurrences ("||a||b||a||b||") nothing
    // to share, so leftmost non-overlapping replace merges both, exactly
    // like the sequential BPE scan.
    // Words containing a literal '|' would be indistinguishable from the
    // delimiters (and the oracle's replace(pair,'|','||') mangles them
    // differently) — exclude them on BOTH sides rather than drift.
    // split(word, "") keeps a trailing "" (Java split limit -1); build
    // enc from the nonempty symbols only, like the oracle's string_split.
    var cur = docs
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(!col("word").contains("|"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("enc",
        concat(lit("||"),
          concat_ws("||", expr("filter(split(word, ''), x -> x != '')")),
          lit("||")))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 0 until rounds) {
      val best = cur
        .select(col("freq"),
          expr("filter(split(enc, '\\\\|\\\\|'), x -> x != '')").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> concat(element_at(t, i), '|', element_at(t, i + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .agg(min(struct((-col("cnt")).as("nc"), col("pair").as("pair"))).as("b"))
        .select(col("b.pair").as("pair"), (-col("b.nc")).as("cnt"))
        .collect()(0)
      val pair = best.getString(0)
      val Array(a, b) = pair.split("\\|", 2)
      val merged = a + b
      merges += ((r.toLong, pair, merged, best.getLong(1)))
      cur = cur.withColumn("enc", regexp_replace(col("enc"),
        lit(java.util.regex.Pattern.quote(s"|$a||$b|")),
        lit(java.util.regex.Matcher.quoteReplacement(s"|$merged|"))))
    }
    spark.createDataFrame(merges.result())
      .toDF("merge_round", "pair", "merged", "cnt")
  }

  def textBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    FitStore.frame(spark, "bpe_merges", FitStore.documentsFp(spark, sfDir, None)) {
      bpeTrain(Tables.documents(spark, sfDir), BPE_TRAIN_ROUNDS)
    }

  /** The same rounds unrolled: wf_r → pair counts p_r → best_r (1 row)
    * → wf_{r+1} via literal replace.
    */
  val textBpeTrainSql: String = {
    val rounds = (0 until BPE_TRAIN_ROUNDS).map { r =>
      s"""p$r AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(generate_series(1, len(toks) - 1),
         |                        i -> toks[i] || '|' || toks[i + 1])) AS pair
         |    FROM (SELECT freq,
         |                 list_filter(string_split(enc, '||'), x -> x <> '') AS toks
         |          FROM wf$r))
         |  GROUP BY 1),
         |best$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |wf${r + 1} AS (
         |  SELECT word, freq,
         |         replace(enc,
         |                 '|' || replace((SELECT pair FROM best$r), '|', '||') || '|',
         |                 '|' || replace((SELECT pair FROM best$r), '|', '') || '|') AS enc
         |  FROM wf$r)""".stripMargin
    }.mkString(",\n")
    val selects = (0 until BPE_TRAIN_ROUNDS).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_round, pair,
         |       replace(pair, '|', '') AS merged, cnt FROM best$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH wf0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |         '||' || array_to_string(string_split(word, ''), '||') || '||' AS enc
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
       |  WHERE word NOT LIKE '%|%'
       |  GROUP BY 1),
       |$rounds
       |$selects""".stripMargin
  }

  /** Target mixture shares per language for [[mixSample]] and the token
    * budget as a fraction of the corpus. The `de` share deliberately
    * exceeds its natural proportion so the rate cap (`min(1, ·)`)
    * is exercised: you cannot up-sample past 100% without repetition
    * (epoch weighting is a trainer concern, not a sampler one).
    */
  val MIX_SHARES: Seq[(String, Double)] = Seq(
    "en" -> 0.3, "de" -> 0.3, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1)
  val MIX_BUDGET_FRAC = 0.5

  /** (lang, rate, …) table shared by [[mixSample]] and
    * [[corpusAssembly]]: rate = min(1, share·budget/stratum_tokens),
    * round-pinned. `perLang` must carry (lang, lang_tokens); extra
    * columns pass through.
    */
  private def mixRates(perLang: DataFrame, totals: DataFrame): DataFrame = {
    val shares = perLang.sparkSession.createDataFrame(MIX_SHARES)
      .toDF("lang", "share")
    perLang
      .join(broadcast(shares), Seq("lang"))
      .crossJoin(broadcast(totals))
      .withColumn("rate", least(lit(1.0),
        round(col("share") * lit(MIX_BUDGET_FRAC) * col("corpus_tokens")
          / col("lang_tokens"), 6)))
      .drop("share", "corpus_tokens")
  }

  /** Data-mixture sampling — the pretraining mixing step: given target
    * shares per language and a total token budget, compute each
    * stratum's sampling rate and draw a deterministic md5-bucket sample
    * at that rate. Selection compares the document's 32-bit hash bucket
    * against rate·2³² — multiplying the round-pinned rate by a power of
    * two is exact, so both engines draw the identical document set.
    * Emits the per-language mixing report (natural size, rate, achieved
    * sample) — the table a data lead signs off on before a run.
    *
    * Shape: one narrow projection for buckets/counts, two hash
    * aggregations for the stratum and corpus totals, and a broadcast of
    * the |languages|-row rate table back onto the projection. The rate
    * math never touches the driver.
    */
  def mixSample(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(col("doc_id"), col("lang"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
      md5Bucket(col("doc_id")).as("bucket"))
    val totals = perDoc.agg(sum(col("n_tokens")).as("corpus_tokens"))
    val rates = mixRates(perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens")),
      totals)
    val sampled = perDoc
      .join(broadcast(rates.select(col("lang"), col("rate"))), Seq("lang"))
      .filter(col("bucket").cast("double") < col("rate") * lit(4294967296.0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("sampled_docs"), sum(col("n_tokens")).as("sampled_tokens"))
    rates.join(sampled, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("lang_tokens"), col("rate"),
        coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
  }

  def textMix(spark: SparkSession, sfDir: String): DataFrame =
    mixSample(Tables.documents(spark, sfDir))

  val textMixSql: String = {
    val shareRows = MIX_SHARES
      .map { case (l, s) => s"('$l', CAST($s AS DOUBLE))" }.mkString(", ")
    s"""WITH pd AS (
       |  SELECT doc_id, lang,
       |         CAST(length(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
       |  FROM documents),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM pd),
       |shr(lang, share) AS (VALUES $shareRows),
       |rt AS (
       |  SELECT bl.lang, bl.n_docs, bl.lang_tokens,
       |         least(1.0, round(s.share * $MIX_BUDGET_FRAC * t.corpus_tokens
       |                          / bl.lang_tokens, 6)) AS rate
       |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |               CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
       |        FROM pd GROUP BY 1) bl
       |  JOIN shr s ON bl.lang = s.lang CROSS JOIN tot t),
       |smp AS (
       |  SELECT p.lang, CAST(count(*) AS BIGINT) AS sampled_docs,
       |         CAST(sum(p.n_tokens) AS BIGINT) AS sampled_tokens
       |  FROM pd p JOIN rt ON p.lang = rt.lang
       |  WHERE CAST(p.bucket AS DOUBLE) < rt.rate * CAST(4294967296 AS DOUBLE)
       |  GROUP BY 1)
       |SELECT r.lang, r.n_docs, r.lang_tokens, r.rate,
       |       coalesce(s.sampled_docs, 0) AS sampled_docs,
       |       coalesce(s.sampled_tokens, 0) AS sampled_tokens
       |FROM rt r LEFT JOIN smp s ON r.lang = s.lang""".stripMargin
  }

  /** Domain-level filtering (the C4/RefinedWeb move): instead of — or
    * before — per-document gates, aggregate quality per SOURCE and keep
    * or drop whole domains relative to the corpus mean. Two hash
    * aggregations over the zero-shuffle per-document quality projection;
    * the corpus mean is a 1-row broadcast. The keep decision compares
    * round-pinned averages, so both engines gate identically.
    */
  def domainFilter(docs: DataFrame): DataFrame = {
    val q = quality(docs)
    val bySrc = q.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality_score")), 6).as("avg_quality"))
    val overall = q.agg(round(avg(col("quality_score")), 6).as("corpus_avg"))
    bySrc.crossJoin(broadcast(overall))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("avg_quality"), col("corpus_avg"),
        (col("avg_quality") >= col("corpus_avg")).as("keep"))
  }

  def textDomainFilter(spark: SparkSession, sfDir: String): DataFrame =
    domainFilter(Tables.documents(spark, sfDir))

  val textDomainFilterSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id, d.source, s.n_tokens,
       |         round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |               * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |           AS quality_score
       |  FROM documents d JOIN stats s ON d.doc_id = s.doc_id),
       |bysrc AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         round(avg(quality_score), 6) AS avg_quality
       |  FROM scored GROUP BY 1),
       |overall AS (SELECT round(avg(quality_score), 6) AS corpus_avg FROM scored)
       |SELECT b.source, b.n_docs, b.total_tokens, b.avg_quality, o.corpus_avg,
       |       b.avg_quality >= o.corpus_avg AS keep
       |FROM bysrc b CROSS JOIN overall o""".stripMargin

  /** The one-row corpus report card — the number a data lead reads after
    * every load: corpus size and slice counts, token volume, exact-dup
    * water level, PII incidence, and mean quality. Everything is a single
    * pass over documents plus three 1-row aggregates cross-joined
    * (broadcast-sized); dup/near-dup PROFILES stay in their own queries —
    * this is the cheap always-on summary, not the pair index.
    */
  def corpusReport(docs: DataFrame): DataFrame = {
    val base = quality(docs).agg(
      count(lit(1)).cast("long").as("n_docs"),
      countDistinct(col("source")).cast("long").as("n_sources"),
      countDistinct(col("lang")).cast("long").as("n_langs"),
      sum(col("n_tokens")).cast("long").as("total_tokens"),
      round(avg(col("n_tokens")), 6).as("mean_doc_tokens"),
      round(avg(col("quality_score")), 6).as("mean_quality"))
    val dups = Dedup.exactGroups(docs).agg(
      sum(when(col("dup_count") > 1, 1L).otherwise(0L)).cast("long")
        .as("exact_dup_groups"),
      sum(col("dup_count") - 1).cast("long").as("exact_dup_docs"))
    val pii = piiScrub(docs).agg(
      sum(when(col("n_emails") + col("n_long_numbers") > 0, 1L).otherwise(0L))
        .cast("long").as("pii_docs"))
    base.crossJoin(dups).crossJoin(pii)
  }

  def textCorpusReport(spark: SparkSession, sfDir: String): DataFrame =
    corpusReport(Tables.documents(spark, sfDir))

  val textCorpusReportSql: String =
    s"""WITH q AS ($textQualitySql),
       |base AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |         round(avg(n_tokens), 6) AS mean_doc_tokens,
       |         round(avg(quality_score), 6) AS mean_quality
       |  FROM q),
       |g AS (SELECT ${Dedup.EXACT_FP_SQL} AS fp, count(*) AS c
       |      FROM documents GROUP BY 1),
       |dups AS (
       |  SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup_groups,
       |         CAST(sum(c - 1) AS BIGINT) AS exact_dup_docs
       |  FROM g),
       |p AS ($textPiiScrubSql),
       |pii AS (
       |  SELECT CAST(sum(CASE WHEN n_emails + n_long_numbers > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS pii_docs
       |  FROM p)
       |SELECT b.n_docs, b.n_sources, b.n_langs, b.total_tokens, b.mean_doc_tokens,
       |       b.mean_quality, d.exact_dup_groups, d.exact_dup_docs, i.pii_docs
       |FROM base b CROSS JOIN dups d CROSS JOIN pii i""".stripMargin

  // --------------------------------------------------------------------
  // Quality-budgeted selection (per-source nucleus)
  // --------------------------------------------------------------------

  /** Token budget per source as a percentage of the source's total. */
  val QUALITY_BUDGET_PCT = 50L

  /** Quality-budgeted selection — per-source nucleus sampling: rank each
    * source's documents by quality (ties on doc_id), keep from the top
    * until the kept token mass would exceed [[QUALITY_BUDGET_PCT]]% of
    * the source's tokens, and report what survived. This is curation
    * under an explicit token budget ("ship the best half of every
    * source"), the selection rule quality-filter pipelines actually run
    * — a fixed threshold keeps unpredictable mass, a budget keeps a
    * predictable one. The cumulative sum is a per-source window over
    * exact integer token counts (budget test in integer cross-multiplied
    * form — no float drift), so the kept set is bit-identical across
    * engines.
    */
  def qualityBudget(docs: DataFrame): DataFrame = {
    val q = quality(docs)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality_score"))
    val wCum = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    q.withColumn("cum", sum(col("n_tokens")).over(wCum))
      .withColumn("tot", sum(col("n_tokens")).over(wAll))
      .filter(col("cum") * 100 <= col("tot") * QUALITY_BUDGET_PCT)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs_kept"),
        sum(col("n_tokens")).cast("long").as("tokens_kept"),
        max(col("tot")).cast("long").as("source_tokens"),
        round(min(col("quality_score")), 6).as("cutoff_quality"))
  }

  def textQualityBudget(spark: SparkSession, sfDir: String): DataFrame =
    qualityBudget(Tables.documents(spark, sfDir))

  val textQualityBudgetSql: String =
    s"""WITH q AS ($textQualitySql),
       |c AS (
       |  SELECT source, n_tokens, quality_score,
       |         sum(n_tokens) OVER (PARTITION BY source
       |                             ORDER BY quality_score DESC, doc_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(n_tokens) OVER (PARTITION BY source) AS tot
       |  FROM q)
       |SELECT source,
       |       CAST(count(*) AS BIGINT) AS n_docs_kept,
       |       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       |       CAST(max(tot) AS BIGINT) AS source_tokens,
       |       round(min(quality_score), 6) AS cutoff_quality
       |FROM c
       |WHERE cum * 100 <= tot * $QUALITY_BUDGET_PCT
       |GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Pack capacity sweep
  // --------------------------------------------------------------------

  /** Candidate sequence lengths for the packing-efficiency sweep. */
  val PACK_SWEEP_CAPACITIES: Seq[Long] = Seq(64L, 128L, 256L, 512L)

  /** Packing-efficiency sweep: for each candidate sequence capacity,
    * what the contiguous pack layout costs — sequence count, documents
    * split across a boundary, total boundary crossings, padding in the
    * final partial sequence, and utilization. The capacity-tuning report
    * a training job reads before committing to a sequence length: longer
    * sequences cut padding but split more documents. The per-document
    * prefix sum ([[packGeometry]]) is CAPACITY-INDEPENDENT, so the corpus
    * is scanned once and each capacity is one aggregation over the same
    * materialized geometry — all integer arithmetic, exact at any SF.
    */
  def packSweep(docs: DataFrame): DataFrame = {
    val geo = packGeometry(docs.select(col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tokens")))
      .select(col("n_tokens"), col("start_off"))
      .localCheckpoint()
    PACK_SWEEP_CAPACITIES.map { cap =>
      // integral DIV throughout — `/` is double division in Spark SQL
      geo.select(col("n_tokens"),
          expr(s"start_off DIV $cap").as("s0"),
          expr(s"(start_off + n_tokens - 1) DIV $cap").as("s1"))
        .agg(sum(col("n_tokens")).as("total"),
          sum(when(col("s1") > col("s0"), 1L).otherwise(0L)).as("n_straddle_docs"),
          sum(col("s1") - col("s0")).as("n_crossings"))
        .select(lit(cap).as("capacity"),
          expr(s"(total + $cap - 1) DIV $cap").as("n_seqs"),
          col("n_straddle_docs").cast("long"),
          col("n_crossings").cast("long"),
          (expr(s"(total + $cap - 1) DIV $cap") * cap - col("total"))
            .cast("long").as("pad_tokens"),
          round(col("total").cast("double") /
            (expr(s"(total + $cap - 1) DIV $cap") * cap).cast("double"), 6)
            .as("utilization"))
    }.reduce(_.unionByName(_))
  }

  def textPackSweep(spark: SparkSession, sfDir: String): DataFrame =
    packSweep(Tables.documents(spark, sfDir))

  val textPackSweepSql: String = {
    val capSelects = PACK_SWEEP_CAPACITIES.map { cap =>
      s"""SELECT CAST($cap AS BIGINT) AS capacity,
         |       CAST((total + $cap - 1) // $cap AS BIGINT) AS n_seqs,
         |       n_straddle_docs, n_crossings,
         |       CAST(((total + $cap - 1) // $cap) * $cap - total AS BIGINT) AS pad_tokens,
         |       round(CAST(total AS DOUBLE)
         |             / CAST(((total + $cap - 1) // $cap) * $cap AS DOUBLE), 6)
         |         AS utilization
         |FROM (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |         CAST(sum(CASE WHEN (start_off + n_tokens - 1) // $cap > start_off // $cap
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle_docs,
         |         CAST(sum((start_off + n_tokens - 1) // $cap - start_off // $cap) AS BIGINT)
         |           AS n_crossings
         |  FROM o)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${Tables.TOK_CTE},
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM n)
       |$capSelects""".stripMargin
  }

  // --------------------------------------------------------------------
  // Train/val/test split manifest
  // --------------------------------------------------------------------

  /** Split fractions: md5-bucket < 80 → train, < 90 → val, else test. */
  val TRAIN_PCT = 80
  val VAL_PCT = 10

  /** Deterministic train/val/test split manifest: every document is
    * assigned by its content-stable md5(doc_id) bucket (the same hash
    * discipline as [[hashSample]] — repeatable across runs, engines, and
    * re-ingestions, unlike `rand()`), and the manifest reports per
    * (source, split) document and token mass — what a training job reads
    * to verify the carve before consuming it. One codegen'd projection +
    * one hash agg; nothing global.
    */
  def splitAssignment(docs: DataFrame): DataFrame = {
    val bucket = md5Bucket(col("doc_id")) % 100
    docs.select(col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < TRAIN_PCT, "train")
          .when(col("bucket") < TRAIN_PCT + VAL_PCT, "val")
          .otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("split_tokens"))
  }

  def textSplit(spark: SparkSession, sfDir: String): DataFrame =
    splitAssignment(Tables.documents(spark, sfDir))

  /** The split verdict for one id column — the rule [[splitAssignment]]
    * aggregates, exposed at the per-document grain so the leakage
    * operators below can apply it to doc ids AND cluster reps.
    */
  private def splitOf(id: Column): Column = {
    val bucket = md5Bucket(id) % 100
    when(bucket < TRAIN_PCT, "train")
      .when(bucket < TRAIN_PCT + VAL_PCT, "val")
      .otherwise("test")
  }

  /** `split_leakage_audit`: the contamination channel a per-document
    * hash split leaves OPEN, counted — verified near-duplicate pairs
    * whose endpoints land in different splits (a test document with a
    * train-side near-twin is leaked supervision; decontam only guards
    * against the BENCH suite, not against the corpus's own split).
    * One row per (split_1, split_2) cell of the pair matrix with the
    * cross-split cells flagged. Plan: the session-shared verified pair
    * frame ([[Dedup.sharedJaccardPairs]] — banded/prefix-bounded, never
    * quadratic) joined to two stateless split projections; output ≤ 9
    * rows.
    */
  def splitLeakageAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val split = Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    Dedup.dedupNgramJaccard(spark, sfDir)
      .join(split.select(col("doc_id").as("d1"), col("split").as("split_1")),
        Seq("d1"))
      .join(split.select(col("doc_id").as("d2"), col("split").as("split_2")),
        Seq("d2"))
      .groupBy(col("split_1"), col("split_2"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .select(col("split_1"), col("split_2"), col("n_pairs"),
        (col("split_1") =!= col("split_2")).cast("int").as("leaked"))
  }

  val splitLeakageAuditSql: String =
    s"""WITH p AS (SELECT * FROM (${Dedup.dedupNgramJaccardSql})),
       |s AS (
       |  SELECT doc_id,
       |         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < $TRAIN_PCT THEN 'train'
       |              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < ${TRAIN_PCT + VAL_PCT} THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM documents)
       |SELECT s1.split AS split_1, s2.split AS split_2,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END AS leaked
       |FROM p JOIN s s1 ON p.d1 = s1.doc_id JOIN s s2 ON p.d2 = s2.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** `split_cluster_safe`: the LEAKAGE-SAFE split — the hash rule
    * applied at the near-dup CLUSTER grain instead of the document
    * grain: every document splits by its cluster representative's
    * bucket (singletons are their own rep, so un-duplicated documents
    * split exactly as [[textSplit]] does), and no near-dup pair can
    * straddle a boundary BY CONSTRUCTION — a cluster is atomic.
    * Same output shape as `text_split` so the two are comparable
    * side-by-side; the spec asserts the zero-leak guarantee by re-running
    * the audit against this assignment. Plan: the session-shared cluster
    * table ([[Dedup.dedupClusters]]'s memo — Jaccard+CC paid once per
    * corpus) equi-joined to the document scan; no window, no new pair
    * space.
    */
  def splitClusterSafe(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      .join(Dedup.dedupClusters(spark, sfDir).select(col("doc_id"), col("rep_id")),
        Seq("doc_id"))
      .withColumn("split", splitOf(col("rep_id")))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("split_tokens"))

  val splitClusterSafeSql: String =
    s"""WITH RECURSIVE ${Dedup.CLUSTER_REP_CTES},
       |s AS (
       |  SELECT d.source,
       |         CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tokens,
       |         CAST(('0x' || substr(md5(CAST(r.rep_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |           AS bucket
       |  FROM documents d JOIN rep r ON d.doc_id = r.doc_id)
       |SELECT source,
       |       CASE WHEN bucket < $TRAIN_PCT THEN 'train'
       |            WHEN bucket < ${TRAIN_PCT + VAL_PCT} THEN 'val'
       |            ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS split_tokens
       |FROM s GROUP BY 1, 2""".stripMargin

  val textSplitSql: String =
    s"""WITH s AS (
       |  SELECT source,
       |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
       |           AS bucket
       |  FROM documents)
       |SELECT source,
       |       CASE WHEN bucket < $TRAIN_PCT THEN 'train'
       |            WHEN bucket < ${TRAIN_PCT + VAL_PCT} THEN 'val'
       |            ELSE 'test' END AS split,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS split_tokens
       |FROM s GROUP BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // Deterministic seeded corpus shuffle
  // --------------------------------------------------------------------

  /** Seed string baked into the shuffle hash — changing it reshuffles the
    * whole corpus deterministically (a new epoch order is one constant).
    */
  val SHUFFLE_SEED = "graft-epoch-0"

  /** Bucket count for the two-level shuffle. At 100 TB this is the only
    * knob: buckets bound the per-partition sort (corpus/buckets rows),
    * and the offset table stays buckets-sized regardless of corpus size.
    */
  val SHUFFLE_BUCKETS = 64

  /** Deterministic seeded global shuffle: assign every document its
    * position in a pseudorandom total order — the epoch shuffle a
    * training pipeline needs to be REPRODUCIBLE (resume mid-epoch, audit
    * which example was step N) where `orderBy(rand())` is neither stable
    * nor rerunnable. Order = md5(seed, doc_id); the global rank is
    * computed WITHOUT a global sort via the two-level trick: hash-prefix
    * buckets get cumulative offsets (a [[SHUFFLE_BUCKETS]]-row frame —
    * the only single-partition window, bounded by the constant, never by
    * the corpus), and each document ranks only within its bucket. The
    * oracle states the same order as one flat `row_number()`.
    */
  /** The seeded per-doc shuffle hash and its hash-prefix sub-bucket —
    * one definition for every two-level-rank consumer.
    */
  private def shuffleHash: Column =
    md5(concat_ws(":", lit(SHUFFLE_SEED), col("doc_id").cast("string")))

  private def shuffleSubBucket: Column =
    conv(substring(col("hk"), 1, 4), 16, 10).cast("long") % SHUFFLE_BUCKETS

  /** The two-level global-rank construction (rank WITHOUT a global
    * sort): per-bucket cumulative offsets over the buckets×…-sized
    * summary frame (the ONLY unpartitioned window — bounded by the
    * bucket-key cardinality, never the corpus), plus a per-bucket
    * `row_number` in seeded-hash order. `bucketCols` is the composite
    * bucket key ordered MAJOR-first; `keyed` must carry doc_id, hk, and
    * those columns. Shared by [[shuffleManifest]] and
    * [[curriculumManifest]] so the offset/rank arithmetic lives once.
    */
  private def twoLevelPos(keyed: DataFrame, bucketCols: Seq[String]): DataFrame = {
    val bc = bucketCols.map(col)
    val offsets = keyed.groupBy(bc: _*)
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(bc: _*)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(bc :+ col("off"): _*)
    val w = Window.partitionBy(bc: _*).orderBy(col("hk"), col("doc_id"))
    keyed.withColumn("rn", row_number().over(w))
      .join(broadcast(offsets), bucketCols)
      .withColumn("pos", (col("off") + col("rn") - 1).cast("long"))
  }

  def shuffleManifest(docs: DataFrame): DataFrame = {
    val bucketed = docs
      .select(col("doc_id"), shuffleHash.as("hk"))
      .withColumn("bucket", shuffleSubBucket)
    twoLevelPos(bucketed, Seq("bucket"))
      .select(col("doc_id"), col("pos"))
  }

  def textShuffle(spark: SparkSession, sfDir: String): DataFrame =
    shuffleManifest(Tables.documents(spark, sfDir))

  val textShuffleSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, hk,
       |         CAST(('0x' || substr(hk, 1, 4)) AS BIGINT) % $SHUFFLE_BUCKETS AS bucket
       |  FROM (SELECT doc_id,
       |               md5('$SHUFFLE_SEED' || ':' || CAST(doc_id AS VARCHAR)) AS hk
       |        FROM documents))
       |SELECT doc_id,
       |       CAST(row_number() OVER (ORDER BY bucket, hk, doc_id) - 1 AS BIGINT) AS pos
       |FROM b""".stripMargin

  /** Curriculum training order — quality-banded, shuffled within band:
    * documents rank best-quality-first in [[CURRICULUM_BANDS]] fixed-width
    * score bands (band 0 = top scores) and in seeded hash order inside a
    * band, i.e. the quality-annealed ordering trainers feed early steps
    * from, with the within-band shuffle a curriculum still needs. Global
    * rank uses the [[shuffleManifest]] construction with a COMPOSITE
    * bucket (band, hash sub-bucket): fixed-width bands off the round-
    * pinned quality score need NO global quantile state (a decile split
    * would — exact percentiles funnel the corpus into one reducer), the
    * offset table stays bands×buckets rows (broadcast), and no window
    * ever orders more than one sub-bucket. The oracle's single global
    * window is the same integer arithmetic.
    */
  val CURRICULUM_BANDS = 10

  def curriculumManifest(docs: DataFrame): DataFrame = {
    val top = lit(CURRICULUM_BANDS - 1).cast("long")
    val banded = quality(docs).select(col("doc_id"), col("quality_score"))
      .withColumn("band",
        top - least(floor(col("quality_score") * CURRICULUM_BANDS).cast("long"), top))
      .withColumn("hk", shuffleHash)
      .withColumn("sub", shuffleSubBucket)
    twoLevelPos(banded, Seq("band", "sub"))
      .select(col("doc_id"), col("band"), col("pos"))
  }

  def textCurriculum(spark: SparkSession, sfDir: String): DataFrame =
    curriculumManifest(Tables.documents(spark, sfDir))

  val textCurriculumSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |qs AS (
       |  SELECT doc_id,
       |         round((CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |               * (1.0 - CAST(n_short AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) AS q
       |  FROM stats),
       |b AS (
       |  SELECT doc_id,
       |         ${CURRICULUM_BANDS - 1} - least(CAST(floor(q * $CURRICULUM_BANDS) AS BIGINT),
       |                                         ${CURRICULUM_BANDS - 1}) AS band,
       |         md5('$SHUFFLE_SEED' || ':' || CAST(doc_id AS VARCHAR)) AS hk
       |  FROM qs),
       |b2 AS (
       |  SELECT *, CAST(('0x' || substr(hk, 1, 4)) AS BIGINT) % $SHUFFLE_BUCKETS AS sub
       |  FROM b)
       |SELECT doc_id, band,
       |       CAST(row_number() OVER (ORDER BY band, sub, hk, doc_id) - 1 AS BIGINT) AS pos
       |FROM b2""".stripMargin

  // --------------------------------------------------------------------
  // DSIR importance resampling (data selection)
  // --------------------------------------------------------------------

  /** Hashed-feature space size for [[dsirScores]]. The whole per-bucket
    * model is 2·[[DSIR_BUCKETS]] longs — driver/broadcast-sized at any
    * corpus scale, which is the entire point of hashing the vocabulary.
    */
  val DSIR_BUCKETS = 64

  /** How many documents the DSIR selection keeps. */
  val DSIR_SELECT = 100

  /** Token → hashed feature bucket, md5-derived like every other
    * deterministic draw in the engine (see [[md5Bucket]]); DuckDB twin is
    * `CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % B`.
    */
  private def dsirBucket(tok: Column): Column =
    conv(substring(md5(tok), 1, 4), 16, 10).cast("long") % DSIR_BUCKETS

  /** The [[quality]] composite score as a single array-side boolean —
    * lets target-set construction FILTER rows in a narrow projection
    * instead of computing the stats table and joining back (the join
    * would shuffle the corpus; this shuffles nothing).
    */
  private def qualityKeep: Column = {
    val toks = split(col("text"), "\\s+")
    qualityScore(
      size(array_distinct(toks)).cast("long"),
      size(toks).cast("long"),
      size(expr("filter(split(text, '\\\\s+'), t -> length(t) <= 2)")).cast("long")
    ) >= QUALITY_MIN
  }

  /** Fit the DSIR importance model: the per-bucket log-ratio weight
    * w(b) = ln p̂_target(b) − ln p̂_raw(b), add-1 smoothed, with the
    * TARGET being "high-quality English" (lang = en, quality ≥
    * [[QUALITY_MIN]]) — the stand-in for DSIR's Wikipedia/books target.
    * The target side is a narrow FILTER (no join — see [[qualityKeep]]);
    * both count frames are ≤[[DSIR_BUCKETS]] rows, so the fitted model
    * is 64 driver-held doubles — exactly the k-means-centroids pattern:
    * fit distributed, hold the tiny model, apply stateless.
    */
  def dsirModel(docs: DataFrame): Array[Double] = {
    // one corpus pass: tag each token with target membership and count
    // both distributions in the same bucket aggregation. The explode runs
    // INSIDE the scan stage, so an under-partitioned input (the one-file,
    // one-row-group fixtures) would serialize the whole pass on one core —
    // spread first (no-op at production file counts; measured 4.6 s →
    // 1.0 s for text_dsir at sf0.1 on 32 cores)
    val rows = Tables.spread(docs, col("doc_id"))
      .select((col("lang") === "en" && qualityKeep).as("is_tgt"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .select(col("is_tgt"), dsirBucket(col("tok")).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))
      .collect()
    val cr = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ct = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val nr = cr.values.sum.toDouble
    val nt = ct.values.sum.toDouble
    Array.tabulate(DSIR_BUCKETS) { b =>
      math.log((ct.getOrElse(b.toLong, 0L) + 1.0) / (nt + DSIR_BUCKETS)) -
        math.log((cr.getOrElse(b.toLong, 0L) + 1.0) / (nr + DSIR_BUCKETS))
    }
  }

  /** Score any (doc_id, text, …) frame against a fitted DSIR model —
    * ONE codegen'd projection (the weight array is a literal; the
    * per-token lookup and mean run inside an `aggregate` HOF), so
    * scoring shuffles NOTHING and runs unchanged on a stream (see
    * [[graft.streaming.StreamingPipeline.dsirScoreReplay]]).
    */
  def dsirScored(docs: DataFrame, model: Array[Double]): DataFrame =
    docs.withColumn("warr", typedLit(model.toSeq))
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("dsir_score", round(
        expr(s"""aggregate(toks, 0D, (acc, t) -> acc +
                |  element_at(warr, CAST(CAST(conv(substring(md5(t), 1, 4), 16, 10)
                |                             AS BIGINT) % $DSIR_BUCKETS + 1 AS INT)))"""
          .stripMargin) / col("n_tokens").cast("double"), 6))
      .select(col("doc_id"), col("n_tokens"), col("dsir_score"))

  /** DSIR-style data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", 2023): score every document by
    * its hashed-unigram importance weight against the target
    * distribution and keep the [[DSIR_SELECT]] best. score(doc) = mean
    * over tokens of ln p̂_target(bucket)/p̂_raw(bucket); the feature
    * distributions live in [[DSIR_BUCKETS]] hash buckets.
    *
    * Scale shape: fitting is two bucket-count aggregations ([[dsirModel]]
    * — the only shuffles, both map-side-combined to ≤B rows); scoring is
    * a zero-shuffle projection; selection is TakeOrderedAndProject —
    * never a global sort, never a corpus-sized shuffle.
    */
  def dsirScores(docs: DataFrame): DataFrame =
    dsirSelected(docs, dsirModel(docs))

  private def dsirSelected(docs: DataFrame, model: Array[Double]): DataFrame =
    dsirScored(docs, model)
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(DSIR_SELECT)

  /** The DSIR model for a session's `documents` table, fitted once and
    * shared by [[textDsir]] and [[textSelectPack]] — the fit is the one
    * corpus token pass; scoring is a zero-shuffle projection each query
    * re-runs cheaply. Deterministic (integer bucket counts), so the
    * memoized 64 doubles are exactly what each query's own fit returns.
    */
  private[graft] def sharedDsirModel(spark: SparkSession, sfDir: String): Array[Double] =
    SharedFits.memo(spark, s"dsir_model:$sfDir") {
      FitStore.doubles(spark, "dsir_model",
        FitStore.documentsFp(spark, sfDir, None)) {
        dsirModel(Tables.documents(spark, sfDir))
      }
    }

  def textDsir(spark: SparkSession, sfDir: String): DataFrame =
    dsirSelected(Tables.documents(spark, sfDir), sharedDsirModel(spark, sfDir))

  /** The DSIR CTE chain shared by [[textDsirSql]] and
    * [[textSelectPackSql]]: token buckets, the target set, both
    * smoothed distributions, and the per-bucket weight.
    */
  private val DSIR_CTES: String =
    s"""${Tables.TOK_CTE},
       |tb AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % $DSIR_BUCKETS AS b
       |  FROM tok),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |tgt_ids AS (
       |  SELECT d.doc_id FROM documents d JOIN stats s ON d.doc_id = s.doc_id
       |  WHERE d.lang = 'en'
       |    AND round((CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE))
       |          * (1.0 - CAST(s.n_short AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)), 6)
       |        >= $QUALITY_MIN),
       |cr AS (SELECT b, count(*) AS c_raw FROM tb GROUP BY 1),
       |ct AS (SELECT b, count(*) AS c_tgt FROM tb
       |       WHERE doc_id IN (SELECT doc_id FROM tgt_ids) GROUP BY 1),
       |nr AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw FROM cr),
       |nt AS (SELECT CAST(coalesce(sum(c_tgt), 0) AS BIGINT) AS n_tgt FROM ct),
       |w AS (
       |  SELECT cr.b,
       |         ln((CAST(coalesce(ct.c_tgt, 0) AS DOUBLE) + 1.0)
       |            / (CAST(nt.n_tgt AS DOUBLE) + $DSIR_BUCKETS))
       |         - ln((CAST(cr.c_raw AS DOUBLE) + 1.0)
       |              / (CAST(nr.n_raw AS DOUBLE) + $DSIR_BUCKETS)) AS w
       |  FROM cr LEFT JOIN ct ON cr.b = ct.b, nr, nt)""".stripMargin

  /** The final DSIR selection as SQL text, reused verbatim as a CTE body
    * by [[textSelectPackSql]].
    */
  private val DSIR_SELECT_SQL: String =
    s"""SELECT tb.doc_id, count(*) AS n_tokens, round(avg(w.w), 6) AS dsir_score
       |FROM tb JOIN w ON tb.b = w.b
       |GROUP BY 1
       |ORDER BY dsir_score DESC, doc_id
       |LIMIT $DSIR_SELECT""".stripMargin

  val textDsirSql: String =
    s"""WITH $DSIR_CTES
       |$DSIR_SELECT_SQL""".stripMargin

  /** Oracle for the `dsir_score_stream` replay: every document's DSIR
    * score against the standing-corpus importance model — the scoring
    * stage of [[textDsirSql]] WITHOUT the top-[[DSIR_SELECT]] cut,
    * because the streaming twin scores the firehose and selection is a
    * downstream (batch or top-k) concern.
    */
  val dsirScoreStreamSql: String =
    s"""WITH $DSIR_CTES
       |SELECT tb.doc_id, count(*) AS n_tokens, round(avg(w.w), 6) AS dsir_score
       |FROM tb JOIN w ON tb.b = w.b
       |GROUP BY 1""".stripMargin

  /** Selection composed with packing — the "pick the corpus, then cut
    * the batches" join-up a training run actually executes: the
    * [[dsirScores]] top-[[DSIR_SELECT]] documents packed into
    * [[PACK_CAPACITY]]-token sequences by the two-level
    * [[packGeometry]] prefix sum. The selected frame already carries
    * exact n_tokens, so packing adds no re-tokenization; sparse
    * surviving doc_ids pack identically to a dense corpus (shards are
    * id RANGES). Demonstrates operator composition: TakeOrdered
    * selection → bounded windows, no global sort anywhere.
    */
  def textSelectPack(spark: SparkSession, sfDir: String): DataFrame =
    packGeometry(
      dsirSelected(Tables.documents(spark, sfDir), sharedDsirModel(spark, sfDir))
        .select(col("doc_id"), col("n_tokens")))

  val textSelectPackSql: String =
    s"""WITH $DSIR_CTES,
       |sel AS (
       |${DSIR_SELECT_SQL.linesIterator.map("  " + _).mkString("\n")}),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM sel)
       |SELECT doc_id, n_tokens, start_off,
       |       start_off // $PACK_CAPACITY AS start_seq,
       |       (start_off + n_tokens - 1) // $PACK_CAPACITY AS end_seq,
       |       (start_off + n_tokens - 1) // $PACK_CAPACITY
       |         > start_off // $PACK_CAPACITY AS straddles
       |FROM o""".stripMargin

  // --------------------------------------------------------------------
  // Fixed-token overlapping chunks (retrieval prep)
  // --------------------------------------------------------------------

  /** Chunk size / overlap for [[chunkSpans]] — the standard RAG-prep
    * shape: consecutive chunks share [[CHUNK_OVERLAP]] tokens so a fact
    * straddling a cut appears whole in at least one chunk.
    */
  val CHUNK_TOKENS = 32L
  val CHUNK_OVERLAP = 8L
  private val CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

  /** Split every document into fixed-token overlapping chunks — the
    * assembly-line stage between `documents` and the chunk-level
    * embedding index the `simsearch_*` family serves. Chunk k covers
    * token span [k·stride, k·stride+[[CHUNK_TOKENS]]) clipped to the
    * document, stride = size − overlap; the chunk count is
    * 1 + ⌈max(n − size, 0)/stride⌉, so a short document yields exactly
    * one chunk and the final chunk is the only one allowed to run
    * short. Emits (doc_id, chunk_id, start_tok, end_tok exclusive,
    * chunk_tokens, chunk_text) — offsets in tokens, the unit the
    * tokenizer downstream actually consumes.
    *
    * Scale shape: ONE zero-shuffle projection + explode — chunking is
    * per-document, so unlike [[packGeometry]] it needs no prefix sum at
    * all; at 100 TB it pipelines inside the scan stage with nothing
    * crossing the cluster. All arithmetic is integer and the text is
    * re-joined from the same whitespace split both engines use, so the
    * output is exact-hash comparable.
    */
  def chunkSpans(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_chunks", expr(
        s"1L + (greatest(n_tokens - $CHUNK_TOKENS, 0L) + ${CHUNK_STRIDE - 1}L) DIV $CHUNK_STRIDE"))
      .withColumn("chunk_id", explode(expr("sequence(0L, n_chunks - 1L)")))
      .withColumn("start_tok", col("chunk_id") * lit(CHUNK_STRIDE))
      .withColumn("end_tok",
        least(col("start_tok") + lit(CHUNK_TOKENS), col("n_tokens")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("chunk_tokens"),
        array_join(
          slice(col("toks"), (col("start_tok") + 1L).cast("int"),
            (col("end_tok") - col("start_tok")).cast("int")), " ")
          .as("chunk_text"))

  def textChunks(spark: SparkSession, sfDir: String): DataFrame =
    chunkSpans(Tables.documents(spark, sfDir))

  val textChunksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |         1 + (greatest(CAST(len(toks) AS BIGINT) - $CHUNK_TOKENS, 0)
       |              + ${CHUNK_STRIDE - 1}) // $CHUNK_STRIDE AS n_chunks
       |  FROM d),
       |c AS (
       |  SELECT doc_id, toks, n_tokens,
       |         CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id
       |  FROM n)
       |SELECT doc_id, chunk_id,
       |       chunk_id * $CHUNK_STRIDE AS start_tok,
       |       least(chunk_id * $CHUNK_STRIDE + $CHUNK_TOKENS, n_tokens) AS end_tok,
       |       least(chunk_id * $CHUNK_STRIDE + $CHUNK_TOKENS, n_tokens)
       |         - chunk_id * $CHUNK_STRIDE AS chunk_tokens,
       |       array_to_string(
       |         toks[chunk_id * $CHUNK_STRIDE + 1
       |              : least(chunk_id * $CHUNK_STRIDE + $CHUNK_TOKENS, n_tokens)],
       |         ' ') AS chunk_text
       |FROM c""".stripMargin

  /** Chunk-level BM25 retrieval with DOCUMENT-level dedup of hits — the
    * RAG serving composition over [[chunkSpans]]: queries retrieve the
    * best-matching CHUNKS (the unit a context window consumes), but the
    * result list is deduplicated to one hit per source document (its
    * best chunk) before the final top-k, so one long document cannot
    * flood the context with near-identical windows. The first
    * [[BM25_N_QUERIES]] documents play the query set; the corpus is
    * every other document's chunks. Okapi BM25 with chunk-level term
    * frequencies, chunk-frequency df, and the chunker's own
    * `chunk_tokens` as the length normalizer (no re-aggregation).
    *
    * Scale shape: the query term set broadcasts (queries × terms — the
    * serving-path constant); candidates are bounded by the postings of
    * query terms, never the corpus; the doc-dedup window partitions by
    * (q_id, doc_id) over candidate rows only and the final rank by q_id
    * over ≤ one row per candidate document. No corpus self-join anywhere
    * — at 100 TB the chunk postings frame is the standing index and this
    * is a broadcast-probe + two candidate-sized windows.
    */
  /** Chunk-level postings (doc, chunk, chunk_tokens, tok, tf) — the
    * serving index of [[chunkBm25TopK]], persisted like
    * [[bm25Postings]] (artifact name carries the query-split rule the
    * builder bakes in).
    */
  private def chunkBm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"bm25_chunk_postings:$BM25_N_QUERIES:$sfDir") {
      FitStore.frame(spark, s"bm25_chunk_postings_q$BM25_N_QUERIES",
        FitStore.documentsFp(spark, sfDir, None)) {
        chunkSpans(Tables.documents(spark, sfDir)
            .filter(col("doc_id") >= BM25_N_QUERIES))
          .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
            explode(split(col("chunk_text"), "\\s+")).as("tok"))
          .groupBy(col("doc_id"), col("chunk_id"), col("chunk_tokens"), col("tok"))
          .agg(count(lit(1)).as("tf"))
      }.localCheckpoint()
    }

  /** Chunk BM25 top-[[BM25_TOP_K]] of the first [[BM25_N_QUERIES]]
    * documents over the chunk postings `ctf` ([[chunkBm25Postings]];
    * chunk_tokens rides along as the length key).
    */
  def chunkBm25TopK(docs: DataFrame, ctf: DataFrame): DataFrame = {
    val dfreq = ctf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = broadcast(
      ctf.groupBy(col("doc_id"), col("chunk_id")).agg(first(col("chunk_tokens")).as("ct"))
        .agg(count(lit(1)).as("n_chunks"), avg(col("ct").cast("double")).as("avgcl")))
    val qterms = Tables.tokens(docs.filter(col("doc_id") < BM25_N_QUERIES))
      .select(col("doc_id").as("q_id"), col("tok")).distinct()
    val idf = log(
      (col("n_chunks").cast("double") - col("df") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfNorm = col("tf").cast("double") * (lit(BM25_K1) + 1.0) /
      (col("tf").cast("double") +
        lit(BM25_K1) * (lit(1.0 - BM25_B) +
          lit(BM25_B) * col("chunk_tokens").cast("double") / col("avgcl")))
    val scoredChunks = broadcast(qterms).join(ctf, Seq("tok"))
      .join(dfreq, Seq("tok"))
      .crossJoin(stats)
      .groupBy(col("q_id"), col("doc_id"), col("chunk_id"))
      .agg(round(sum(idf * tfNorm), 6).as("bm25"))
    // doc-level dedup: each document is represented by its best chunk
    val wDoc = Window.partitionBy(col("q_id"), col("doc_id"))
      .orderBy(col("bm25").desc, col("chunk_id"))
    val best = scoredChunks.withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") === 1).drop("rn")
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("bm25").desc, col("doc_id"))
    best.withColumn("rnk", row_number().over(wQ))
      .filter(col("rnk") <= BM25_TOP_K)
      .select(col("q_id"), col("doc_id"), col("chunk_id"), col("bm25"),
        col("rnk").cast("long").as("rnk"))
  }

  def chunkBm25(spark: SparkSession, sfDir: String): DataFrame =
    chunkBm25TopK(Tables.documents(spark, sfDir),
      chunkBm25Postings(spark, sfDir))

  val chunkBm25Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |  FROM documents WHERE doc_id >= $BM25_N_QUERIES),
       |n AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
       |         1 + (greatest(CAST(len(toks) AS BIGINT) - $CHUNK_TOKENS, 0)
       |              + ${CHUNK_STRIDE - 1}) // $CHUNK_STRIDE AS n_chunks
       |  FROM d),
       |c AS (
       |  SELECT doc_id, toks, n_tokens,
       |         CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id
       |  FROM n),
       |ch AS (
       |  SELECT doc_id, chunk_id,
       |         least(chunk_id * $CHUNK_STRIDE + $CHUNK_TOKENS, n_tokens)
       |           - chunk_id * $CHUNK_STRIDE AS chunk_tokens,
       |         array_to_string(
       |           toks[chunk_id * $CHUNK_STRIDE + 1
       |                : least(chunk_id * $CHUNK_STRIDE + $CHUNK_TOKENS, n_tokens)],
       |           ' ') AS chunk_text
       |  FROM c),
       |ctf AS (
       |  SELECT doc_id, chunk_id, chunk_tokens, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, chunk_id, chunk_tokens,
       |               unnest(string_split_regex(chunk_text, '\\s+')) AS tok
       |        FROM ch)
       |  GROUP BY 1, 2, 3, 4),
       |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM ctf GROUP BY 1),
       |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ch) AS n_chunks,
       |              (SELECT avg(CAST(chunk_tokens AS DOUBLE)) FROM ch) AS avgcl),
       |qt AS (
       |  SELECT DISTINCT doc_id AS q_id, tok
       |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents WHERE doc_id < $BM25_N_QUERIES)),
       |scored AS (
       |  SELECT q.q_id, t.doc_id, t.chunk_id,
       |         round(sum(
       |           ln((CAST(s.n_chunks AS DOUBLE) - f.df + 0.5) / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
       |           * (CAST(t.tf AS DOUBLE) * (1.0 + $BM25_K1)
       |              / (CAST(t.tf AS DOUBLE)
       |                 + $BM25_K1 * (${1.0 - BM25_B}
       |                               + $BM25_B * CAST(t.chunk_tokens AS DOUBLE) / s.avgcl)))), 6) AS bm25
       |  FROM qt q
       |  JOIN ctf t ON q.tok = t.tok
       |  JOIN dfq f ON t.tok = f.tok, st s
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id, doc_id
       |                               ORDER BY bm25 DESC, chunk_id) AS rn
       |  FROM scored),
       |ranked AS (
       |  SELECT q_id, doc_id, chunk_id, bm25,
       |         row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rnk
       |  FROM best WHERE rn = 1)
       |SELECT q_id, doc_id, chunk_id, bm25, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $BM25_TOP_K""".stripMargin

  // --------------------------------------------------------------------
  // Temperature-scaled source mixing
  // --------------------------------------------------------------------

  /** Mixing temperature α: sampling shares ∝ (raw share)^α. α = 1
    * reproduces the corpus, α → 0 approaches uniform-per-source; 0.5 is
    * the classic multilingual/multi-source flattening exponent.
    */
  val MIX_TEMPERATURE = 0.5

  /** Temperature-scaled source mixing (the mBERT/XLM-R exponent-
    * smoothing recipe, applied per SOURCE the way a pretraining mix
    * up-weights small high-value domains): temp_share_s ∝
    * (token_share_s)^α, renormalized, plus the per-source up/down-
    * sampling factor temp_share/raw_share a sampler would apply.
    * One source-sized aggregation; every derived frame is
    * sources-count rows, broadcast-sized at any corpus scale.
    */
  def mixTemperature(docs: DataFrame, alpha: Double): DataFrame = {
    // sources-count rows after ONE corpus scan; checkpointed because the
    // frame fans into the total, the normalizer, and the final select
    val perSrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+")).cast("long")).as("src_tokens"))
      .localCheckpoint()
    val tot = perSrc.agg(sum(col("src_tokens")).as("corpus_tokens"))
    val withShare = perSrc.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        col("src_tokens").cast("double") / col("corpus_tokens").cast("double"))
      // α = 0.5 routes through sqrt: IEEE 754 requires sqrt to be
      // correctly rounded in BOTH engines, where pow(x, 0.5) is not —
      // the only transcendental in this query becomes exact
      .withColumn("wt",
        if (alpha == 0.5) sqrt(col("raw_share")) else pow(col("raw_share"), alpha))
    val z = withShare.agg(sum(col("wt")).as("z"))
    withShare.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        round(col("raw_share"), 6).as("raw_share"),
        round(col("wt") / col("z"), 6).as("temp_share"),
        round(col("wt") / col("z") / col("raw_share"), 6).as("sample_factor"))
  }

  def textMixTemperature(spark: SparkSession, sfDir: String): DataFrame =
    mixTemperature(Tables.documents(spark, sfDir), MIX_TEMPERATURE)

  val textMixTemperatureSql: String = {
    // the oracle mirrors the engine's sqrt-vs-pow branch so a future
    // MIX_TEMPERATURE change cannot silently split the two engines
    val shareSql = "CAST(src_tokens AS DOUBLE) / CAST(corpus_tokens AS DOUBLE)"
    val wtSql =
      if (MIX_TEMPERATURE == 0.5) s"sqrt($shareSql)"
      else s"pow($shareSql, $MIX_TEMPERATURE)"
    s"""WITH per_src AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS src_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS corpus_tokens FROM per_src),
       |sh AS (
       |  SELECT source, n_docs, src_tokens,
       |         $shareSql AS raw_share,
       |         $wtSql AS wt
       |  FROM per_src, tot),
       |z AS (SELECT sum(wt) AS z FROM sh)
       |SELECT source, n_docs, src_tokens,
       |       round(raw_share, 6) AS raw_share,
       |       round(wt / z.z, 6) AS temp_share,
       |       round(wt / z.z / raw_share, 6) AS sample_factor
       |FROM sh, z""".stripMargin
  }
}
