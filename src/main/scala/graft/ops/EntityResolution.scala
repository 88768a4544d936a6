package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Tables

/** Entity resolution / record linkage over the documents corpus, treated as
  * entity MENTIONS: each document is a record with fields (lang, source,
  * name = its first [[NAME_TOKENS]] tokens, n_chars), and the task is the
  * classic three-stage linkage pipeline a metrics warehouse runs over
  * customer/merchant/venue feeds:
  *
  *   1. BLOCKING — candidate pairs only within (lang, first-token) blocks,
  *      with oversized blocks load-shed (see [[ER_BLOCK_CAP]]);
  *   2. PAIRWISE SCORING — a Fellegi–Sunter agreement-weight sum over three
  *      field comparators (name edit distance, source equality, length
  *      proximity), thresholded at [[ER_SCORE_TAU]];
  *   3. CLUSTERING + SURVIVORSHIP — connected components over accepted
  *      pairs, then one golden record per entity with field-level
  *      survivorship rules (mode source, rep name, summed volume).
  *
  * This is deliberately NOT another near-dup detector: the dedup family
  * ([[Dedup]]) asks "is this the same TEXT"; this family asks "is this the
  * same ENTITY" from structured field agreement, where no single field is
  * decisive and the match decision is a weighted vote. The reference
  * pipeline's closest shape is its per-collection `_id`/stashId probes
  * (/root/reference/updatescript.py:61-96) — identity resolution by exact
  * key; this family is the fuzzy generalization a 100 TB feed needs when
  * keys are absent or dirty.
  *
  * Scale design: the ONLY pair generator is the blocked self-join, and block
  * size is capped, so the pair space is Σ_blocks min(|b|, cap)² — linear in
  * corpus size with a cap² constant, never quadratic in N. Everything
  * downstream of pairing is equi-joins and hash aggregates on ids. The CC
  * fixpoint reuses [[Dedup.connectedComponents]] (edge frame moves once,
  * labels-only per round, O(log diameter) rounds).
  */
object EntityResolution {

  /** Tokens of text that constitute a record's "name" field. Six tokens ≈
    * a title line; long enough that edit distance discriminates, short
    * enough that the banded levenshtein (O(len·τ) per pair) stays cheap.
    */
  val NAME_TOKENS = 6

  /** Blocks larger than this are load-shed (no pairs generated from them).
    * Blocking keys are data-dependent: at fixed vocabulary, (lang, first
    * token) block occupancy grows LINEARLY with corpus size, so an uncapped
    * blocked self-join degrades to |b|² on the hottest key — the classic
    * large-scale-ER failure. The cap bounds per-block work at cap²
    * comparisons and turns the hottest (least informative) keys into an
    * audited skip instead of a runaway stage; [[erBlockingAudit]] reports
    * exactly how much candidate mass the cap discards, which is the signal
    * to move to a more selective key before raising it.
    */
  val ER_BLOCK_CAP = 256

  /** Name comparator: agreement iff levenshtein(name_a, name_b) ≤ this.
    * Calibrated on the sf0.01 fixture where cross-record name distance has
    * median 22 and 5th percentile 17 — 14 sits well below the background
    * mass, so agreement is rare (≈2% of candidates) and informative.
    */
  val ER_NAME_MAXDIST = 14

  /** Length comparator: agreement iff |n_chars_a − n_chars_b| ≤ this. */
  val ER_LEN_MAXDIFF = 30

  /** Fellegi–Sunter agreement/disagreement log-weights in DECI-LOG integer
    * units (ln(m/u) × 10, rounded): integers instead of doubles because a
    * float literal is NOT the same number in both engines — DuckDB parses
    * `2.2` as DECIMAL(2,1), Spark as a double — and a cross-engine gate
    * must not depend on which. Integer sums are exact everywhere; the same
    * discipline as Q3's cent-exact revenue. The calibration story: name
    * agreement is the strongest evidence (rarest under u — ≈2% of blocked
    * candidates), source agreement moderate (20 distinct sources), length
    * proximity weak (≈11% of random pairs agree).
    */
  val W_NAME_AGREE = 22;  val W_NAME_DIS = -8
  val W_SRC_AGREE  = 16;  val W_SRC_DIS  = -11
  val W_LEN_AGREE  = 7;   val W_LEN_DIS  = -4

  /** Match threshold over the three-term deci-weight sum. The reachable
    * scores are the 8 combos {45, 34, 18, 15, 7, 4, −12, −23}; τ = 14
    * admits exactly the "2-of-3 fields agree" combinations — no single
    * field, however strong, links a pair on its own.
    */
  val ER_SCORE_TAU = 14

  /** The record view: one narrow, codegen'd projection of documents. */
  private def records(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      array_join(slice(split(col("text"), "\\s+"), 1, NAME_TOKENS), " ").as("name"),
      element_at(split(col("text"), "\\s+"), 1).as("t1"))

  /** Records surviving the block cap, with their block size attached. The
    * size frame and the records frame shuffle on the same (lang, t1) key,
    * so the filter join co-locates with the pairing self-join downstream —
    * one partitioning serves all three.
    */
  private def keptRecords(docs: DataFrame): DataFrame = {
    val r = records(docs)
    val sizes = r.groupBy(col("lang"), col("t1"))
      .agg(count(lit(1)).as("block_sz"))
      .filter(col("block_sz") <= ER_BLOCK_CAP)
    r.join(sizes, Seq("lang", "t1"))
  }

  /** Scored candidate pairs from the blocked self-join. Both sides shuffle
    * once on the block key; `a.doc_id < b.doc_id` halves the pair space and
    * fixes orientation. Each record carries exactly ONE block key (a
    * function of the record), so a pair can never be generated twice — no
    * post-pairing distinct needed.
    */
  private def scoredPairs(docs: DataFrame): DataFrame = {
    val k = keptRecords(docs)
    val a = k.select(col("doc_id").as("a_id"), col("lang"), col("t1"),
      col("name").as("a_name"), col("source").as("a_src"), col("n_chars").as("a_len"))
    val b = k.select(col("doc_id").as("b_id"), col("lang"), col("t1"),
      col("name").as("b_name"), col("source").as("b_src"), col("n_chars").as("b_len"))
    // Banded edit distance: the comparator only needs "distance ≤ τ", and
    // levenshtein-with-threshold runs the DP in an O(len·τ) band (returns
    // −1 past τ) instead of filling the O(len²) table — same verdict for
    // every pair (DuckDB oracle keeps the unbanded form; agreement is
    // threshold-equivalent). The 30× rehearsal priced the unbanded form:
    // per-pair cost tracked name-length², this caps it at name-length·τ.
    val agreeName =
      levenshtein(col("a_name"), col("b_name"), ER_NAME_MAXDIST) >= 0
    val agreeSrc = col("a_src") === col("b_src")
    val agreeLen = abs(col("a_len") - col("b_len")) <= ER_LEN_MAXDIFF
    a.join(b, Seq("lang", "t1"))
      .filter(col("a_id") < col("b_id"))
      .select(
        col("a_id"), col("b_id"),
        agreeName.cast("int").as("agree_name"),
        agreeSrc.cast("int").as("agree_source"),
        agreeLen.cast("int").as("agree_len"))
      // The sum is written agree-name + agree-source + agree-len in this
      // fixed order in BOTH engines; see the weight scaladoc.
      .withColumn("score",
        when(col("agree_name") === 1, lit(W_NAME_AGREE)).otherwise(lit(W_NAME_DIS))
          + when(col("agree_source") === 1, lit(W_SRC_AGREE)).otherwise(lit(W_SRC_DIS))
          + when(col("agree_len") === 1, lit(W_LEN_AGREE)).otherwise(lit(W_LEN_DIS)))
  }

  /** `er_pairs`: the accepted match pairs with their agreement vector and
    * Fellegi–Sunter score — the reviewable linkage decisions.
    */
  def erPairs(spark: SparkSession, sfDir: String): DataFrame =
    scoredPairs(Tables.documents(spark, sfDir))
      .filter(col("score") >= ER_SCORE_TAU)

  /** `er_pairs_incremental`: the linkage maintained as new mentions
    * arrive — the incremental form of [[erPairs]], next to
    * `dedup_clusters_incremental` in the incremental family (same
    * odd/even split convention: even doc_ids play the standing corpus,
    * odd the arriving batch). Two properties make the batch-vs-standing
    * shape work:
    *
    *  - BLOCK SIZES ARE ALGEBRAIC: the cap decision needs the UNION's
    *    block occupancy, and per-block counts add — standing partials
    *    plus arrival deltas, a ≤|blocks|-row merge, never a rescan-and-
    *    recount of history. (A block pushed past the cap by arrivals is
    *    shed for the arriving pairs exactly as the batch run would shed
    *    it — cap semantics are corpus-level, not batch-level.)
    *  - THE PROBE SIDE IS THE BATCH: pairs generate only from
    *    arrival × (standing ∪ arrivals) within blocks, so the
    *    standing × standing pair space — the bulk of the blocked
    *    self-join, all of it already scored in prior runs — is never
    *    generated. Per-batch pair cost is Σ_blocks |arrivals_b| ·
    *    min(|b|, cap), linear in the batch at any corpus size.
    *
    * An arrival–arrival pair is reachable from both ends, so the probe
    * keeps it only in the x < y orientation (the even side keeps every
    * orientation — it can never probe); output canonicalizes to
    * a_id < b_id, and every comparator is symmetric, so the emitted rows
    * equal the batch run's rows restricted to pairs touching an arrival
    * — which is the oracle.
    */
  def erPairsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    erPairsIncrementalOver(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  private[graft] def erPairsIncrementalOver(standing: DataFrame,
      arrivals: DataFrame): DataFrame = {
    val rs = records(standing)
    val ra = records(arrivals)
    def sizes(r: DataFrame) =
      r.groupBy(col("lang"), col("t1")).agg(count(lit(1)).as("bs"))
    val merged = sizes(rs).unionByName(sizes(ra))
      .groupBy(col("lang"), col("t1"))
      .agg(sum(col("bs")).as("block_sz"))
      .filter(col("block_sz") <= ER_BLOCK_CAP)
    val keptAll = rs.unionByName(ra).join(merged, Seq("lang", "t1"))
    val keptArr = ra.join(merged, Seq("lang", "t1"))
    val x = keptArr.select(col("doc_id").as("x_id"), col("lang"), col("t1"),
      col("name").as("x_name"), col("source").as("x_src"),
      col("n_chars").as("x_len"))
    val y = keptAll.select(col("doc_id").as("y_id"), col("lang"), col("t1"),
      col("name").as("y_name"), col("source").as("y_src"),
      col("n_chars").as("y_len"))
    val agreeName =
      levenshtein(col("x_name"), col("y_name"), ER_NAME_MAXDIST) >= 0
    val agreeSrc = col("x_src") === col("y_src")
    val agreeLen = abs(col("x_len") - col("y_len")) <= ER_LEN_MAXDIFF
    x.join(y, Seq("lang", "t1"))
      .filter(col("x_id") =!= col("y_id") &&
        (col("y_id") % 2 === 0 || col("x_id") < col("y_id")))
      .select(
        least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        agreeName.cast("int").as("agree_name"),
        agreeSrc.cast("int").as("agree_source"),
        agreeLen.cast("int").as("agree_len"))
      .withColumn("score",
        when(col("agree_name") === 1, lit(W_NAME_AGREE)).otherwise(lit(W_NAME_DIS))
          + when(col("agree_source") === 1, lit(W_SRC_AGREE)).otherwise(lit(W_SRC_DIS))
          + when(col("agree_len") === 1, lit(W_LEN_AGREE)).otherwise(lit(W_LEN_DIS)))
      .filter(col("score") >= ER_SCORE_TAU)
  }

  /** Blocks the FROZEN-cap policy rejects: standing block size > cap.
    * The streaming serve ([[graft.streaming.StreamingPipeline]]'s
    * `erLinkageReplay`) pins cap decisions at index-build time — the
    * production policy when total arrival volume is unknowable
    * mid-stream — so admission is "not in this (tiny) rejected list";
    * a block the standing corpus has never seen is admitted at size 0.
    * Refreshing the list is the rebuild cadence, same as every fitted
    * artifact.
    */
  private[graft] def frozenRejectedBlocks(standing: DataFrame): DataFrame =
    records(standing).groupBy(col("lang"), col("t1"))
      .agg(count(lit(1)).as("bs"))
      .filter(col("bs") > ER_BLOCK_CAP)
      .select(col("lang"), col("t1"))

  /** Record view of `docs` restricted to frozen-admitted blocks (an
    * anti-join against the ≤|hot blocks|-row rejected list — AQE
    * broadcasts the tiny side).
    */
  private[graft] def keptFrozen(docs: DataFrame, rejected: DataFrame): DataFrame =
    records(docs).join(rejected, Seq("lang", "t1"), "left_anti")

  /** One micro-batch of streaming linkage: the batch's records probe
    * (base ∪ batch) within blocks, emitting each qualifying pair EXACTLY
    * once under a batch-decomposition-invariant rule — a pair is emitted
    * by the batch containing its LATER-ARRIVING member (y ∈ base), or by
    * the x < y orientation when both arrived together. No ordering
    * assumption: however the stream is batched, each cross-batch pair
    * has exactly one "second arrival" and each within-batch pair exactly
    * one ascending orientation, so the drained union over batches equals
    * the one-shot incremental pair set.
    */
  private[graft] def erStreamProbe(batchRecs: DataFrame,
      baseRecs: DataFrame): DataFrame = {
    val x = batchRecs.select(col("doc_id").as("x_id"), col("lang"), col("t1"),
      col("name").as("x_name"), col("source").as("x_src"),
      col("n_chars").as("x_len"))
    val y = baseRecs.withColumn("is_base", lit(true))
      .unionByName(batchRecs.withColumn("is_base", lit(false)))
      .select(col("doc_id").as("y_id"), col("lang"), col("t1"),
        col("name").as("y_name"), col("source").as("y_src"),
        col("n_chars").as("y_len"), col("is_base"))
    val agreeName =
      levenshtein(col("x_name"), col("y_name"), ER_NAME_MAXDIST) >= 0
    val agreeSrc = col("x_src") === col("y_src")
    val agreeLen = abs(col("x_len") - col("y_len")) <= ER_LEN_MAXDIFF
    x.join(y, Seq("lang", "t1"))
      .filter(col("x_id") =!= col("y_id") &&
        (col("is_base") || col("x_id") < col("y_id")))
      .select(
        least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        agreeName.cast("int").as("agree_name"),
        agreeSrc.cast("int").as("agree_source"),
        agreeLen.cast("int").as("agree_len"))
      .withColumn("score",
        when(col("agree_name") === 1, lit(W_NAME_AGREE)).otherwise(lit(W_NAME_DIS))
          + when(col("agree_source") === 1, lit(W_SRC_AGREE)).otherwise(lit(W_SRC_DIS))
          + when(col("agree_len") === 1, lit(W_LEN_AGREE)).otherwise(lit(W_LEN_DIS)))
      .filter(col("score") >= ER_SCORE_TAU)
  }

  /** Oracle for the streaming linkage replay: the cold arrival-touching
    * pair set under the FROZEN-cap admission (blocks judged by STANDING
    * size only; unseen blocks admitted at 0 — see
    * [[frozenRejectedBlocks]]).
    */
  val erPairsStreamSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, $NAME_TOKENS), ' ') AS name,
       |         string_split_regex(text, '\\s+')[1] AS t1
       |  FROM documents),
       |bsz_st AS (SELECT lang, t1, count(*) AS bs FROM r WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |k AS (SELECT r.* FROM r LEFT JOIN bsz_st b ON r.lang = b.lang AND r.t1 = b.t1
       |      WHERE COALESCE(b.bs, 0) <= $ER_BLOCK_CAP),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CASE WHEN levenshtein(a.name, b.name) <= $ER_NAME_MAXDIST THEN 1 ELSE 0 END AS agree_name,
       |         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS agree_source,
       |         CASE WHEN abs(a.n_chars - b.n_chars) <= $ER_LEN_MAXDIFF THEN 1 ELSE 0 END AS agree_len
       |  FROM k a JOIN k b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id
       |  WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
       |SELECT a_id, b_id, agree_name, agree_source, agree_len, score
       |FROM (SELECT *,
       |         (CASE WHEN agree_name = 1 THEN $W_NAME_AGREE ELSE $W_NAME_DIS END
       |          + CASE WHEN agree_source = 1 THEN $W_SRC_AGREE ELSE $W_SRC_DIS END
       |          + CASE WHEN agree_len = 1 THEN $W_LEN_AGREE ELSE $W_LEN_DIS END) AS score
       |      FROM cand)
       |WHERE score >= $ER_SCORE_TAU""".stripMargin

  /** The shared SQL record/candidate CTE chain (DuckDB dialect). */
  private val ER_CTES: String =
    s"""r AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, $NAME_TOKENS), ' ') AS name,
       |         string_split_regex(text, '\\s+')[1] AS t1
       |  FROM documents),
       |bsz AS (SELECT lang, t1, count(*) AS block_sz FROM r GROUP BY 1, 2),
       |k AS (SELECT r.* FROM r JOIN bsz ON r.lang = bsz.lang AND r.t1 = bsz.t1
       |      WHERE bsz.block_sz <= $ER_BLOCK_CAP),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CASE WHEN levenshtein(a.name, b.name) <= $ER_NAME_MAXDIST THEN 1 ELSE 0 END AS agree_name,
       |         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS agree_source,
       |         CASE WHEN abs(a.n_chars - b.n_chars) <= $ER_LEN_MAXDIFF THEN 1 ELSE 0 END AS agree_len
       |  FROM k a JOIN k b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT *,
       |         (CASE WHEN agree_name = 1 THEN $W_NAME_AGREE ELSE $W_NAME_DIS END
       |          + CASE WHEN agree_source = 1 THEN $W_SRC_AGREE ELSE $W_SRC_DIS END
       |          + CASE WHEN agree_len = 1 THEN $W_LEN_AGREE ELSE $W_LEN_DIS END) AS score
       |  FROM cand),
       |matched AS (SELECT * FROM scored WHERE score >= $ER_SCORE_TAU)""".stripMargin

  val erPairsSql: String =
    s"""WITH $ER_CTES
       |SELECT a_id, b_id, agree_name, agree_source, agree_len, score FROM matched""".stripMargin

  /** Oracle for the incremental run: the COLD full-corpus linkage
    * restricted to pairs that touch an arrival (odd doc_id) — the rows an
    * incremental pass is responsible for emitting.
    */
  val erPairsIncrementalSql: String =
    s"""WITH $ER_CTES
       |SELECT a_id, b_id, agree_name, agree_source, agree_len, score FROM matched
       |WHERE a_id % 2 = 1 OR b_id % 2 = 1""".stripMargin

  /** `er_golden`: one golden record per resolved entity. Components come
    * from min-label propagation over the accepted pairs (reusing
    * [[Dedup.connectedComponents]]); survivorship rules per field:
    *
    *   - `entity_id`  — the component's minimum doc_id (stable, replayable);
    *   - `n_members`  — component size (singletons included: every record
    *     resolves to exactly one entity);
    *   - `name`       — the representative record's name (rep-wins rule);
    *   - `source`     — the MODE source across members, ties broken by the
    *     lexicographically smallest source (deterministic mode);
    *   - `total_chars`— summed member volume (additive survivorship);
    *   - `lang`       — min lang (blocks are lang-pure, so this is "the"
    *     lang; min keeps the rule total rather than assuming purity).
    *
    * Plan: the survivorship aggregates are two hash aggs and one window-free
    * mode (groupBy count → max-by via a (count, source) struct max — no
    * global sort, no window over the full corpus), all keyed by entity_id.
    */
  def erGolden(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val r = records(docs)
    val pairs = erPairs(spark, sfDir).select(col("a_id").as("d1"), col("b_id").as("d2"))
    val assign = Dedup.connectedComponents(r.select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("rep_id").as("entity_id"))
    // members feeds FOUR aggregate consumers (src mode ×2, stats, rep
    // name); unpinned, each replanned the records×assign SortMergeJoin and
    // the CC finish from scratch (the before-plan shows the anti-join 8×
    // and the members join 4×). One checkpoint of the O(N)-narrow frame
    // runs that chain once — the multimodal scored/flags lesson.
    val members = r.join(assign, Seq("doc_id")).localCheckpoint()
    // deterministic mode in two aggs (max count, then min source among
    // sources achieving it) — argmax-by-struct would need a numeric
    // inversion of the string tie-break key to be order-stable, which the
    // two-agg form gets for free, identically in both engines
    // srcCnt feeds maxCnt AND the mode join — unpinned it would aggregate
    // the corpus-sized members twice; the pinned frame is ≤|entities|·|sources| rows
    val srcCnt = members.groupBy(col("entity_id"), col("source"))
      .agg(count(lit(1)).as("cnt")).localCheckpoint()
    val maxCnt = srcCnt.groupBy(col("entity_id")).agg(max(col("cnt")).as("mx"))
    val modeSrc = srcCnt.join(maxCnt, Seq("entity_id"))
      .filter(col("cnt") === col("mx"))
      .groupBy(col("entity_id")).agg(min(col("source")).as("source"))
    val stats = members.groupBy(col("entity_id")).agg(
      count(lit(1)).as("n_members"),
      sum(col("n_chars")).cast("long").as("total_chars"),
      min(col("lang")).as("lang"))
    val repName = members.filter(col("doc_id") === col("entity_id"))
      .select(col("entity_id"), col("name"))
    stats.join(modeSrc, Seq("entity_id")).join(repName, Seq("entity_id"))
      .select(col("entity_id"), col("n_members"), col("name"), col("source"),
        col("total_chars"), col("lang"))
  }

  val erGoldenSql: String =
    s"""WITH RECURSIVE $ER_CTES,
       |edges AS (SELECT a_id AS d1, b_id AS d2 FROM matched
       |          UNION ALL SELECT b_id AS d1, a_id AS d2 FROM matched),
       |reach AS (
       |  SELECT doc_id, doc_id AS rl FROM r
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.rl FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |assign AS (SELECT doc_id, min(rl) AS entity_id FROM reach GROUP BY 1),
       |members AS (SELECT r.*, a.entity_id FROM r JOIN assign a ON r.doc_id = a.doc_id),
       |src_cnt AS (SELECT entity_id, source, count(*) AS cnt FROM members GROUP BY 1, 2),
       |max_cnt AS (SELECT entity_id, max(cnt) AS mx FROM src_cnt GROUP BY 1),
       |mode_src AS (
       |  SELECT s.entity_id, min(s.source) AS source
       |  FROM src_cnt s JOIN max_cnt m ON s.entity_id = m.entity_id AND s.cnt = m.mx
       |  GROUP BY 1),
       |stats AS (
       |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars, min(lang) AS lang
       |  FROM members GROUP BY 1),
       |rep_name AS (SELECT entity_id, name FROM members WHERE doc_id = entity_id)
       |SELECT st.entity_id, st.n_members, rn.name, ms.source, st.total_chars, st.lang
       |FROM stats st JOIN mode_src ms ON st.entity_id = ms.entity_id
       |JOIN rep_name rn ON st.entity_id = rn.entity_id""".stripMargin

  /** The standing (even-id) half's CLUSTERING state — the frozen model
    * [[erGoldenIncremental]] maintains: (doc_id, entity_id) from the
    * standing-only linkage (standing-cap pairs → connected components).
    * FitStore-persisted like every fitted artifact; serving loads it and
    * never re-clusters history. The survivorship PARTIALS (per-entity
    * source counts, member/char/lang aggregates) are derived from it by
    * one linear scan per serve here; a deployment persists those too and
    * merges arrival deltas algebraically — the derivation below is
    * written in exactly that partial-merge form so the persisted shape
    * drops in.
    */
  private[graft] def sharedStandingAssignment(spark: SparkSession,
      sfDir: String): DataFrame =
    SharedFits.memo(spark, s"er_assign_st:$sfDir") {
      FitStore.frame(spark, "er_assign_st",
        FitStore.documentsFp(spark, sfDir, half = Some(0))) {
        standingAssignmentOf(Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 2 === 0))
      }.localCheckpoint()
    }

  /** The standing-only linkage: standing-cap pairs → CC → (doc_id,
    * entity_id). The fit [[sharedStandingAssignment]] persists.
    */
  private[graft] def standingAssignmentOf(standing: DataFrame): DataFrame = {
    val pairs = scoredPairs(standing)
      .filter(col("score") >= ER_SCORE_TAU)
      .select(col("a_id").as("d1"), col("b_id").as("d2"))
    Dedup.connectedComponents(
        records(standing).select(col("doc_id").as("id")), pairs)
      .select(col("id").as("doc_id"), col("rep_id").as("entity_id"))
  }

  /** `er_golden_incremental`: golden records MAINTAINED as mentions
    * arrive — the incremental completion of [[erGolden]], closing the
    * round-12 gap (ER was the last first-class family with no
    * incremental form). Odd doc_ids play the arriving batch against the
    * even standing corpus, and the decomposition never re-clusters or
    * re-scans standing history beyond linear probes:
    *
    *  - NEW PAIRS are [[erPairsIncrementalOver]]'s arrival-touching set
    *    (union-cap semantics, the already-gated probe shape);
    *  - CLUSTERING runs on the CONTRACTED graph: each standing endpoint
    *    collapses to its standing entity label, so the CC fixpoint sees
    *    |arrivals| + |touched entities| nodes — batch-bounded, never the
    *    corpus. Contraction is exact: standing entities are internally
    *    connected by construction, no new standing–standing edge can
    *    exist (every new pair touches an arrival), and the min-id label
    *    convention survives contraction because a standing entity's
    *    label IS its members' min id;
    *  - SURVIVORSHIP merges algebraically: standing per-entity partials
    *    (source counts; member/char/lang aggregates — derived from the
    *    FitStore-persisted assignment, see [[sharedStandingAssignment]])
    *    are remapped to the merged entity and summed with the batch's
    *    own partials. The mode is the one non-trivial rule and it
    *    merges exactly at the (entity, source) count grain — the reason
    *    the count table, not the mode itself, is the standing state;
    *  - the REP-NAME lookup probes the record-by-id view with an
    *    UNHINTED equi-join (corpus-proportional standing side — the
    *    round-13 broadcast-hint lesson applies verbatim).
    *
    * Emitted: golden records of every component containing ≥ 1 arrival
    * — exactly the rows the cold [[erGolden]] over the full corpus
    * produces for those components, under the GROW-HISTORY pair set
    * (standing pairs were capped at standing block sizes when they were
    * decided; arrival pairs at union sizes; a block pushed past the cap
    * by growth sheds future pairs but never retracts standing links —
    * production incremental semantics, and what the oracle states).
    * Untouched entities' golden records stand unchanged, so per-batch
    * cost is O(batch + touched), independent of corpus size.
    */
  def erGoldenIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 === 1)
    // the standing fit, the arrival-touching pair probe and the arrival
    // record pin are mutually independent chains of blocking jobs —
    // overlap them so the probe side rides the fit's idle capacity
    // (guide §2.6; bounded pool, Overlap.scala)
    val r = Overlap.all(Seq(
      () => sharedStandingAssignment(spark, sfDir),
      () => erPairsIncrementalOver(standing, arrivals)
        .select(col("a_id"), col("b_id")).localCheckpoint(),
      () => arrivalRecords(arrivals)), Overlap.DEFAULT_CAP)
    erGoldenFinish(standing, r(0), r(1), r(2))
  }

  private[graft] def erGoldenIncrementalOver(standing: DataFrame,
      arrivals: DataFrame, assignSt: DataFrame): DataFrame =
    erGoldenFinish(standing, assignSt,
      erPairsIncrementalOver(standing, arrivals)
        .select(col("a_id"), col("b_id")).localCheckpoint(),
      arrivalRecords(arrivals))

  /** The arrivals' pinned entity records — the `ra` [[erGoldenFinish]] takes. */
  private[graft] def arrivalRecords(arrivals: DataFrame): DataFrame =
    records(arrivals).localCheckpoint()

  /** The golden-record MERGE from an arrival-touching pair frame —
    * contracted-CC fixpoint + algebraic survivorship against the
    * standing assignment. Shared verbatim by the one-shot incremental
    * (grow-history pairs) and the streaming drain (frozen-cap pairs from
    * the replay sink) — the pair-admission POLICY is the only thing the
    * two modes disagree on, so it is the parameter (round 14,
    * `er_golden_stream`).
    */
  private[graft] def erGoldenFinish(standing: DataFrame, assignSt: DataFrame,
      newPairs: DataFrame, ra: DataFrame): DataFrame = {
    val rs = records(standing)
    // contract standing endpoints to their entity label (left join: an
    // arrival endpoint has no standing assignment and keeps its own id).
    // Unhinted: assignSt is corpus-proportional; AQE broadcasts the
    // batch-bounded pair side instead.
    val e1 = newPairs
      .join(assignSt.select(col("doc_id").as("a_id"),
        col("entity_id").as("la")), Seq("a_id"), "left")
      .join(assignSt.select(col("doc_id").as("b_id"),
        col("entity_id").as("lb")), Seq("b_id"), "left")
      .select(coalesce(col("la"), col("a_id")).as("d1"),
        coalesce(col("lb"), col("b_id")).as("d2"))
      .filter(col("d1") =!= col("d2"))
      .distinct()
    val touchedSt = e1
      .select(explode(array(col("d1"), col("d2"))).as("id"))
      .filter(col("id") % 2 === 0).distinct()
    val nodes = ra.select(col("doc_id").as("id")).unionByName(touchedSt)
    // batch-bounded fixpoint: |arrivals| + |touched entities| nodes
    val cc2 = Dedup.connectedComponents(nodes, e1)
      .select(col("id"), col("rep_id").as("new_entity"))
      .localCheckpoint()
    // remap is batch-bounded → broadcast back onto the standing partials
    // (the dedup_clusters_incremental joiner-counts pattern)
    val remap = cc2.filter(col("id") % 2 === 0)
      .select(col("id").as("entity_id"), col("new_entity"))
    val arrAssign = cc2.filter(col("id") % 2 === 1)
      .select(col("id").as("doc_id"), col("new_entity"))
    // standing partials at the (entity, source) / entity grain — one
    // linear scan off the persisted assignment (deployments persist the
    // partials themselves; the merge below is identical either way)
    // membersSt/arrMembers are BATCH-BOUNDED after the remap inner join
    // (only touched entities' members survive) and each feeds the source
    // mode AND the stats partials — unpinned, every consumer replanned the
    // corpus-side records join; pinned, the probe chain runs once
    // the two member pins depend only on the checkpointed cc2 — overlap
    val mr = Overlap.all(Seq(
      () => rs.join(assignSt, Seq("doc_id"))
        .join(broadcast(remap), Seq("entity_id")).localCheckpoint(),
      () => ra.join(broadcast(arrAssign), Seq("doc_id")).localCheckpoint()), Overlap.DEFAULT_CAP)
    val membersSt = mr(0)
    val arrMembers = mr(1)
    // srcMerged feeds maxCnt and the mode join (two consumers, tiny frame)
    val srcMerged = membersSt
      .groupBy(col("new_entity"), col("source")).agg(count(lit(1)).as("cnt"))
      .unionByName(arrMembers
        .groupBy(col("new_entity"), col("source")).agg(count(lit(1)).as("cnt")))
      .groupBy(col("new_entity"), col("source")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    val maxCnt = srcMerged.groupBy(col("new_entity")).agg(max(col("cnt")).as("mx"))
    val modeSrc = srcMerged.join(maxCnt, Seq("new_entity"))
      .filter(col("cnt") === col("mx"))
      .groupBy(col("new_entity")).agg(min(col("source")).as("source"))
    def parts(m: DataFrame) = m.groupBy(col("new_entity")).agg(
      count(lit(1)).as("n"), sum(col("n_chars")).as("tc"), min(col("lang")).as("lg"))
    val statsMerged = parts(membersSt).unionByName(parts(arrMembers))
      .groupBy(col("new_entity")).agg(
        sum(col("n")).cast("long").as("n_members"),
        sum(col("tc")).cast("long").as("total_chars"),
        min(col("lg")).as("lang"))
    // rep name: the record whose doc_id IS the merged entity label —
    // unhinted probe of the corpus-proportional by-id record view
    val names = rs.select(col("doc_id").as("new_entity"), col("name"))
      .unionByName(ra.select(col("doc_id").as("new_entity"), col("name")))
    statsMerged.join(modeSrc, Seq("new_entity"))
      .join(names, Seq("new_entity"))
      .select(col("new_entity").as("entity_id"), col("n_members"),
        col("name"), col("source"), col("total_chars"), col("lang"))
  }

  /** Oracle: the cold golden records over the GROW-HISTORY pair set
    * (standing–standing pairs under the standing cap, arrival-touching
    * pairs under the union cap — see [[erGoldenIncremental]]),
    * restricted to entities containing ≥ 1 arrival (odd doc_id).
    */
  val erGoldenIncrementalSql: String = {
    def agreeCols(a: String, b: String) =
      s"""CASE WHEN levenshtein($a.name, $b.name) <= $ER_NAME_MAXDIST THEN 1 ELSE 0 END AS agree_name,
         |         CASE WHEN $a.source = $b.source THEN 1 ELSE 0 END AS agree_source,
         |         CASE WHEN abs($a.n_chars - $b.n_chars) <= $ER_LEN_MAXDIFF THEN 1 ELSE 0 END AS agree_len""".stripMargin
    s"""WITH RECURSIVE r AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, $NAME_TOKENS), ' ') AS name,
       |         string_split_regex(text, '\\s+')[1] AS t1
       |  FROM documents),
       |bsz_st AS (SELECT lang, t1, count(*) AS bs FROM r WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |k_st AS (SELECT r.* FROM r JOIN bsz_st b ON r.lang = b.lang AND r.t1 = b.t1
       |         WHERE r.doc_id % 2 = 0 AND b.bs <= $ER_BLOCK_CAP),
       |bsz AS (SELECT lang, t1, count(*) AS bs FROM r GROUP BY 1, 2),
       |k AS (SELECT r.* FROM r JOIN bsz b ON r.lang = b.lang AND r.t1 = b.t1
       |      WHERE b.bs <= $ER_BLOCK_CAP),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         ${agreeCols("a", "b")}
       |  FROM k_st a JOIN k_st b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         ${agreeCols("a", "b")}
       |  FROM k a JOIN k b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id
       |  WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1),
       |matched AS (
       |  SELECT a_id, b_id FROM cand
       |  WHERE (CASE WHEN agree_name = 1 THEN $W_NAME_AGREE ELSE $W_NAME_DIS END
       |         + CASE WHEN agree_source = 1 THEN $W_SRC_AGREE ELSE $W_SRC_DIS END
       |         + CASE WHEN agree_len = 1 THEN $W_LEN_AGREE ELSE $W_LEN_DIS END) >= $ER_SCORE_TAU),
       |edges AS (SELECT a_id AS d1, b_id AS d2 FROM matched
       |          UNION ALL SELECT b_id AS d1, a_id AS d2 FROM matched),
       |reach AS (
       |  SELECT doc_id, doc_id AS rl FROM r
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.rl FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |assign AS (SELECT doc_id, min(rl) AS entity_id FROM reach GROUP BY 1),
       |members AS (SELECT r.*, a.entity_id FROM r JOIN assign a ON r.doc_id = a.doc_id),
       |touched AS (SELECT DISTINCT entity_id FROM members WHERE doc_id % 2 = 1),
       |src_cnt AS (SELECT entity_id, source, count(*) AS cnt FROM members GROUP BY 1, 2),
       |max_cnt AS (SELECT entity_id, max(cnt) AS mx FROM src_cnt GROUP BY 1),
       |mode_src AS (
       |  SELECT s.entity_id, min(s.source) AS source
       |  FROM src_cnt s JOIN max_cnt m ON s.entity_id = m.entity_id AND s.cnt = m.mx
       |  GROUP BY 1),
       |stats AS (
       |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars, min(lang) AS lang
       |  FROM members GROUP BY 1),
       |rep_name AS (SELECT entity_id, name FROM members WHERE doc_id = entity_id)
       |SELECT st.entity_id, st.n_members, rn.name, ms.source, st.total_chars, st.lang
       |FROM stats st
       |JOIN touched t ON st.entity_id = t.entity_id
       |JOIN mode_src ms ON st.entity_id = ms.entity_id
       |JOIN rep_name rn ON st.entity_id = rn.entity_id""".stripMargin
  }

  /** Oracle for the STREAMING golden twin: the cold golden records over
    * the FROZEN-CAP pair set (the `er_pairs_stream` admission policy —
    * cap decisions pinned at standing-index-build time, so the kept
    * view is "records whose standing block size is ≤ cap"; a frozen
    * standing–standing pair is then exactly a standing-linkage pair,
    * which is why the drain can contract onto the SAME standing
    * assignment the incremental uses), restricted to entities containing
    * ≥ 1 arrival (odd doc_id).
    */
  val erGoldenStreamSql: String =
    s"""WITH RECURSIVE r AS (
       |  SELECT doc_id, lang, source, n_chars,
       |         array_to_string(list_slice(string_split_regex(text, '\\s+'), 1, $NAME_TOKENS), ' ') AS name,
       |         string_split_regex(text, '\\s+')[1] AS t1
       |  FROM documents),
       |bsz_st AS (SELECT lang, t1, count(*) AS bs FROM r WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |k AS (SELECT r.* FROM r LEFT JOIN bsz_st b ON r.lang = b.lang AND r.t1 = b.t1
       |      WHERE COALESCE(b.bs, 0) <= $ER_BLOCK_CAP),
       |cand AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CASE WHEN levenshtein(a.name, b.name) <= $ER_NAME_MAXDIST THEN 1 ELSE 0 END AS agree_name,
       |         CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS agree_source,
       |         CASE WHEN abs(a.n_chars - b.n_chars) <= $ER_LEN_MAXDIFF THEN 1 ELSE 0 END AS agree_len
       |  FROM k a JOIN k b ON a.lang = b.lang AND a.t1 = b.t1 AND a.doc_id < b.doc_id),
       |matched AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id,
       |           (CASE WHEN agree_name = 1 THEN $W_NAME_AGREE ELSE $W_NAME_DIS END
       |            + CASE WHEN agree_source = 1 THEN $W_SRC_AGREE ELSE $W_SRC_DIS END
       |            + CASE WHEN agree_len = 1 THEN $W_LEN_AGREE ELSE $W_LEN_DIS END) AS score
       |    FROM cand)
       |  WHERE score >= $ER_SCORE_TAU),
       |edges AS (SELECT a_id AS d1, b_id AS d2 FROM matched
       |          UNION ALL SELECT b_id AS d1, a_id AS d2 FROM matched),
       |reach AS (
       |  SELECT doc_id, doc_id AS rl FROM r
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.rl FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |assign AS (SELECT doc_id, min(rl) AS entity_id FROM reach GROUP BY 1),
       |members AS (SELECT r.*, a.entity_id FROM r JOIN assign a ON r.doc_id = a.doc_id),
       |touched AS (SELECT DISTINCT entity_id FROM members WHERE doc_id % 2 = 1),
       |src_cnt AS (SELECT entity_id, source, count(*) AS cnt FROM members GROUP BY 1, 2),
       |max_cnt AS (SELECT entity_id, max(cnt) AS mx FROM src_cnt GROUP BY 1),
       |mode_src AS (
       |  SELECT s.entity_id, min(s.source) AS source
       |  FROM src_cnt s JOIN max_cnt m ON s.entity_id = m.entity_id AND s.cnt = m.mx
       |  GROUP BY 1),
       |stats AS (
       |  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
       |         CAST(sum(n_chars) AS BIGINT) AS total_chars, min(lang) AS lang
       |  FROM members GROUP BY 1),
       |rep_name AS (SELECT entity_id, name FROM members WHERE doc_id = entity_id)
       |SELECT st.entity_id, st.n_members, rn.name, ms.source, st.total_chars, st.lang
       |FROM stats st
       |JOIN touched t ON st.entity_id = t.entity_id
       |JOIN mode_src ms ON st.entity_id = ms.entity_id
       |JOIN rep_name rn ON st.entity_id = rn.entity_id""".stripMargin

  /** `er_blocking_audit`: the block-size histogram with the load-shed mass
    * made visible — for each block size: how many blocks, how many
    * candidate pairs that size implies, and whether the cap skips it. The
    * scale instrument for the blocking key: when the skipped-pair share
    * grows, the key has stopped discriminating and needs another field
    * BEFORE anyone raises the cap. (Same instrument pattern as
    * `dedup_lsh_quality` for the banded-LSH threshold.)
    */
  def erBlockingAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val r = records(Tables.documents(spark, sfDir))
    r.groupBy(col("lang"), col("t1")).agg(count(lit(1)).as("block_sz"))
      .groupBy(col("block_sz")).agg(count(lit(1)).as("n_blocks"))
      .select(
        col("block_sz"),
        col("n_blocks"),
        (col("block_sz") * (col("block_sz") - 1) / 2 * col("n_blocks"))
          .cast("long").as("candidate_pairs"),
        (col("block_sz") > ER_BLOCK_CAP).cast("int").as("skipped"))
  }

  val erBlockingAuditSql: String =
    s"""WITH r AS (
       |  SELECT doc_id, lang, string_split_regex(text, '\\s+')[1] AS t1 FROM documents),
       |bsz AS (SELECT lang, t1, count(*) AS block_sz FROM r GROUP BY 1, 2)
       |SELECT block_sz, CAST(count(*) AS BIGINT) AS n_blocks,
       |       CAST(block_sz * (block_sz - 1) / 2 * count(*) AS BIGINT) AS candidate_pairs,
       |       CASE WHEN block_sz > $ER_BLOCK_CAP THEN 1 ELSE 0 END AS skipped
       |FROM bsz GROUP BY block_sz""".stripMargin
}
