package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ArrayFunctions, TextFunctions, VectorFunctions}
import graft.pipeline.Tables

/** Deduplication operators over the `documents` table — the core of any
  * 100 TB training-data pipeline. Cheapest to richest: exact (hash
  * group-by), MinHash+LSH (single-pass K–M signature kernel → band →
  * bucket join; plus the incremental new-batch-vs-standing-corpus probe),
  * banded SimHash (single-pass signature kernel), prefix-filtered exact
  * n-gram Jaccard (AllPairs set-similarity join over kernel-built sets),
  * asymmetric containment (doc-inside-doc), DF-capped shared-long-span
  * substring dedup (+ maximal-passage variant), winnowing fingerprints
  * (MOSS), hyperplane-LSH embedding-cosine near-dup, and cluster
  * assignment via generalized connected components (lexical and
  * embedding-space).
  *
  * Hashing discipline: md5 wherever the hash value shapes the RESULT
  * (signatures, fingerprints, winnow minima — identical bits in Spark
  * and DuckDB, so the oracle replays them exactly); xxhash64 where the
  * hash is internal-only plumbing (set elements, span keys — the engines
  * need only agree on equality, and the oracle hashes the same objects
  * its own way).
  * Scale shape: every pair space is bounded by a bucket key the
  * banding/prefixing/DF-capping controls — equi-joins only, no
  * driver-side loops, no cross join anywhere (PlanSpec-asserted).
  */
object Dedup {

  val NUM_HASHES = 12
  val NUM_BANDS = 3
  val ROWS_PER_BAND: Int = NUM_HASHES / NUM_BANDS
  val JACCARD_THRESHOLD = 0.5

  /** SimHash geometry: a 56-bit signature (14 md5 nibbles — stays clear of
    * the Long sign bit) banded into 8×7-bit bands. Pigeonhole: two
    * signatures within hamming distance ≤ 7 differ in at most 7 bands, so
    * they agree on ≥ 1 of the 8 — banding finds EVERY pair under the
    * threshold, which is why the oracle can stay the naive all-pairs
    * formulation while the engine runs the banded plan. Production tuning
    * trades recall for bucket width (e.g. 64-bit/4×16 at hamming ≤ 3 for
    * web-crawl text); the fixture corpus (31-word vocabulary, short docs)
    * has noisier margins, hence the wider threshold here.
    */
  val SIMHASH_BITS = 56
  val SIMHASH_BANDS = 8
  val SIMHASH_MAX_HAMMING: Int = SIMHASH_BANDS - 1

  /** Exact dedup: group documents by the md5 of whitespace/case-normalized
    * text; emit one representative (min doc_id) + multiplicity per group.
    * Map-side partial agg; one shuffle on the 128-bit fingerprint.
    */
  /** The exact-dedup normalization fingerprint as a Column — the ONE
    * engine-side definition (twin of [[EXACT_FP_SQL]]); every consumer
    * (batch groups, the watermark stream, the replay) must call this,
    * for the same no-drift reason the oracle side centralizes.
    */
  def exactFp(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), exactFp(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    exactGroups(Tables.documents(spark, sfDir))

  /** Documents restricted to one representative per exact-duplicate group
    * (the group's min doc_id). LSH pair generation runs on THIS view: K
    * byte-identical copies of a document have identical signatures, so
    * they land K rows in every band bucket and generate K²/2 candidate
    * pairs that exact dedup already catches for free — the classic
    * quadratic trap of running near-dup before exact dedup. One
    * fingerprint group-by + a semi join, both shuffling far less than the
    * pair blowup they prevent. The oracle mirrors the restriction.
    */
  private[graft] def exactReps(docs: DataFrame): DataFrame =
    docs.join(exactGroups(docs).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The exact-dedup normalization fingerprint, as DuckDB SQL — the ONE
    * definition every oracle that reasons about exact duplicates
    * interpolates ([[dedupExactSql]], [[KEEP_CTE]],
    * [[TextAnalysis.textCorpusReportSql]]); a second literal copy is how
    * engine/oracle drift starts.
    */
  val EXACT_FP_SQL: String =
    """md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"""

  /** DuckDB twin of [[exactReps]]'s keep-set (min doc_id per normalized
    * fingerprint group).
    */
  private val KEEP_CTE: String =
    s"""keep AS (
       |  SELECT min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, $EXACT_FP_SQL AS fp
       |        FROM documents) GROUP BY fp)""".stripMargin

  val dedupExactSql: String =
    s"""SELECT $EXACT_FP_SQL AS fp,
       |       min(doc_id) AS keep_id, count(*) AS dup_count
       |FROM documents GROUP BY 1""".stripMargin

  /** MinHash signature per document: H permutations via the
    * Kirsch–Mitzenmacher construction g_i = (h1 + i·h2) mod 2^56 over ONE
    * md5 per shingle (h1/h2 = the digest's two 56-bit halves) — preserves
    * MinHash's collision analysis (K–M '06) at 1/12th the hashing cost of
    * independent salted digests. No term overflows: h1 + 11·h2 < 2^60.
    *
    * Computed ARRAY-SIDE by the [[graft.functions.MinhashSig]] kernel —
    * one codegen'd projection per document, zero shuffle; bit-identical
    * to the exploded substr(md5)/conv formulation the oracle still runs
    * (hex chars 1–14 = digest bytes 0–6, chars 15–28 = bytes 7–13).
    */
  val MINHASH_MASK: Long = (1L << 56) - 1

  def signatures(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.minhashSig(col("toks"), NUM_HASHES).as("sig"))
      .select(col("doc_id") +:
        (0 until NUM_HASHES).map(h => element_at(col("sig"), h + 1).as(s"mh$h")): _*)
  }

  private val sigSqlCols: String =
    (0 until NUM_HASHES)
      .map(h => s"min((h1 + $h * h2) & $MINHASH_MASK) AS mh$h")
      .mkString(",\n         ")

  /** MinHash + LSH banding: hash each band of the signature to a bucket key,
    * self-join per band bucket, count agreeing bands per candidate pair.
    * Pairs agreeing on ≥1 of 3 bands (4 rows each) ≈ Jaccard ≳ 0.6 with
    * high probability. The self-join shuffles on (band_no, bucket) — bucket
    * population, not corpus size, bounds the pair blowup, which is the whole
    * point of LSH at 100 TB.
    */
  /** (doc_id, band_no, bucket) LSH band rows for a document set. One row
    * per document after the signature projection — locally checkpointed
    * so the band projections read it once. Unlike cache(), checkpoint
    * storage is owned by the returned plan's RDD and reclaimed by the
    * context cleaner when the result is dropped — no harness clearCache
    * required.
    */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    val bandCols = (0 until NUM_BANDS).map { b =>
      val parts = (0 until ROWS_PER_BAND).map(r => col(s"mh${b * ROWS_PER_BAND + r}"))
      md5(concat_ws("|", parts: _*)).as(s"b$b")
    }
    val bands = signatures(docs).select(col("doc_id") +: bandCols: _*).localCheckpoint()
    (0 until NUM_BANDS).map { b =>
      bands.select(col("doc_id"), lit(b).as("band_no"), col(s"b$b").as("bucket"))
    }.reduce(_.unionByName(_))
  }

  def minhashPairs(docs: DataFrame): DataFrame = {
    val buckets = minhashBands(exactReps(docs))
    // bucket-bounded pairs via a plain equi-join on (band_no, bucket):
    // stays in WholeStageCodegen end to end (a collect_list+pair-explode
    // lambda would run interpreted)
    val x = buckets.select(col("band_no"), col("bucket"), col("doc_id").as("d1"))
    val y = buckets.select(col("band_no"), col("bucket"), col("doc_id").as("d2"))
    x.join(y, Seq("band_no", "bucket"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).cast("long").as("n_bands"))
  }

  /** Incremental near-dup: NEW documents probed against an EXISTING
    * (already-deduped) corpus — the nightly-crawl shape, where the self-
    * join pair space is wrong twice over (prior×prior pairs were already
    * resolved, and the new batch is tiny next to the corpus). Band rows
    * are built for both sides with the same geometry, and the join is
    * new-side × prior-side only: fan-out is bounded by bucket occupancy
    * AND batch size, never corpus². At production scale the prior side's
    * band table is a PERSISTED index (computed once, appended per batch),
    * which this models by deriving both sides from the fixture corpus —
    * odd doc_ids play the new batch, even ids the standing corpus.
    */
  def incrementalMinhashMatches(newDocs: DataFrame, priorDocs: DataFrame): DataFrame =
    incrementalBandMatches(minhashBands(newDocs), minhashBands(priorDocs))

  /** The probe itself, over pre-built band frames — shared by the
    * docs-level form above and the FitStore-indexed [[dedupIncremental]].
    */
  private def incrementalBandMatches(newBands: DataFrame,
      priorBands: DataFrame): DataFrame = {
    val x = newBands.select(col("band_no"), col("bucket"), col("doc_id").as("new_id"))
    val y = priorBands.select(col("band_no"), col("bucket"), col("doc_id").as("prior_id"))
    x.join(y, Seq("band_no", "bucket"))
      .groupBy(col("new_id"), col("prior_id"))
      .agg(count(lit(1)).cast("long").as("n_bands"))
  }

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(Tables.documents(spark, sfDir))

  private val MINHASH_BAND_EXPRS: String = (0 until NUM_BANDS).map { b =>
    val parts = (0 until ROWS_PER_BAND)
      .map(r => s"CAST(mh${b * ROWS_PER_BAND + r} AS VARCHAR)")
      .mkString(" || '|' || ")
    s"md5($parts) AS b$b"
  }.mkString(",\n         ")

  private val MINHASH_BAND_UNION: String = (0 until NUM_BANDS)
    .map(b => s"SELECT doc_id, $b AS band_no, b$b AS bucket FROM bands")
    .mkString("\n  UNION ALL ")

  /** Shared oracle text: hashed shingles (optionally doc-filtered) →
    * signatures → band buckets.
    */
  private def minhashBucketCtes(hashedFilter: String): String =
    s"""hashed AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(shingle), 1, 14)) AS BIGINT) AS h1,
       |         CAST(('0x' || substr(md5(shingle), 15, 14)) AS BIGINT) AS h2
       |  FROM sh$hashedFilter),
       |sig AS (
       |  SELECT doc_id,
       |         $sigSqlCols
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id,
       |         $MINHASH_BAND_EXPRS
       |  FROM sig),
       |buckets AS (
       |  $MINHASH_BAND_UNION)""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |$KEEP_CTE,
       |${minhashBucketCtes("\n  WHERE doc_id IN (SELECT doc_id FROM keep)")}
       |SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_bands
       |FROM buckets x
       |JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |             AND x.doc_id < y.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** STAR-form banded candidates — the oracle for the streaming
    * near-dup replay ([[graft.streaming.StreamingPipeline.nearDupStream]]):
    * each (band, bucket)'s FIRST-SEEN document is its representative and
    * every later bucket mate pairs against the rep only — |bucket|−1
    * pairs per bucket instead of the batch clique's (|bucket| choose 2).
    * Under a doc_id-ordered replay first-seen ≡ min(doc_id), so the
    * star is a deterministic SQL view of the same bucket geometry (the
    * bucket CTEs are shared with [[dedupMinhashSql]] verbatim; no exact-
    * dedup keep-filter — the firehose sees raw arrivals).
    */
  val nearDupStarSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |${minhashBucketCtes("")},
       |rep AS (
       |  SELECT band_no, bucket, min(doc_id) AS rep
       |  FROM buckets GROUP BY 1, 2)
       |SELECT r.rep AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_bands
       |FROM buckets b
       |JOIN rep r ON b.band_no = r.band_no AND b.bucket = r.bucket
       |WHERE b.doc_id <> r.rep
       |GROUP BY 1, 2""".stripMargin

  /** The standing corpus's band index — what "prior bands persist as an
    * index" means operationally: (doc_id, band_no, bucket) rows keyed by
    * the standing half's fingerprint, memoized per session and persisted
    * per corpus ([[FitStore]] artifact `minhash_bands_prior`). A nightly
    * batch probes this index; only the arriving side re-hashes.
    */
  private def priorBandIndex(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"minhash_bands_prior:$sfDir") {
      FitStore.frame(spark, "minhash_bands_prior",
        FitStore.documentsFp(spark, sfDir, half = Some(0))) {
        minhashBands(Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 2 === 0))
      }.localCheckpoint()
    }

  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame =
    incrementalBandMatches(
      minhashBands(Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 2 === 1)),
      priorBandIndex(spark, sfDir))

  val dedupIncrementalSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |${minhashBucketCtes("")}
       |SELECT x.doc_id AS new_id, y.doc_id AS prior_id,
       |       CAST(count(*) AS BIGINT) AS n_bands
       |FROM buckets x
       |JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
       |GROUP BY 1, 2""".stripMargin

  /** SimHash: [[SIMHASH_BITS]]-bit signature per document. Each distinct
    * word-3-gram shingle votes ±1 on every bit of its (md5-derived) hash;
    * the signature sets bit b iff the vote sum is positive. Features
    * are shingles, not tokens: token sets barely differ across documents
    * of a shared vocabulary, while shingle sets carry word order and
    * separate near-duplicates from the rest.
    *
    * Computed ARRAY-SIDE: one codegen'd projection runs the whole
    * pipeline (shingle → distinct → md5 → 56 bit votes → threshold) per
    * document via the [[graft.functions.SimhashFromTokens]] kernel — zero
    * shuffle, versus the exploded formulation (one row per shingle
    * shuffled to a 56-sum-column aggregate) the oracle still states the
    * semantics with. Docs with < 3 tokens have no shingles and are
    * excluded, exactly like the exploded group-by.
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.simhash56(col("toks")).as("simhash"))
  }

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSignatures(Tables.documents(spark, sfDir))

  /** SimHash near-dup pairs: signatures within hamming distance ≤
    * [[SIMHASH_MAX_HAMMING]], found via banded LSH — each signature is cut
    * into [[SIMHASH_BANDS]] bands of [[SIMHASH_BITS]] / bands bits,
    * candidates are pairs sharing any (band_no, band_val) bucket, and the
    * exact hamming filter runs only inside buckets. Pigeonhole makes this
    * EXACT: hamming ≤ bands−1 implies ≥ 1 identical band, so no
    * qualifying pair is missed.
    * One shuffle (the bucket groupBy); pair fan-out is bounded by bucket
    * population, never corpus size — no cross join anywhere in the plan.
    * The signature carries into the bucket rows, so the hamming check needs
    * no join back to the signature table.
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    // kernel-checkpointed once; the band explode per join side is a
    // 1-long projection. A plain equi-join on the bucket key keeps the
    // whole pair loop (xor + bit_count + threshold) inside
    // WholeStageCodegen; the collect_list+pair-explode alternative runs
    // the pair lambda interpreted, which measures ~3× slower.
    val sigs = simhashSignatures(exactReps(docs)).localCheckpoint()
    val spark = docs.sparkSession
    val scratch = Resources.scratchBudget(spark)
    val (blocks, radius) = mihGeometry(sigs.count(),
      SIMHASH_BANDS, SIMHASH_MAX_HAMMING,
      simhashRung1N(Resources.payloadBudget(spark), scratch),
      simhashRung2N(scratch))
    if (radius > 1)
      mihPairsRung2(sigs, "doc_id", "simhash",
        SIMHASH_BITS, SIMHASH_MAX_HAMMING, ("d1", "d2"))
    else
      bandedHammingPairs(sigs, "doc_id", "simhash",
        SIMHASH_BITS, SIMHASH_MAX_HAMMING, blocks, radius, ("d1", "d2"))
  }

  /** Occupancy-rung geometry for hamming-exact banded self-join over a
    * fixed-width signature — the fixed-band twin of [[hypBitsFor]]'s
    * occupancy pin. The base geometry (blocks = H+1, radius 0) buckets
    * into 2^(bits/(H+1)) values per band; occupancy grows ∝ N, so the
    * per-bucket pair space is the same N²/2^bandBits quadratic the
    * hyperplane fix killed (the SimHash knee: 2^7 = 128 values/band).
    * Unlike the hyperplane tables the band width is NOT a free dial —
    * pigeonhole at hamming ≤ H needs one ALL-AGREEING band out of H+1 —
    * so the rung ladder rebalances blocks and a probe radius instead
    * (multi-index hashing, Norouzi & Fleet: a pair within hamming H of a
    * B-block signature has SOME block within ⌊H/B⌋): halving the blocks
    * doubles the band width (squares the value space) and the probe side
    * expands each band value by its ≤⌊H/B⌋-bit-flip neighbors, keeping
    * candidate generation COMPLETE. The exact in-bucket hamming filter
    * is unchanged, so the returned pair set is bit-identical at EVERY
    * rung — geometry changes cost, never results, and the static DuckDB
    * oracles stay safe at any corpus size (stronger than the hyperplane
    * story, which is bit-identical only below the pin). Rung 1 for
    * SimHash (4 blocks × 14 bits, radius 1): candidate mass drops from
    * N²/2^7 per band-pair to (1+14)·N²/2^14 — ≈ 17× — at 4+60 band rows
    * per doc instead of 16; the shuffle-vs-verify crossover lands near
    * 10^5 docs on measured constants (SCALING.md).
    */
  private[graft] def mihGeometry(n: Long, baseBlocks: Int, maxH: Int,
      rung1N: Long, rung2N: Long): (Int, Int) =
    if (n < rung1N) (baseBlocks, 0)
    else if (n < rung2N || baseBlocks <= 4) {
      val blocks = math.max(1, baseBlocks / 2)
      (blocks, maxH / blocks)
    } else (2, maxH / 2)

  /** Corpus size where SimHash banding takes the wider rung-1 geometry —
    * DERIVED (round 14): the corpus at which rung 0's in-bucket
    * candidate mass (8·N²/2⁷ rows) crosses the configured PAYLOAD
    * budget ([[Resources.payloadBudget]] — execution memory + page
    * cache, the resource whose exhaustion makes the in-memory join go
    * super-linear). Default budget instantiates to ≈77k on this box —
    * the measured r12 pin (65536) within 18%, now portable: a fleet
    * with bigger executors raises the budget and keeps the cheaper
    * rung-0 plan longer. Every gated fixture sits far below.
    *
    * The pin is the MIN over BOTH budgets at rung 0's OWN geometry
    * (round-14 self-review): a big-memory/small-disk fleet would
    * otherwise keep the rung-0 explode-join past the point its
    * candidate mass spills the scratch disk — the most scratch-hungry
    * plan routed to exactly the fleet that can least absorb it. With
    * equal scratch budgets the rung-0 scratch ceiling sits √(16/273) ≈
    * 0.24× of rung 1's, so rung1N ≤ rung2N holds WHILE both ceilings
    * are quadratic-bound — but below ≈35 MB of scratch the rung-1
    * ceiling's LINEAR term (the probe-explode row volume itself) binds
    * first and the raw formulas can invert (round-15 advice). The
    * accessor therefore CLAMPS to [[simhashRung2N]]: under any budget
    * config, however degenerate, the ladder hands off in rung order —
    * the scratch-hungriest rung-0 plan can never outlive the rung-2
    * boundary (spec-asserted under both the adversarial and the
    * degenerate config).
    */
  def simhashRung1N(payloadBytes: Long, scratchBytes: Long): Long = {
    val blocks = SIMHASH_BANDS
    val bandBits = SIMHASH_BITS / SIMHASH_BANDS
    math.min(
      math.min(
        Resources.bandedRungCeiling(payloadBytes, blocks, bandBits, 0),
        Resources.bandedRungCeiling(scratchBytes, blocks, bandBits, 0)),
      simhashRung2N(scratchBytes))
  }

  /** Corpus size where SimHash pairing switches to the rung-2 cogroup
    * operator ([[mihPairsRung2]]) — DERIVED (round 14) from the
    * measured r13 crack: rung 1 wins decisively at 500k docs (7.6 s vs
    * rung 2's 80.7 — its candidate mass is still cheap) and DIES at
    * 1.5 M, where ≈8.2 B candidate rows spill ≈300 GB until the box's
    * 78 GB scratch disk fills ("No space left on device"), while rung 2
    * completes with an O(N) working set and measured-flat per-doc cost
    * (80.7 → 232.9 s for 3× docs). That run calibrates
    * [[Resources.CAND_ROW_BYTES]] (≈36 B/spilled row), and the pin is
    * where rung 1's estimated candidate volume
    * (4·15·N²/2¹⁴ · 36 B) crosses the configured SCRATCH budget
    * ([[Resources.scratchBudget]]): ≈769k at this box's 78 GB — INSIDE
    * the measured (500k, 1.5M) bracket, and safer than r13's absolute
    * 1M pin, which the extrapolation places slightly past the 78-GB
    * crossing. Survivability boundary, not wall-time crossover: the
    * explode-join fails on DISK, the resource a cluster rations per
    * executor — a small-scratch fleet lowers the budget and flips to
    * the survivable kernel earlier.
    */
  def simhashRung2N(scratchBytes: Long): Long =
    Resources.bandedRungCeiling(scratchBytes,
      SIMHASH_BANDS / 2, SIMHASH_BITS / (SIMHASH_BANDS / 2), 1)

  /** Hamming-≤maxH pairs of a signature frame via rung-geometry banded
    * LSH (see [[mihGeometry]]): index side emits exact (band_no,
    * band_val) rows; the probe side additionally emits every band value
    * within `radius` bit flips (radius 0 = the classic exact-band plan,
    * byte-for-byte today's geometry). Both orientations of every
    * qualifying pair are generated (x probes y's index row and vice
    * versa), so the d1 < d2 keep-rule loses nothing and `distinct`
    * collapses multi-band hits, exactly as before.
    */
  private[graft] def bandedHammingPairs(sigs: DataFrame, id: String,
      sig: String, bits: Int, maxH: Int, blocks: Int, radius: Int,
      out: (String, String)): DataFrame = {
    require(radius <= 1, s"probe expansion beyond 1 bit flip not built (radius=$radius)")
    require(blocks * (radius + 1) >= maxH + 1,
      s"pigeonhole violated: $blocks blocks at radius $radius miss hamming-$maxH pairs")
    val bandBits = bits / blocks
    val mask = (1L << bandBits) - 1
    val bands = sigs.select(col(id), col(sig),
        explode(expr(s"sequence(0, ${blocks - 1})")).as("band_no"))
      .withColumn("band_val",
        expr(s"($sig >> (band_no * $bandBits)) & $mask"))
    val probe = if (radius == 0) bands else
      bands.select(col(id), col(sig), col("band_no"),
        explode(expr(
          s"concat(array(band_val), transform(sequence(0, ${bandBits - 1}), " +
            "i -> band_val ^ shiftleft(1L, i)))")).as("band_val"))
    val a = probe.select(col("band_no"), col("band_val"),
      col(id).as("_d1"), col(sig).as("h1"))
    val b = bands.select(col("band_no"), col("band_val"),
      col(id).as("_d2"), col(sig).as("h2"))
    a.join(b, Seq("band_no", "band_val"))
      .filter(col("_d1") < col("_d2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxH)
      .select(col("_d1").as(out._1), col("_d2").as(out._2),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }

  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(Tables.documents(spark, sfDir))

  /** Forced-rung oracle twins (round 14): the SimHash dispatch's
    * non-gate regimes — rung 1 (4×14 radius-1 explode-join, operative
    * past [[simhashRung1N]]) and rung 2 (2×28 [[mihPairsRung2]] cogroup,
    * past [[simhashRung2N]]) — FORCED at gate scale against the same
    * all-pairs oracle SQL as `dedup_simhash_pairs`. The round-12
    * degree-schedule lesson, applied to the last size-dispatched kernel
    * whose operative regimes only spec-equality covered: never ship a
    * dispatch whose operative regime no oracle ever faces.
    */
  def dedupSimhashRung1(spark: SparkSession, sfDir: String): DataFrame =
    bandedHammingPairs(
      simhashSignatures(exactReps(Tables.documents(spark, sfDir)))
        .localCheckpoint(),
      "doc_id", "simhash", SIMHASH_BITS, SIMHASH_MAX_HAMMING,
      SIMHASH_BANDS / 2, 1, ("d1", "d2"))

  def dedupSimhashRung2(spark: SparkSession, sfDir: String): DataFrame =
    mihPairsRung2(
      simhashSignatures(exactReps(Tables.documents(spark, sfDir)))
        .localCheckpoint(),
      "doc_id", "simhash", SIMHASH_BITS, SIMHASH_MAX_HAMMING, ("d1", "d2"))

  // The oracle states the SEMANTICS (all pairs under the hamming threshold,
  // naive all-pairs — fine at oracle scale); the banded plan above is the
  // scale path and provably returns the same set. lazy: reuses
  // dedupSimhashSql, which is declared later in this object.
  lazy val dedupSimhashPairsSql: String = {
    val sigSql = dedupSimhashSql
    s"""WITH sig AS ($sigSql),
       |$KEEP_CTE,
       |sigk AS (SELECT s.* FROM sig s JOIN keep k ON s.doc_id = k.doc_id)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sigk a JOIN sigk b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SIMHASH_MAX_HAMMING""".stripMargin
  }

  val dedupSimhashSql: String = {
    val voteExprs = (0 until SIMHASH_BITS)
      .map(b => s"sum((h >> $b) & 1) AS c$b")
      .mkString(",\n         ")
    val bitsExpr = (0 until SIMHASH_BITS)
      .map(b => s"CASE WHEN c$b * 2 > cnt THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |h AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(shingle), 1, ${SIMHASH_BITS / 4})) AS BIGINT) AS h
       |  FROM sh),
       |v AS (
       |  SELECT doc_id, count(*) AS cnt,
       |         $voteExprs
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST($bitsExpr AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** Exact n-gram Jaccard set-similarity join, prefix-filtered (the
    * AllPairs/PPJoin shape). Candidate pairs must share a shingle from each
    * document's rarest-first PREFIX — the first `n − ⌈t·n⌉ + 1` shingles
    * under a global (document-frequency, shingle) order. Exactness: J ≥ t
    * forces an overlap ≥ ⌈t·n⌉ on either side, so prefixes of that length
    * must intersect — no qualifying pair is missed, and the result is
    * bit-identical to the naive inverted-index join the oracle runs.
    * Candidates are then verified against the per-document sorted shingle
    * sets (`array_intersect`, integer-count arithmetic). Scale shape:
    * indexing only prefixes keeps the hottest (stop-shingle) buckets out of
    * the pair space entirely — the bucket for a corpus-common shingle is
    * populated only by docs rare-poor enough to need it in their prefix,
    * so fan-out tracks discriminative shingles, not raw DF. The set table
    * is one row/doc (locally checkpointed; storage is operator-owned and
    * freed by the context cleaner, no harness clearCache needed).
    */
  /** Measured in-flight verification payload per document of the
    * AllPairs candidate join on the fixture's shingle-set distribution:
    * 10 GB at 150k docs / 20 GB at 300k / 34 GB at 500k → ≈67 KB/doc
    * (candidate fan-out × two full arrays per candidate row).
    */
  val JACCARD_VERIFY_BYTES_PER_DOC = 67_000L

  /** Dispatch pin for the AllPairs verify stage (the [[simhashRung2N]]
    * discipline: pinned at the survivability boundary, not a wall-time
    * sweet spot). Below it the codegen candidate-join is ~2.5× faster —
    * the per-candidate double-array payload still fits execution memory
    * plus page cache (10 GB at 150k docs: 8.7 vs 22.0 s measured). Above
    * it that payload outruns the box and the join goes super-linear
    * (20 GB at 300k docs: 155.9 vs 24.1 s; 34 GB at 500k: 301.2 vs
    * 88.3 s) while the grouped kernel — one array per prefix row, no
    * materialized candidate rows — stays linear. DERIVED (round 14):
    * [[Resources.payloadBudget]] / [[JACCARD_VERIFY_BYTES_PER_DOC]] —
    * exactly the r13 200k-doc pin at this box's default budget, and on
    * a cluster the configured per-fleet budget moves the boundary with
    * the executors (per-executor payload is what a cluster rations
    * too). Both branches face the DuckDB oracle: this dispatch at the
    * gated corpora picks the join, and `dedup_jaccard_grouped` forces
    * the kernel against the same oracle SQL.
    */
  def jaccardGroupedN(payloadBytes: Long): Long =
    payloadBytes / JACCARD_VERIFY_BYTES_PER_DOC

  def ngramJaccardPairs(docs: DataFrame): DataFrame =
    ngramJaccardPairsFromSets(jaccardSets(docs), -1L)

  /** The dispatch seam over an already-built set table. `nDocsHint ≥ 0`
    * skips the size probe (one count job — cheap on the checkpointed set
    * table, but round-14 advice: a per-micro-batch caller should not pay
    * an extra Spark job per invocation just to re-learn that its batches
    * are small). Callers who know their frame is batch-bounded pass the
    * bound; corpus entry points pass -1 and self-count once.
    */
  private[graft] def ngramJaccardPairsFromSets(sets: DataFrame,
      nDocsHint: Long): DataFrame = {
    val n = if (nDocsHint >= 0L) nDocsHint else sets.count()
    val pfx = jaccardPrefix(sets)
    if (n < jaccardGroupedN(Resources.payloadBudget(sets.sparkSession)))
      jaccardVerifyJoin(sets, pfx)
    else jaccardVerifyGrouped(sets, pfx, JACCARD_GROUP_SPLIT)
  }

  /** The candidate+verify stage as the declarative prefix self-JOIN — the
    * form the DuckDB oracle states and the equality twin the spec holds
    * [[ngramJaccardPairs]]'s grouped kernel against. Kept as the reference
    * semantics; the serving construction uses [[jaccardVerifyGrouped]]
    * (same output, and at rehearsal scale it removes the per-candidate
    * double-array shuffle this form pays — the instrumented 84 GB box
    * ceiling of the cold 100× rejections chase, SCALING.md).
    */
  private[graft] def ngramJaccardPairsJoin(docs: DataFrame): DataFrame = {
    val sets = jaccardSets(docs)
    jaccardVerifyJoin(sets, jaccardPrefix(sets))
  }

  /** (doc_id, shs, n): the per-document sorted shingle-hash set table the
    * AllPairs join is built from — one row/doc, locally checkpointed
    * (storage is operator-owned and freed by the context cleaner).
    *
    * Shingles are 64-bit-hashed once at the source: every downstream
    * stage (index, prefix rank, verification) works on sorted bigint
    * arrays instead of strings. Collision odds over D distinct shingles
    * are ~D²/2⁶⁵ (≈1e-11 here; at trillions of shingles swap in a 128-bit
    * hash behind the same shape). The set is built by the single-pass
    * shingle_hashes kernel — the old explode → distinct → collect_set
    * route shuffled the whole shingle stream twice just to land back on
    * doc_id.
    * measured: spreading the input before this kernel is a net LOSS at
    * fixture scale (the single-pass hash kernel is cheaper than the
    * exchange it would take to parallelize it) — unlike the DSIR fit,
    * whose token explode is the expensive half of its pass.
    */
  private[graft] def jaccardSets(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
      .localCheckpoint()
  }

  /** (doc_id, h): each document's rarest-first PREFIX of length
    * n − ⌈t·n⌉ + 1, ranked by the global (document-frequency, shingle)
    * order. Array-side sort+slice after one hash agg — cheaper than a
    * per-doc rank window (which shuffle-sorts every shingle row) and the
    * slice drops common shingles before the explode.
    */
  private[graft] def jaccardPrefix(sets: DataFrame): DataFrame = {
    val sh = sets.select(col("doc_id"), col("n"), explode(col("shs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ranked"))
      .select(col("doc_id"), explode(expr(
        s"""slice(ranked, 1,
           |  CAST(size(ranked) - ceil($JACCARD_THRESHOLD * size(ranked)) + 1 AS INT))"""
          .stripMargin)).as("r"))
      // df rides along for free (already computed for the rank): the
      // grouped verify kernel uses it as a ZERO-COST occupancy bound to
      // block-split degenerate prefix groups — df ≥ prefix occupancy
      // always, so no oversized group escapes the split undetected. (A
      // true per-h occupancy agg+join was measured a net loss — see the
      // rejected note in jaccardVerifyGrouped.)
      .select(col("doc_id"), col("r.h").as("h"), col("r.df").as("df"))
  }

  /** Candidate generation + verification as the declarative join chain:
    * distinct prefix-co-membership pairs, then both full shingle arrays
    * attached per candidate for the merge-intersect verify. This is the
    * oracle's shape — and the shape whose per-candidate DOUBLE-array
    * shuffle the 100× rejections chase instrumented as the box ceiling
    * (42 GB verification payload, 84 GB shuffle write+read; SCALING.md
    * round-13). Kept for the spec and as the semantics statement.
    */
  private[graft] def jaccardVerifyJoin(sets: DataFrame,
      prefix: DataFrame): DataFrame = {
    // candidate pairs from prefix co-membership — plain equi-join (codegen)
    val p1 = prefix.select(col("h"), col("doc_id").as("d1"))
    val p2 = prefix.select(col("h"), col("doc_id").as("d2"))
    val cands = p1.join(p2, Seq("h"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val s1 = sets.select(col("doc_id").as("d1"), col("shs").as("shs1"), col("n").as("n1"))
    val s2 = sets.select(col("doc_id").as("d2"), col("shs").as("shs2"), col("n").as("n2"))
    val jacc = col("c").cast("double") /
      (col("n1") + col("n2") - col("c")).cast("double")
    cands.join(s1, Seq("d1")).join(s2, Seq("d2"))
      // length filter: J ≥ t forces t·n1 ≤ n2 and t·n2 ≤ n1 — prune before
      // the per-pair merge intersect
      .filter(col("n1") * JACCARD_THRESHOLD <= col("n2") &&
        col("n2") * JACCARD_THRESHOLD <= col("n1"))
      .withColumn("c", ArrayFunctions.sortedIntersectCount(col("shs1"), col("shs2")))
      .filter(jacc >= JACCARD_THRESHOLD)
      .select(col("d1"), col("d2"), round(jacc, 6).as("jaccard"))
  }

  /** Candidate generation + verification as a PREFIX-GROUPED KERNEL — the
    * bucket-grouped lesson from [[knnCandGrouped]] and [[mihPairsRung2]]
    * applied to the AllPairs verify, which the 100× rejections chase
    * instrumented as the text families' box ceiling: the join form ships
    * BOTH full shingle arrays per candidate pair (42 GB of verification
    * payload / 84 GB of shuffle at 100×, super-linear wall once it
    * outruns the page cache), while each document's array crosses the
    * shuffle here once per PREFIX ROW — a ~t/(1+…) fraction of the
    * candidate payload (measured 13.4 M prefix rows vs 40.9 M candidates
    * at 100×, and each candidate carried TWO arrays: ≈6× fewer array
    * bytes) — and candidate pair rows never materialize at all.
    *
    * Each (prefix-shingle) group enumerates its member pairs in one task:
    * length filter, two-pointer merge intersect (the same walk as the
    * codegen `sorted_intersect_count`, on the same sorted distinct
    * arrays), Spark's own Round rule (BigDecimal HALF_UP at scale 6) —
    * bit-identical per pair to the join form. A pair sharing several
    * prefix shingles is verified once per shared group and collapsed by
    * the final distinct on the 3-column output — the join form pays the
    * same multiplicity at candidate GENERATION (its distinct runs on the
    * same co-membership multiset, pre-verify), so the kernel trades
    * duplicate in-memory intersects (cheap, integer) for shuffled array
    * bytes (the measured wall). Exactness is the join form's own
    * argument; equality is spec-asserted and the gated oracle unchanged.
    * Boundary, stated: a group materializes its members' arrays in one
    * task (occupancy × array size) — the same per-bucket residency
    * [[knnCandGrouped]] carries, bounded here by prefix discriminativeness
    * plus the upstream exact-dup representative cut.
    */
  /** Residency bound for one grouped-verify task, in group MEMBERS: a
    * prefix group larger than this is block-split (see below) so a
    * degenerate non-discriminative prefix shingle cannot concentrate the
    * whole group's arrays — plus every surviving pair — in a single
    * task's heap (round-14 advice). At 4096 members × ~200-shingle
    * bigint arrays a task holds ≲ 7 MB of payload; the split bound is a
    * residency cap, not a tuning knob.
    */
  val JACCARD_GROUP_SPLIT = 4096

  /** Cap on how many blocks a split group fans into — bounds the shuffle
    * replication of a hot group's entries (each member is shipped once
    * per block-pair row it participates in, ≤ this many).
    */
  val JACCARD_SPLIT_MAX_BLOCKS = 64

  private[graft] def jaccardVerifyGrouped(sets: DataFrame,
      prefix: DataFrame, split: Int): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val t = JACCARD_THRESHOLD
    // (measured and REJECTED: pre-filtering to multi-member buckets via a
    // (h, occ) agg+join saved nothing — 34.2 s → 37.3 s at 30× — because
    // candidate-bearing buckets hold most of the prefix mass here; the
    // extra exchange costs what the dropped singletons save. The block
    // split below reuses jaccardPrefix's df for the same reason: a free
    // upper bound on occupancy beats a paid exact one.)
    val entries = prefix.join(sets, Seq("doc_id"))
      .select(col("h"), col("df"), col("doc_id"), col("shs"), col("n"))
      .as[(Long, Long, Long, Array[Long], Long)]
    // Block split: a group whose df bound exceeds `split` is cut into
    // k = ⌈df/split⌉ (capped) doc-hash blocks and enumerated as block
    // PAIRS — group (h, lo, hi) holds only blocks lo and hi, so one
    // task's residency is ≤ ~2·max(split, df/cap) arrays instead of the
    // whole group. A member of block b lands in every (h, min(o,b),
    // max(o,b)) for o ∈ [0,k): pair (bi, bj) meets in exactly one group,
    // the within-block pair in (b, b) — the classic triangle scheme for
    // distributed all-pairs. Multi-group duplicates (several shared
    // prefix shingles, unchanged from before) collapse in the final
    // distinct.
    val keyed = entries.flatMap { case (h, df, id, shs, n) =>
      if (df <= split) Iterator(((h, 0, 0), (id, shs, n, 0)))
      else {
        val k = math.min(((df + split - 1) / split).toInt,
          JACCARD_SPLIT_MAX_BLOCKS)
        val b = (java.lang.Long.hashCode(id * -0x61c8864680b583ebL) &
          Int.MaxValue) % k
        (0 until k).iterator.map { o =>
          ((h, math.min(o, b), math.max(o, b)), (id, shs, n, b))
        }
      }
    }
    keyed.groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val cross = key._2 != key._3 // block-pair group: only cross pairs
        val rows = it.map(_._2).toArray
        val m = rows.length
        // Lazy pair emission (round-14 advice): survivors stream straight
        // to the consumer instead of accumulating in a task-local buffer,
        // so a group's heap holds its member arrays and ONE candidate at
        // a time — never the O(m²) survivor set.
        new scala.collection.AbstractIterator[(Long, Long, Double)] {
          private var i = 0
          private var j = 1
          private var nextPair: (Long, Long, Double) = _
          private var done = m < 2
          private def advance(): Unit = {
            nextPair = null
            while (nextPair == null && !done) {
              val ri = rows(i); val rj = rows(j)
              if (!cross || ri._4 != rj._4) {
                // orient by doc_id: the join form's d1 < d2
                val (a, b) = if (ri._1 < rj._1) (ri, rj) else (rj, ri)
                val n1 = a._3; val n2 = b._3
                // same IEEE comparison as the join form's length filter
                // (long widened to double, multiply by the double literal)
                if (n1 * t <= n2 && n2 * t <= n1) {
                  val sa = a._2; val sb = b._2
                  var x = 0; var y = 0; var c = 0L
                  while (x < sa.length && y < sb.length) {
                    val xv = sa(x); val yv = sb(y)
                    if (xv < yv) x += 1
                    else if (xv > yv) y += 1
                    else { c += 1L; x += 1; y += 1 }
                  }
                  val jd = c.toDouble / (n1 + n2 - c).toDouble
                  if (jd >= t) {
                    val r = java.math.BigDecimal.valueOf(jd)
                      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
                    nextPair = (a._1, b._1, r)
                  }
                }
              }
              j += 1
              if (j >= m) { i += 1; j = i + 1; if (i >= m - 1) done = true }
            }
          }
          advance()
          def hasNext: Boolean = nextPair != null
          def next(): (Long, Long, Double) = {
            val r = nextPair; advance(); r
          }
        }
      }
      .toDF("d1", "d2", "jaccard")
      .distinct()
  }

  /** The verified n-gram Jaccard pair frame for a session's `documents`
    * table, computed once and shared by every consumer — BOTH dedup-family
    * chains ([[duplicateClusters]] via [[sharedClusters]], the
    * `dedup_ngram_jaccard` query itself) AND the corpus-assembly stage
    * flags (TextAnalysis.assemblyFlags's near-dup-loser gate). Before
    * sharing, the AllPairs pair-gen — the most expensive single stage in
    * the text families — ran twice per session (measured ~2 s each at
    * sf0.1); the memo is the production-DAG shape: the pair index is
    * built once per corpus load and fanned out. Deterministic (seeded
    * 64-bit hashes, integer counts), so a hit changes cost, never rows.
    */
  private[ops] def sharedJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"jaccard_pairs:$sfDir") {
      ngramJaccardPairs(Tables.documents(spark, sfDir)).localCheckpoint()
    }

  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    sharedJaccardPairs(spark, sfDir)

  /** `dedup_jaccard_grouped`: the prefix-grouped verify kernel FORCED at
    * gate scale, against the same oracle SQL as `dedup_ngram_jaccard` —
    * so the branch [[ngramJaccardPairs]]'s size dispatch serves above
    * [[jaccardGroupedN]] is itself oracle-checked, not only
    * spec-equal to the join form (the degree-schedule lesson from round
    * 12: never ship a dispatch whose operative regime no oracle ever
    * faces).
    */
  def dedupJaccardGrouped(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = jaccardSets(Tables.documents(spark, sfDir))
    jaccardVerifyGrouped(sets, jaccardPrefix(sets), JACCARD_GROUP_SPLIT)
  }

  val dedupNgramJaccardSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.d1, i.d2,
       |       round(CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE), 6) AS jaccard
       |FROM inter i
       |JOIN sz s1 ON i.d1 = s1.doc_id
       |JOIN sz s2 ON i.d2 = s2.doc_id
       |WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= $JACCARD_THRESHOLD""".stripMargin

  /** LSH retrieval quality, MEASURED: precision and recall of the MinHash
    * band-bucket candidate set against the exact-Jaccard truth pairs —
    * the dedup twin of the ANN recall queries. A banded-LSH deployment is
    * a (bands × rows) operating point on a precision/recall curve; this
    * query turns that claim into one checkable row instead of a shape
    * argument. Truth = exact verified pairs at [[JACCARD_THRESHOLD]] over
    * the exact-dedup representative set (the same view the candidate
    * generator runs on); candidates = pairs agreeing on ≥1 band. Both
    * sides are bucket/prefix-bounded plans — nothing here is quadratic.
    */
  def lshQuality(docs: DataFrame): DataFrame = {
    // truth (AllPairs over the keep set) and candidates (band buckets)
    // are independent pinned builds — overlap them (guide §2.6)
    val r = Overlap.all(Seq(
      () => ngramJaccardPairs(exactReps(docs))
        .select(col("d1"), col("d2")).localCheckpoint(),
      () => minhashPairs(docs)
        .select(col("d1"), col("d2")).localCheckpoint()), Overlap.DEFAULT_CAP)
    val (truth, cand) = (r(0), r(1))
    val nCand = cand.agg(count(lit(1)).cast("long").as("n_candidates"))
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val nHit = cand.join(truth, Seq("d1", "d2"), "left_semi")
      .agg(count(lit(1)).cast("long").as("n_hits"))
    // three 1-row aggregates — the singleton cross join is broadcast-sized
    nCand.crossJoin(nTruth).crossJoin(nHit)
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") /
          nullif(col("n_candidates"), lit(0L)).cast("double"), 6).as("precision_lsh"),
        round(col("n_hits").cast("double") /
          nullif(col("n_truth"), lit(0L)).cast("double"), 6).as("recall_lsh"))
  }

  def dedupLshQuality(spark: SparkSession, sfDir: String): DataFrame =
    lshQuality(Tables.documents(spark, sfDir))

  /** Exact-Jaccard truth CTEs over the keep set: `shk` (keep-filtered
    * shingles), `szs`, `inter`, `truth` (pairs ≥ threshold).
    */
  private val TRUTH_CTES: String =
    s"""shk AS (SELECT * FROM sh WHERE doc_id IN (SELECT doc_id FROM keep)),
       |szs AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM shk x JOIN shk y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN szs s1 ON i.d1 = s1.doc_id JOIN szs s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= $JACCARD_THRESHOLD)"""
      .stripMargin

  val dedupLshQualitySql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |$KEEP_CTE,
       |${minhashBucketCtes("\n  WHERE doc_id IN (SELECT doc_id FROM keep)")},
       |cand AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2
       |  FROM buckets x
       |  JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |               AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |$TRUTH_CTES,
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |nh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM cand c JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2)
       |SELECT n_candidates, n_truth, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / CAST(nullif(n_candidates, 0) AS DOUBLE), 6)
       |         AS precision_lsh,
       |       round(CAST(n_hits AS DOUBLE) / CAST(nullif(n_truth, 0) AS DOUBLE), 6)
       |         AS recall_lsh
       |FROM nc, nt, nh""".stripMargin

  /** MinHash ESTIMATION accuracy, measured per candidate pair: the
    * sketch's Jaccard estimate (agreeing signature positions /
    * [[NUM_HASHES]]) against the exact verified Jaccard, with the
    * absolute error — how good the 12-permutation sketch actually is,
    * not just whether its buckets retrieve. The verification join is
    * bounded by the candidate set (already bucket-bounded); signature
    * agreement is an array-side zip over the two 12-long signatures.
    */
  def minhashEstimates(docs: DataFrame): DataFrame = {
    val payload = exactReps(docs)
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        TextFunctions.minhashSig(col("toks"), NUM_HASHES).as("sig"),
        TextFunctions.shingleHashes(col("toks")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
      .localCheckpoint() // both pair sides read it
    val s1 = payload.select(col("doc_id").as("d1"), col("sig").as("sig1"),
      col("shs").as("shs1"), col("n").as("n1"))
    val s2 = payload.select(col("doc_id").as("d2"), col("sig").as("sig2"),
      col("shs").as("shs2"), col("n").as("n2"))
    val est = round(col("n_agree").cast("double") / NUM_HASHES, 6)
    val exact = round(col("c").cast("double") /
      (col("n1") + col("n2") - col("c")).cast("double"), 6)
    minhashPairs(docs)
      .join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("n_agree",
        expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))").cast("long"))
      .withColumn("c", ArrayFunctions.sortedIntersectCount(col("shs1"), col("shs2")))
      .select(col("d1"), col("d2"), col("n_bands"), col("n_agree"),
        est.as("est_jaccard"), exact.as("jaccard"),
        round(abs(est - exact), 6).as("abs_err"))
  }

  def dedupMinhashEst(spark: SparkSession, sfDir: String): DataFrame =
    minhashEstimates(Tables.documents(spark, sfDir))

  private val AGREE_SQL: String = (0 until NUM_HASHES)
    .map(h => s"(CASE WHEN a.mh$h = b.mh$h THEN 1 ELSE 0 END)")
    .mkString(" + ")

  val dedupMinhashEstSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |$KEEP_CTE,
       |${minhashBucketCtes("\n  WHERE doc_id IN (SELECT doc_id FROM keep)")},
       |cand AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_bands
       |  FROM buckets x
       |  JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |               AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |shk AS (SELECT * FROM sh WHERE doc_id IN (SELECT doc_id FROM keep)),
       |szs AS (SELECT doc_id, count(*) AS n FROM shk GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM shk x JOIN shk y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT cd.d1, cd.d2, cd.n_bands,
       |       CAST($AGREE_SQL AS BIGINT) AS n_agree,
       |       round(CAST($AGREE_SQL AS DOUBLE) / $NUM_HASHES, 6) AS est_jaccard,
       |       round(CAST(coalesce(i.c, 0) AS DOUBLE)
       |             / CAST(s1.n + s2.n - coalesce(i.c, 0) AS DOUBLE), 6) AS jaccard,
       |       round(abs(round(CAST($AGREE_SQL AS DOUBLE) / $NUM_HASHES, 6)
       |                 - round(CAST(coalesce(i.c, 0) AS DOUBLE)
       |                         / CAST(s1.n + s2.n - coalesce(i.c, 0) AS DOUBLE), 6)), 6)
       |         AS abs_err
       |FROM cand cd
       |JOIN sig a ON cd.d1 = a.doc_id
       |JOIN sig b ON cd.d2 = b.doc_id
       |JOIN szs s1 ON cd.d1 = s1.doc_id
       |JOIN szs s2 ON cd.d2 = s2.doc_id
       |LEFT JOIN inter i ON cd.d1 = i.d1 AND cd.d2 = i.d2""".stripMargin

  /** Hyperplane-LSH geometry for embedding near-dup. Each of
    * [[HYP_TABLES]] hash tables assigns a vector a [[HYP_BITS]]-bit bucket:
    * bit i is the sign of the projection onto a fixed Rademacher (±1
    * component) hyperplane. Sign-random-projection preserves angles in
    * expectation (Charikar '02); ±1 components make each projection a pure
    * left-associated add/subtract chain over `CAST(embedding[j] AS
    * DOUBLE)` — the SAME textual expression runs in Spark and DuckDB, so
    * bucket assignment is bit-identical across engines (no float-reorder
    * hazard; there is no sum() in the bucket path at all). Bits-per-table
    * tunes bucket occupancy (≈ N / 2^bits per table): the fixture uses
    * 2×4 so every vector has bucket-mates at sf0.01; a 100 TB corpus
    * raises bits to log2(N / target_bucket) and adds tables for recall.
    */
  val HYP_TABLES = 3
  val HYP_BITS = 6
  val EMB_DIM = 64

  /** Deterministic ±1 sign for hyperplane component (t, i, j) — a
    * splitmix-style integer mix, reproduced identically in the Spark and
    * DuckDB expression builders below (the constants are baked into both
    * generated strings, so no RNG needs to exist in either engine).
    */
  private def hypSign(t: Int, i: Int, j: Int, stride: Int): Int = {
    var x = ((t.toLong * stride + i) * EMB_DIM + j) * 6364136223846793005L +
      1442695040888963407L
    x ^= (x >>> 33); x *= -49064778989728563L; x ^= (x >>> 29)
    if (((x >>> 17) & 1L) == 1L) 1 else -1
  }

  /** Occupancy-targeted LSH bit-width: enough bits that expected bucket
    * occupancy stays ≈ [[HYP_TARGET_OCC]] as the corpus grows. The FIXED
    * [[HYP_BITS]] geometry is quadratic in N — 2^bits buckets hold
    * N/2^bits vectors each, so the per-bucket pair space is N²/2^bits —
    * and the 30× triangle rehearsal measured exactly that
    * (simsearch_knn_graph 45.5 s at 30×, exponent ≈ 2/decade). Scaling
    * bits with log₂(N/occ) pins occupancy, making the candidate space
    * N·occ — linear. At every GATED corpus (≤ 4096 vectors) this returns
    * [[HYP_BITS]] = 6 exactly, so the static DuckDB oracles (which bake
    * the 6-bit hyperplane constants into SQL text) remain bit-identical
    * where they are ever evaluated; scaled-up rehearsal corpora take the
    * wider geometry on the Spark side only (bench has no oracle). Wider
    * tables draw their hyperplanes with stride = bits so no two tables
    * share a plane (the 6-bit stride would alias table t's bit 6+ onto
    * table t+1's low bits).
    */
  val HYP_TARGET_OCC = 64L

  private[graft] def hypBitsFor(n: Long): Int =
    math.max(HYP_BITS,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, (n + HYP_TARGET_OCC - 1) / HYP_TARGET_OCC - 1)))

  /** DuckDB SQL text of the t-th table's bucket id over an `embedding`
    * column (1-based array indexing): each projection is a left-associated
    * add/subtract chain seeded with 0.0.
    */
  private[ops] def bucketExprSql(t: Int): String =
    (0 until HYP_BITS).map { i =>
      val proj = (0 until EMB_DIM).map { j =>
        val op = if (hypSign(t, i, j, HYP_BITS) > 0) "+" else "-"
        s"$op CAST(embedding[${j + 1}] AS DOUBLE)"
      }.mkString("CAST(0 AS DOUBLE) ", " ", "")
      s"(CASE WHEN ($proj) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Spark Column for the same bucket id at an explicit bit-width (see
    * [[hypBitsFor]]), via `vec_dot` against the constant ±1 hyperplane
    * (folded to a literal float array): the fused codegen loop replaces
    * an 18×dim-term inlined expression, which blows past codegen limits
    * and falls back to interpretation (~20× slower, measured). At `bits`
    * = [[HYP_BITS]] it is bit-identical to [[bucketExprSql]]: multiplying
    * by ±1.0f is exact and vec_dot folds left from 0.0 in double, exactly
    * like the SQL chain.
    */
  private[ops] def bucketColBits(t: Int, dim: Int, bits: Int): Column =
    (0 until bits).map { i =>
      val plane = Array.tabulate(dim)(j => hypSign(t, i, j, bits).toFloat)
      when(VectorFunctions.vecDot(col("embedding"), typedLit(plane)) > 0, lit(1 << i))
        .otherwise(lit(0))
    }.reduce(_ + _)

  /** The knn candidate stage as a BUCKET-GROUPED KERNEL — the rung-2
    * cogroup lesson applied to the hyperplane tables: instead of the
    * bucket self-JOIN (occ² UnsafeRow join outputs, each copying two
    * 64-float arrays through the row machinery before the dot — measured
    * 155 s of the 191 s construction at the 300× rehearsal), each
    * (table, bucket) group computes its all-pairs cosines over primitive
    * float arrays in one task and emits compact (vec_id, nn_id, cosine)
    * triples. BIT-IDENTICAL to the join form: the dot is the same
    * ascending left-fold in double as [[graft.functions.FloatVecDot]]
    * (per-element products commute exactly in IEEE, so one dot serves
    * both pair orientations), the norm product commutes, and the rounding
    * is Spark's own Round rule (BigDecimal HALF_UP at scale 6) — the
    * spec asserts frame equality against the join form and the gated
    * oracles stay exact-hash green. Ladder-(d) is justified here the
    * same way as [[mihPairsRung2]]: a measured multiple on the dominant
    * stage at rehearsal scale, with output equality spec-asserted.
    *
    * Each group keeps only its per-vector top-`kCut` under the global
    * strict order (cosine desc, nn_id asc): any pair in a vector's GLOBAL
    * top-k ranks ≤ k inside every bucket containing it (a bucket's
    * candidate set is a subset of the union), so the union of per-bucket
    * cuts is a complete superset — emission drops from occ² to occ·k rows.
    */
  private[graft] def knnCandGrouped(base: DataFrame, bits: Int,
      dim: Int, kCut: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    // bucket assignment in TYPED primitive loops instead of the per-bit
    // `vec_dot` expression chain — the 300× rehearsal measured the
    // expression form at 76.7 s of the 190 s construction (the explode
    // generator evaluates its 3·bits vec_dot calls INTERPRETED, outside
    // whole-stage codegen; the same dots as primitive loops cost ~2 s).
    // Bit-identical to [[bucketColBits]]: the hyperplanes are the same
    // [[hypSign]] ±1 floats, the fold is the same ascending
    // double-accumulate, and a product with ±1.0f is exact.
    val planes: Array[Array[Array[Float]]] =
      Array.tabulate(HYP_TABLES, bits, dim)((t, i, j) => hypSign(t, i, j, bits).toFloat)
    base.select(col("vec_id"), col("embedding"), col("nm"))
      .as[(Long, Array[Float], Double)]
      .flatMap { case (id, emb, nm) =>
        (0 until HYP_TABLES).iterator.map { t =>
          var bucket = 0L
          var i = 0
          while (i < bits) {
            val p = planes(t)(i)
            var acc = 0.0
            var d = 0
            val n = math.min(emb.length, p.length)
            while (d < n) { acc += emb(d).toDouble * p(d).toDouble; d += 1 }
            if (acc > 0) bucket |= (1L << i)
            i += 1
          }
          (t.toLong * (1L << 32) + bucket, id, emb, nm)
        }
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray
        val m = rows.length
        // one dot per unordered pair — per-element products commute
        // exactly in IEEE, so it serves both orientations bit-identically
        @inline def cosOf(i: Int, j: Int): Double = {
          val ea = rows(i)._3; val eb = rows(j)._3
          val na = rows(i)._4; val nb = rows(j)._4
          var acc = 0.0
          var d = 0
          val n = math.min(ea.length, eb.length)
          while (d < n) { acc += ea(d).toDouble * eb(d).toDouble; d += 1 }
          java.math.BigDecimal.valueOf(acc / (na * nb))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        }
        val k = kCut
        val topCos = Array.ofDim[Double](m, k)
        val topNn = Array.ofDim[Long](m, k)
        val topLen = new Array[Int](m)
        @inline def offer(r: Int, c: Double, nn: Long): Unit = {
          val len = topLen(r)
          var pos = len
          val tc = topCos(r); val tn = topNn(r)
          while (pos > 0 && (tc(pos - 1) < c ||
              (tc(pos - 1) == c && tn(pos - 1) > nn))) pos -= 1
          if (pos < k) {
            var q = math.min(len, k - 1)
            while (q > pos) { tc(q) = tc(q - 1); tn(q) = tn(q - 1); q -= 1 }
            tc(pos) = c; tn(pos) = nn
            if (len < k) topLen(r) = len + 1
          }
        }
        var i = 0
        while (i < m - 1) {
          var j = i + 1
          while (j < m) {
            val c = cosOf(i, j)
            offer(i, c, rows(j)._2)
            offer(j, c, rows(i)._2)
            j += 1
          }
          i += 1
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)](m * k)
        var r = 0
        while (r < m) {
          var x = 0
          while (x < topLen(r)) {
            out += ((rows(r)._2, topNn(r)(x), topCos(r)(x)))
            x += 1
          }
          r += 1
        }
        out.iterator
      }
      .toDF("vec_id", "nn_id", "cosine")
  }

  /** Rung-2 MIH pair search — hamming-≤maxH pairs at the 2-block
    * geometry (bandBits = bits/2, probe radius ⌊maxH/2⌋) WITHOUT
    * materializing the Σᵢ≤ᵣ C(bandBits, i) probe explode that makes the
    * naive rung 2 infeasible (3,683 rows per doc·band at 28 bits,
    * radius 3). The trick is PARTITION-GROUPED QUERY EXPANSION:
    *
    *  - the band-value space is hash-partitioned into `parts` buckets;
    *  - a probe emits one row per DISTINCT partition its neighbor set
    *    touches — ≤ min(parts, expansion) rows per doc·band (the only
    *    shuffled fan-out), never one row per neighbor;
    *  - inside each (band_no, partition) cogroup, the index rows build
    *    a local value → entries hash map (N/parts entries — bounded by
    *    the partition, never the corpus) and each probe enumerates its
    *    full neighbor set against it, keeping only values this
    *    partition owns.
    *
    * Exactness is the same pigeonhole as [[mihGeometry]]'s rung 1: a
    * pair within hamming maxH over 2 blocks has some block within
    * ⌊maxH/2⌋, both orientations are probed, and the in-bucket exact
    * hamming filter leaves the rung-0 pair set BIT-IDENTICAL
    * (spec-asserted). This is the ladder's next rung for corpora past
    * rung 1's N²/2^(bits/4) candidate knee (≈1–2 M docs for the 56-bit
    * SimHash — see SCALING.md); the cogroup is the one operator the
    * DataFrame API cannot express without the explode, which is exactly
    * when `KeyValueGroupedDataset` is the right tool.
    */
  /** Bits of the band value that form the partition id — low 6 → 64
    * value-space partitions per band. Structured (bit-select, not
    * hashed) so a probe's neighbor set SPLITS across partitions
    * losslessly: flips spent on the partition bits move the probe to a
    * sibling partition, flips spent on the high bits are enumerable
    * INSIDE it, and the total enumeration over touched partitions is
    * exactly the ball size — no per-partition re-enumeration. The cost
    * is data-dependent partition balance (simhash bits are biased);
    * acceptable for a probe stage whose per-partition state is a
    * value→entries map, and the dial is this constant.
    */
  private val MIH_PART_BITS = 6

  private[graft] def mihPairsRung2(sigs: DataFrame, id: String, sig: String,
      bits: Int, maxH: Int, out: (String, String)): DataFrame = {
    val blocks = 2
    val bandBits = bits / blocks
    val radius = maxH / blocks
    require(blocks * (radius + 1) >= maxH + 1,
      s"pigeonhole violated: $blocks blocks at radius $radius miss hamming-$maxH pairs")
    require(radius <= 3, s"ball enumeration built for radius <= 3, got $radius")
    val spark = sigs.sparkSession
    import spark.implicits._
    val pBits = MIH_PART_BITS
    val hiBits = bandBits - pBits
    val pMask = (1L << pBits) - 1
    val mask = (1L << bandBits) - 1
    val sigDs = sigs.select(col(id).cast("long"), col(sig).cast("long"))
      .as[(Long, Long)]
    val bands = sigDs.flatMap { case (i, s) =>
      (0 until blocks).map(b => (b, (s >>> (b * bandBits)) & mask, i, s))
    }
    val idxK = bands.groupByKey { case (b, v, _, _) => (b, (v & pMask).toInt) }
    // a probe touches every partition within `radius` flips of its own
    // low bits — Σᵢ≤ᵣ C(pBits, i) rows (42 at 6 bits, radius 3)
    val probeK = bands.flatMap { case (b, v, i, s) =>
      MihExpansion.ball(v & pMask, pBits, radius)
        .map(p => (b, p.toInt, v, i, s))
    }.groupByKey { case (b, p, _, _, _) => (b, p) }
    val cands = idxK.cogroup(probeK) { case ((_, part), idxIt, probeIt) =>
      val local = new java.util.HashMap[java.lang.Long,
        java.util.ArrayList[(Long, Long)]]()
      idxIt.foreach { case (_, v, i, s) =>
        local.computeIfAbsent(v, _ => new java.util.ArrayList[(Long, Long)]())
          .add((i, s))
      }
      if (local.isEmpty) Iterator.empty
      else probeIt.flatMap { case (_, _, v, i, s) =>
        // flips already spent reaching this partition's low-bit pattern
        val dt = java.lang.Long.bitCount((v & pMask) ^ part)
        MihExpansion.ball(v >>> pBits, hiBits, radius - dt).iterator
          .flatMap { hi =>
            val hits = local.get((hi << pBits) | part)
            if (hits == null) Iterator.empty
            else {
              val b = Iterator.newBuilder[(Long, Long, Long, Long)]
              hits.forEach { case (j, t) => if (i < j) b += ((i, j, s, t)) }
              b.result()
            }
          }
      }
    }.toDF("_d1", "_d2", "h1", "h2")
    cands
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxH)
      .select(col("_d1").as(out._1), col("_d2").as(out._2),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }

  /** Asymmetric set-containment threshold: containment(A in B) =
    * |A∩B| / |A| — how much of A's shingle set lives inside B's.
    */
  val CONTAINMENT_THRESHOLD = 0.8

  /** Set-containment join: ordered pairs with containment(A in B) ≥
    * [[CONTAINMENT_THRESHOLD]] — catches a short document whose content
    * sits INSIDE a longer one, which symmetric Jaccard misses by design
    * (its length filter prunes size-mismatched pairs, and the union in
    * the denominator dilutes the score). Candidate generation is exact:
    * overlap ≥ ⌈t·|A|⌉ forces A's rarest-first prefix (length
    * |A| − ⌈t·|A|⌉ + 1, same global (df, h) order as the Jaccard join)
    * to intersect B, so probing the FULL inverted index of the container
    * side with only prefix rows of the contained side misses nothing.
    * The container index shuffle is linear in corpus shingles; pair
    * fan-out tracks the document frequency of PREFIX (rare-leaning)
    * shingles. Verification is the codegen'd sorted-merge intersect.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    // measured: spreading the input before this kernel is a net LOSS at
    // fixture scale (the single-pass hash kernel is cheaper than the
    // exchange it would take to parallelize it) — unlike the DSIR fit,
    // whose token explode is the expensive half of its pass
    val sets = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
      .localCheckpoint()
    val sh = sets.select(col("doc_id"), col("n"), explode(col("shs")).as("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ranked"))
      .select(col("doc_id"), explode(expr(
        s"""slice(ranked, 1,
           |  CAST(size(ranked) - ceil($CONTAINMENT_THRESHOLD * size(ranked)) + 1 AS INT))"""
          .stripMargin)).as("r"))
      .select(col("doc_id"), col("r.h").as("h"))
    val pa = prefix.select(col("h"), col("doc_id").as("d1"))
    val full = sh.select(col("h"), col("doc_id").as("d2"))
    val cands = pa.join(full, Seq("h"))
      .filter(col("d1") =!= col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val s1 = sets.select(col("doc_id").as("d1"), col("shs").as("shs1"), col("n").as("n1"))
    val s2 = sets.select(col("doc_id").as("d2"), col("shs").as("shs2"))
    val cont = col("c").cast("double") / col("n1").cast("double")
    cands.join(s1, Seq("d1")).join(s2, Seq("d2"))
      .withColumn("c", ArrayFunctions.sortedIntersectCount(col("shs1"), col("shs2")))
      .filter(cont >= CONTAINMENT_THRESHOLD)
      .select(col("d1"), col("d2"), round(cont, 6).as("containment"))
  }

  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(Tables.documents(spark, sfDir))

  val dedupContainmentSql: String =
    s"""WITH ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.d1, i.d2,
       |       round(CAST(i.c AS DOUBLE) / CAST(s1.n AS DOUBLE), 6) AS containment
       |FROM inter i JOIN sz s1 ON i.d1 = s1.doc_id
       |WHERE CAST(i.c AS DOUBLE) / CAST(s1.n AS DOUBLE) >= $CONTAINMENT_THRESHOLD""".stripMargin

  /** Shared-long-span detection — substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"), in the
    * span-hash form: two documents are span-duplicates when they share a
    * contiguous run of [[SPAN_WORDS]] words. Every position's span is
    * hashed (rolling w-gram), the inverted index on the span hash yields
    * candidate pairs, and the pair count = number of shared span
    * positions. Span-hash frequency bounds the fan-out exactly like the
    * shingle index; a true suffix-array dedup replaces this at the point
    * where spans must be maximal rather than fixed-width.
    */
  val SPAN_WORDS = 10

  /** Document-frequency cap on span hashes: a span shared by MORE than
    * this many documents is dropped before pairing. A boilerplate span
    * (license header, disclaimer) shared by K documents would put K rows
    * in one inverted-index bucket → K²/2 pairs plus a hot-key shuffle
    * skew — and carries no dedup signal anyway (it flags boilerplate, not
    * copied documents). Same discipline as the Jaccard prefix filter:
    * fan-out tracks discriminative spans, never raw corpus size. The
    * oracle mirrors the cap, so the result stays exact at any SF.
    */
  val SPAN_DF_CAP = 16

  /** Per-document distinct span hashes (doc_id, h) — one xxhash64 per
    * rolling [[SPAN_WORDS]]-word window. The hash never reaches the output
    * (pairs + counts only), so the engines need not agree on hash VALUES —
    * only on span equality. xxhash64 here; the oracle hashes the same
    * spans with md5.
    */
  private def spanHashes(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
    .filter(size(col("toks")) >= SPAN_WORDS)
    // per-doc distinctness is array-side (array_distinct before the
    // explode) — a post-explode .distinct() would shuffle the entire span
    // stream on (doc_id, h) first
    .select(col("doc_id"), explode(expr(
      s"""array_distinct(transform(sequence(1, size(toks) - ${SPAN_WORDS - 1}),
         |  i -> xxhash64(concat_ws(' ', slice(toks, i, $SPAN_WORDS)))))"""
        .stripMargin)).as("h"))

  /** Disk-pinned materialization for the span-index intermediates — the
    * suite's LARGEST operator-owned frames (one row per token position).
    * These used plain `localCheckpoint()` (heap-first MEMORY_AND_DISK
    * blocks), and the round-10 30× rehearsal isolated exactly that as the
    * box's scaling ceiling: exponents steepened to 0.80–0.89/decade with
    * ±30–40% run variance — the GC signature of multi-GB heap-pinned
    * blocks churning a fixed 128 GiB JVM (SCALING.md round 10; flat
    * controls ruled out harness, saturation, and partition-count).
    * DISK_ONLY keeps the multi-consumer reuse (the index feeds the DF
    * cap AND both pair sides) while the blocks live on local disk —
    * serialized, compact, zero heap residency.
    *
    * `localCheckpoint(eager, DISK_ONLY)` — NOT `persist(DISK_ONLY)`:
    * `Dataset.persist` registers the plan in the session CacheManager,
    * which then rewrites every later PLAN-IDENTICAL query to read the
    * cached blocks — so Bench's second timed iteration (which rebuilds
    * identical plans) would report warm-cache times for the whole
    * span-index family, and the blocks would accumulate for the session
    * (the ContextCleaner never reclaims CacheManager entries; round-11
    * advice). A local checkpoint stays OUT of the CacheManager — plan
    * matching can't see it — and its RDD blocks are reclaimed by the
    * ContextCleaner as soon as the owning DataFrame is GC'd, same
    * lifecycle as every other operator-owned pin in the repo. Cost
    * attribution is unchanged: the eager checkpoint runs the same
    * materialization job the count() ran. Tradeoff: checkpoint truncates
    * lineage, so a lost executor loses the block instead of recomputing —
    * irrelevant on local[32] (one JVM) and the standard HA answer at
    * cluster scale is reliable checkpointing, not lineage replay over a
    * token-position-sized frame.
    */
  private def pinSpanIndex(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Span hashes surviving the [[SPAN_DF_CAP]] document-frequency cap —
    * one extra hash aggregation on the span hash, the key the index join
    * shuffles on anyway.
    */
  private def cappedSpanHashes(docs: DataFrame): DataFrame = {
    // the span stream feeds both the DF count and the index join, and the
    // capped index feeds both sides of the pair self-join — without
    // operator-owned storage each consumer re-runs the explode upstream
    val spans = pinSpanIndex(spanHashes(docs))
    val rare = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= SPAN_DF_CAP)
      .select(col("h"))
    pinSpanIndex(spans.join(rare, Seq("h")))
  }

  def substringSpanPairs(docs: DataFrame): DataFrame = {
    val spans = cappedSpanHashes(docs)
    val a = spans.select(col("h"), col("doc_id").as("d1"))
    val b = spans.select(col("h"), col("doc_id").as("d2"))
    a.join(b, Seq("h"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).cast("long").as("n_shared_spans"))
  }

  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame =
    substringSpanPairs(Tables.documents(spark, sfDir))

  /** DuckDB CTE text for the capped span index (spans → rare → kept). */
  private val SPAN_CTES: String =
    s"""spans AS (
       |  SELECT DISTINCT doc_id,
       |         md5(array_to_string(list_slice(toks, i, i + ${SPAN_WORDS - 1}), ' ')) AS h
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${SPAN_WORDS - 1})) AS i
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= $SPAN_WORDS)),
       |rare AS (
       |  SELECT h FROM (SELECT h, count(*) AS df FROM spans GROUP BY 1)
       |  WHERE df <= $SPAN_DF_CAP),
       |kept AS (
       |  SELECT s.doc_id, s.h FROM spans s JOIN rare r ON s.h = r.h)""".stripMargin

  val dedupSubstringSql: String =
    s"""WITH $SPAN_CTES
       |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared_spans
       |FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** MAXIMAL shared-span length per candidate pair — the fixed-width span
    * index upgraded toward Lee et al.'s suffix-array dedup: a shared run
    * of L consecutive span positions (same diagonal i−j) means the
    * documents share a contiguous passage of L + [[SPAN_WORDS]] − 1 words,
    * so the output reports the longest shared passage, not just the count
    * of overlapping windows. Shape: positioned span index (one row per
    * position, DF-capped like [[substringSpanPairs]]) → equi-join on the
    * span hash → per-(pair, diagonal) consecutive-run detection via the
    * i − row_number() trick (one bounded window over matched positions) →
    * max over diagonals. Every stage is an equi-join or a hash agg; the
    * window partitions on (pair, diagonal), whose size the DF cap bounds.
    */
  def substringMaximalSpans(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SPAN_WORDS)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${SPAN_WORDS - 1}),
           |  i -> xxhash64(concat_ws(' ', slice(toks, i, $SPAN_WORDS))))"""
          .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
    val pinned = pinSpanIndex(pos) // fans into the DF count and the index join
    val rare = pinned.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= SPAN_DF_CAP).select(col("h"))
    // both sides of the position self-join scan this frame
    val kept = pinSpanIndex(pinned.join(rare, Seq("h")))
    val a = kept.select(col("h"), col("doc_id").as("d1"), col("i"))
    val b = kept.select(col("h"), col("doc_id").as("d2"), col("i").as("j"))
    // for a fixed diagonal each left position matches at most one right
    // position, so (d1, d2, diag, i) rows are unique — no dedup needed
    val m = a.join(b, Seq("h")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("i"), (col("i") - col("j")).as("diag"))
    val w = Window.partitionBy(col("d1"), col("d2"), col("diag")).orderBy(col("i"))
    m.withColumn("grp", col("i") - row_number().over(w))
      .groupBy(col("d1"), col("d2"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("d1"), col("d2"))
      .agg((max(col("run")) + lit(SPAN_WORDS - 1)).cast("long").as("max_span_words"),
        count(lit(1)).cast("long").as("n_runs"))
  }

  def dedupSubstringMaximal(spark: SparkSession, sfDir: String): DataFrame =
    substringMaximalSpans(Tables.documents(spark, sfDir))

  val dedupSubstringMaximalSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, i,
       |         md5(array_to_string(list_slice(toks, i, i + ${SPAN_WORDS - 1}), ' ')) AS h
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${SPAN_WORDS - 1})) AS i
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= $SPAN_WORDS)),
       |rare AS (
       |  SELECT h FROM (SELECT h, count(*) AS df FROM pos GROUP BY 1)
       |  WHERE df <= $SPAN_DF_CAP),
       |kept AS (SELECT p.doc_id, p.i, p.h FROM pos p JOIN rare r ON p.h = r.h),
       |m AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, a.i AS i, a.i - b.i AS diag
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT d1, d2, diag,
       |         i - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY i) AS grp
       |  FROM m),
       |runlen AS (
       |  SELECT d1, d2, diag, grp, count(*) AS run FROM runs GROUP BY 1, 2, 3, 4)
       |SELECT d1, d2, CAST(max(run) + ${SPAN_WORDS - 1} AS BIGINT) AS max_span_words,
       |       CAST(count(*) AS BIGINT) AS n_runs
       |FROM runlen GROUP BY 1, 2""".stripMargin

  /** Cross-document passage CANONICALIZATION scrub — the act half of the
    * substring family ([[substringSpanPairs]] detects, this removes):
    * every [[SPAN_WORDS]]-token span is kept only in its canonical holder
    * (the MINIMUM doc_id containing that span anywhere in the corpus) and
    * redacted from every other document — the span-hash rendering of Lee
    * et al.'s cross-document substring dedup, where a shared passage
    * survives exactly once corpus-wide. Boilerplate (license headers,
    * disclaimers) collapses to its first carrier. Intra-document repeats
    * inside the canonical holder are deliberately untouched — that is
    * [[graft.ops.TextAnalysis.repetitionScrub]]'s job.
    *
    * Scale shape — NO pair space exists: the canonical holder is one
    * hash aggregation min(doc_id) keyed by span hash (map-side combined;
    * the inverted-index shuffle the detection queries pay anyway), and
    * unlike the detection side it needs NO document-frequency cap,
    * because a span in K documents contributes K index rows, never K²
    * pairs — the hotter the boilerplate, the more valuable the scrub.
    * Redacted positions (bounded by true duplication) fan back per doc
    * and the redaction is the same codegen'd array projection as the
    * other scrubs. Span hashes never reach the output, so the engines
    * need not agree on hash values, only span equality (xxhash64 here,
    * md5 in the oracle).
    */
  def passageScrub(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SPAN_WORDS)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${SPAN_WORDS - 1}),
           |  i -> xxhash64(concat_ws(' ', slice(toks, i, $SPAN_WORDS))))"""
          .stripMargin)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("h"))
    val pinned = pinSpanIndex(pos) // fans into the keeper agg and the hit join
    val keeper = pinned.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val hits = pinned.join(keeper, Seq("h"))
      .filter(col("doc_id") > col("keeper"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("i"))).as("hits"))
    // no broadcast hint: duplicated-passage volume is data-dependent
    // (10% dup rate at 100 TB is far past any broadcast limit) — AQE
    // broadcasts the hit frame when small, shuffles on doc_id when not
    docs
      .join(hits, Seq("doc_id"), "left")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("hits", coalesce(col("hits"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("kept", expr(
        s"filter(sequence(1, size(toks)), j -> !exists(hits, i -> j >= i AND j <= i + ${SPAN_WORDS - 1}))"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("hits")).cast("long").as("n_dup_spans"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_redacted"),
        md5(expr("array_join(transform(kept, j -> element_at(toks, j)), ' ')"))
          .as("clean_fp"))
  }

  def dedupPassageScrub(spark: SparkSession, sfDir: String): DataFrame =
    passageScrub(Tables.documents(spark, sfDir))

  val dedupPassageScrubSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, i,
       |         md5(array_to_string(list_slice(toks, i, i + ${SPAN_WORDS - 1}), ' ')) AS h
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${SPAN_WORDS - 1})) AS i
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= $SPAN_WORDS)),
       |k AS (SELECT h, min(doc_id) AS keeper FROM p GROUP BY 1),
       |hits AS (
       |  SELECT p.doc_id, p.i FROM p JOIN k ON p.h = k.h WHERE p.doc_id > k.keeper),
       |cov AS (
       |  SELECT DISTINCT h.doc_id, h.i + v.d AS j
       |  FROM hits h, (SELECT unnest(range(0, $SPAN_WORDS)) AS d) v),
       |tk AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok,
       |         generate_subscripts(string_split_regex(text, '\\s+'), 1) AS i
       |  FROM documents),
       |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tk GROUP BY 1),
       |hc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans FROM hits GROUP BY 1),
       |keptt AS (
       |  SELECT t.doc_id, t.i, t.tok
       |  FROM tk t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.i = c.j
       |  WHERE c.doc_id IS NULL),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         md5(string_agg(tok, ' ' ORDER BY i)) AS clean_fp
       |  FROM keptt GROUP BY 1)
       |SELECT d.doc_id, n.n_tokens,
       |       coalesce(hc.n_dup_spans, 0) AS n_dup_spans,
       |       n.n_tokens - coalesce(a.n_kept, 0) AS n_redacted,
       |       coalesce(a.clean_fp, md5('')) AS clean_fp
       |FROM documents d
       |JOIN n ON d.doc_id = n.doc_id
       |LEFT JOIN hc ON d.doc_id = hc.doc_id
       |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Convergence cap for [[duplicateClusters]] — with path halving the
    * round count is O(log component-diameter), so 25 covers components of
    * astronomical diameter; the loop exits as soon as a round changes
    * nothing.
    */
  val MAX_CC_ROUNDS = 25

  /** Duplicate-cluster assignment: connected components over the near-dup
    * pair graph ([[ngramJaccardPairs]]), labeling every document with the
    * MINIMUM doc_id reachable through pairs — the keep/drop list a user
    * derives after any pair-generating dedup. Min-label propagation with
    * path halving: each round a node takes the min of its own label, its
    * neighbors' labels, and its label's label (pointer jumping), which
    * converges in O(log diameter) rounds instead of O(diameter). Every
    * round is two equi-joins + a hash agg over (node, label) rows, and
    * each round is localCheckpoint'ed so lineage stays flat (the k-means
    * lesson). Convergence detection is a single scalar `sum(rep)` over
    * the checkpointed round output: labels are MONOTONE non-increasing
    * under min-propagation (each new label is a min that includes the old
    * label), so the label sum strictly decreases iff any node changed —
    * an exact test with no per-round compare join. The result is the
    * unique per-component fixpoint, so the round count never shows in
    * the output; the oracle replays the same fixpoint as a recursive CTE.
    */
  /** Connected components over an arbitrary undirected pair list:
    * `nodes` carries one `id` column, `pairs` carries (d1, d2). Returns
    * (id, rep_id, cluster_size) with rep_id = the component's minimum id.
    * The engine-generic core of [[duplicateClusters]] and
    * [[embeddingClusters]].
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    // the union scans `pairs` twice, but its exchanges canonicalize
    // identically so ReusedExchange dedups the pair chain — measured
    // FASTER than an extra pre-union localCheckpoint barrier
    // Pre-partition the static edge list on the per-round join key: the
    // checkpointed LogicalRDD keeps hashpartitioning(d2), so every round's
    // offers join shuffles only the (much smaller) labels side — the edge
    // frame, the loop's big constant, moves exactly once at any scale.
    val edges = pairs.select(col("d1"), col("d2"))
      .unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .repartition(col("d2"))
      .localCheckpoint()
    // The loop iterates over EDGE ENDPOINTS only: a node with no pair can
    // never change its label, and in a real corpus the duplicate-pair
    // graph touches a small fraction of documents — carrying the other
    // 99% through every round would multiply each iteration's shuffle by
    // the corpus/graph ratio. Singletons rejoin as their own component
    // after the fixpoint.
    // Seed labels with min(self, direct neighbors) — the first
    // propagation round folded into one agg over the already-materialized
    // edge frame (no join needed: every edge endpoint offers its raw id),
    // which collapses all diameter-1 components before the loop starts.
    var labels = edges.select(col("d1").as("id"), col("d2").as("rep"))
      .unionByName(edges.select(col("d1").as("id"), col("d1").as("rep")))
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      .localCheckpoint()
    // decimal(38,0) keeps the sum exact for arbitrary 64-bit id spaces
    // (snowflake-style ids × billions of nodes overflow a long sum, and a
    // wrapped sum would break the monotone-decrease convergence test)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      // null on an empty label frame (no pairs at all) → zero, so the
      // loop exits on the first unchanged round instead of NPE-ing
      Option(df.agg(sum(col("rep").cast("decimal(38,0)"))).head.getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var round = 0
    var prevSum = labelSum(labels)
    var changed = true
    while (changed && round < MAX_CC_ROUNDS) {
      // neighbor min: every node offers its current label across each edge
      val offers = edges.join(labels.withColumnRenamed("id", "d2"), Seq("d2"))
        .select(col("d1").as("id"), col("rep"))
      val viaNeighbors = labels.unionByName(offers)
        .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      // path halving: jump to the representative's representative
      val repOf = labels.select(col("id").as("r_key"), col("rep").as("rep2"))
      // monotone-sum convergence metric rides the checkpoint job itself
      // (observe = accumulator collected while the round materializes) —
      // the separate per-round scalar-agg job this loop used to pay was
      // one of its two jobs per round at every scale
      val obs = new org.apache.spark.sql.Observation(s"cc_round_$round")
      val next = viaNeighbors
        .join(repOf, viaNeighbors("rep") === repOf("r_key"), "left")
        .select(col("id"),
          least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"))
        .observe(obs, sum(col("rep").cast("decimal(38,0)")).as("s"))
        .localCheckpoint()
      val nextSum = Option(obs.get("s").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      round += 1
    }
    // Singletons (nodes with no edge) have cluster_size 1 BY DEFINITION and
    // their rep set is disjoint from the labeled reps (a rep is always an
    // edge endpoint), so sizes derive from `labels` alone and singletons
    // union in with a literal — the old form unioned first and sized the
    // union, which planned the anti-join TWICE in every consumer (once
    // under sizes, once under the final join) and sized a larger frame.
    val singletons = nodes.select(col("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("rep_id"),
        lit(1L).as("cluster_size"))
    val sizes = labels.groupBy(col("rep"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    labels.join(sizes, Seq("rep"))
      .select(col("id"), col("rep").as("rep_id"), col("cluster_size"))
      .unionByName(singletons)
  }

  def duplicateClusters(docs: DataFrame): DataFrame =
    duplicateClusters(docs, ngramJaccardPairs(docs))

  def duplicateClusters(docs: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(
      docs.select(col("doc_id").as("id")),
      pairs.select(col("d1"), col("d2")))
      .select(col("id").as("doc_id"), col("rep_id"), col("cluster_size"))

  /** The cluster assignment for a session's `documents` table, computed
    * once and shared by [[dedupClusters]], [[dedupClusterBest]] and
    * [[dedupSourceStats]] — the Jaccard+CC chain is deterministic, so
    * the memoized checkpoint is exactly what each query's own run would
    * produce; three consumers previously re-ran it end to end.
    */
  private def sharedClusters(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"dup_clusters:$sfDir") {
      FitStore.frame(spark, "dup_clusters",
        FitStore.documentsFp(spark, sfDir, None)) {
        duplicateClusters(Tables.documents(spark, sfDir),
          sharedJaccardPairs(spark, sfDir))
      }.localCheckpoint()
    }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    sharedClusters(spark, sfDir)

  /** Quality-aware cluster canonicalization: after duplicate clusters
    * are assigned, keep the BEST-quality member of each cluster — what a
    * curation pipeline actually ships (the min-id representative is an
    * arbitrary survivor; the highest-quality one preserves the best
    * copy of boilerplate-mangled near-duplicates). The pick is a
    * partial-agg `min(struct(−score, doc_id))` over the cluster id —
    * map-side combinable, no window sort — with the score already
    * round-pinned by the quality projection, so both engines pick the
    * same member (max quality, then min doc_id).
    */
  def clusterBest(docs: DataFrame): DataFrame =
    clusterBest(docs, duplicateClusters(docs))

  def clusterBest(docs: DataFrame, clusters: DataFrame): DataFrame =
    clusters
      .join(TextAnalysis.quality(docs).select(col("doc_id"), col("quality_score")),
        Seq("doc_id"))
      .groupBy(col("rep_id"))
      .agg(
        min(struct((-col("quality_score")).as("ns"), col("doc_id").as("d"))).as("best"),
        max(col("cluster_size")).as("cluster_size"))
      .select(col("rep_id"), col("best.d").as("best_doc_id"),
        round(-col("best.ns"), 6).as("best_quality"), col("cluster_size"))

  def dedupClusterBest(spark: SparkSession, sfDir: String): DataFrame =
    clusterBest(Tables.documents(spark, sfDir), sharedClusters(spark, sfDir))

  /** The oracle states the fixpoint directly: transitive reachability over
    * the symmetric pair graph (recursive CTE, UNION set semantics
    * terminates it), min reachable id per document.
    */
  /** The recursive-CTE fixpoint chain ending in `rep(doc_id, rep_id)` —
    * the oracle core shared by every cluster-consuming query.
    */
  private[ops] val CLUSTER_REP_CTES: String =
    s"""${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN szs s1 ON i.d1 = s1.doc_id JOIN szs s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= $JACCARD_THRESHOLD),
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jp),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.r FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |rep AS (SELECT doc_id, min(r) AS rep_id FROM reach GROUP BY 1)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $CLUSTER_REP_CTES,
       |szc AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM rep GROUP BY 1)
       |SELECT r.doc_id, r.rep_id, s.cluster_size
       |FROM rep r JOIN szc s ON r.rep_id = s.rep_id""".stripMargin

  /** Per-document sorted shingle-hash sets (id, shs, n) — the exact-
    * verification payload shared by [[ngramJaccardPairs]] (inline) and
    * [[incrementalClusters]]. One zero-shuffle codegen projection.
    */
  private def shingleSets(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id").as("id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("id"), TextFunctions.shingleHashes(col("toks")).as("shs"))
      .withColumn("n", size(col("shs")).cast("long"))
  }

  /** Exact-Jaccard verification of a candidate pair frame against the two
    * sides' shingle sets: length-filter prune, codegen merge-intersect,
    * threshold. Pair space stays whatever bounded the candidates.
    */
  private def verifyJaccard(cands: DataFrame, aCol: String, bCol: String,
      aSets: DataFrame, bSets: DataFrame): DataFrame = {
    val s1 = aSets.select(col("id").as(aCol), col("shs").as("shs1"), col("n").as("n1"))
    val s2 = bSets.select(col("id").as(bCol), col("shs").as("shs2"), col("n").as("n2"))
    val jacc = col("c").cast("double") /
      (col("n1") + col("n2") - col("c")).cast("double")
    cands.join(s1, Seq(aCol)).join(s2, Seq(bCol))
      .filter(col("n1") * JACCARD_THRESHOLD <= col("n2") &&
        col("n2") * JACCARD_THRESHOLD <= col("n1"))
      .withColumn("c", ArrayFunctions.sortedIntersectCount(col("shs1"), col("shs2")))
      .filter(jacc >= JACCARD_THRESHOLD)
      .select(col(aCol), col(bCol))
  }

  /** Incremental duplicate-cluster MAINTENANCE — the composition the
    * other incremental operators ([[incrementalMinhashMatches]],
    * TextAnalysis.incrementalPack, Similarity.indexDrift) were missing:
    * assign an ARRIVING batch to the STANDING cluster assignment without
    * re-running connected components over the standing corpus. The
    * standing assignment is the frozen model (in production: the stored
    * cluster table + the persisted band index); the batch is probed
    * against it, exactly the nightly-crawl shape.
    *
    * Semantics (deterministic; the oracle replays them exactly):
    *   1. candidates = new-vs-standing MinHash band matches (the
    *      incremental probe geometry), then EXACT shingle-Jaccard
    *      verification at [[JACCARD_THRESHOLD]] — probe-then-verify, so
    *      a pair the bands miss is missed by BOTH engines (banding
    *      recall is measured separately by `dedup_lsh_quality`);
    *   2. a matched new doc joins the standing cluster of its MINIMUM
    *      matched rep_id; standing docs keep their rep unconditionally —
    *      a new doc that reaches two standing clusters does NOT merge
    *      them (the merge is deferred to the next full recompute; this
    *      is the documented divergence from batch CC, spec-pinned);
    *   3. standing cluster sizes grow by their join count — the counts
    *      are batch-bounded and BROADCAST back, so standing rows are
    *      never shuffled;
    *   4. unmatched new docs cluster among themselves (band candidates
    *      + exact verify, CC bounded by the batch).
    *
    * Scale shape: the standing corpus contributes one zero-shuffle
    * band projection (production: a persisted index probed by the
    * batch) and one zero-shuffle set projection consumed by the
    * verification join; CC iterations run only over the batch-sized
    * unmatched subgraph. Output: (doc_id, rep_id, cluster_size, origin
    * ∈ standing|joined|new) over the full corpus.
    */
  def incrementalClusters(newDocs: DataFrame, priorDocs: DataFrame,
      priorClusters: DataFrame, newSets: DataFrame, newBands: DataFrame,
      priorBands: DataFrame): DataFrame = {
    val priorSets = shingleSets(priorDocs)
    val cands = newBands
      .select(col("band_no"), col("bucket"), col("doc_id").as("new_id"))
      .join(priorBands
        .select(col("band_no"), col("bucket"), col("doc_id").as("prior_id")),
        Seq("band_no", "bucket"))
      .select(col("new_id"), col("prior_id")).distinct()
    val vnp = verifyJaccard(cands, "new_id", "prior_id", newSets, priorSets)
    val matched = vnp
      .join(priorClusters.select(col("doc_id").as("prior_id"), col("rep_id"),
        col("cluster_size").as("prior_size")), Seq("prior_id"))
      .groupBy(col("new_id"))
      .agg(min(struct(col("rep_id"), col("prior_size"))).as("m"))
      .select(col("new_id"), col("m.rep_id").as("rep_id"),
        col("m.prior_size").as("prior_size"))
      .localCheckpoint() // batch-bounded; read by joiners, output and the anti join
    val joiners = matched.groupBy(col("rep_id"))
      .agg(count(lit(1)).cast("long").as("n_joined"))
    val unmatched = newDocs.select(col("doc_id"))
      .join(matched.select(col("new_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val nnCands = newBands
      .select(col("band_no"), col("bucket"), col("doc_id").as("d1"))
      .join(newBands
        .select(col("band_no"), col("bucket"), col("doc_id").as("d2")),
        Seq("band_no", "bucket"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
      .join(unmatched.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(unmatched.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    val nnEdges = verifyJaccard(nnCands, "d1", "d2", newSets, newSets)
    val standingRows = priorClusters
      .join(broadcast(joiners), Seq("rep_id"), "left")
      .select(col("doc_id"), col("rep_id"),
        (col("cluster_size") + coalesce(col("n_joined"), lit(0L)))
          .cast("long").as("cluster_size"),
        lit("standing").as("origin"))
    val joinedRows = matched
      .join(joiners, Seq("rep_id"))
      .select(col("new_id").as("doc_id"), col("rep_id"),
        (col("prior_size") + col("n_joined")).cast("long").as("cluster_size"),
        lit("joined").as("origin"))
    val newRows = connectedComponents(
      unmatched.select(col("doc_id").as("id")), nnEdges)
      .select(col("id").as("doc_id"), col("rep_id"),
        col("cluster_size").cast("long").as("cluster_size"),
        lit("new").as("origin"))
    standingRows.unionByName(joinedRows).unionByName(newRows)
  }

  /** The standing (even-id) half's cluster assignment — the frozen model
    * [[dedupClustersIncremental]] maintains; memoized per session like
    * every other fitted artifact, and PERSISTED via [[FitStore]] when a
    * store is configured: the serving shape loads the standing assignment
    * (fitted once, per corpus) and pays only the probe-side cost — the
    * ~70% of this query's bench time that was standing-half refit.
    */
  private def sharedPriorClusters(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"dup_clusters_prior:$sfDir") {
      FitStore.frame(spark, "dup_clusters_prior",
        FitStore.documentsFp(spark, sfDir, half = Some(0))) {
        val prior = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)
        duplicateClusters(prior)
      }.localCheckpoint()
    }

  /** The arrival side [[incrementalClusters]] probes with: the arrivals'
    * pinned shingle sets and their band rows.
    */
  private[graft] def arrivalProbe(newDocs: DataFrame): (DataFrame, DataFrame) =
    (shingleSets(newDocs).localCheckpoint(), minhashBands(newDocs))

  def dedupClustersIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val priorDocs = docs.filter(col("doc_id") % 2 === 0)
    // the standing CC fit, the standing band projection and the batch-side
    // shingle/band pins are three independent chains of blocking jobs that
    // used to run strictly sequentially — overlap them so the probe prep
    // rides the standing fit's idle capacity (guide §2.6; bounded pool,
    // Overlap.scala)
    val (prior, priorBands, (newSets, newBands)) = Overlap.all3(
      sharedPriorClusters(spark, sfDir),
      minhashBands(priorDocs),
      arrivalProbe(newDocs))
    incrementalClusters(newDocs, priorDocs, prior, newSets, newBands, priorBands)
  }

  val dedupClustersIncrementalSql: String =
    s"""WITH RECURSIVE ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |${minhashBucketCtes("")},
       |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |jall AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN szs s1 ON i.d1 = s1.doc_id JOIN szs s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= $JACCARD_THRESHOLD),
       |jp AS (SELECT d1, d2 FROM jall WHERE d1 % 2 = 0 AND d2 % 2 = 0),
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jp),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM documents WHERE doc_id % 2 = 0
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.r FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |rep_p AS (SELECT doc_id, min(r) AS rep_id FROM reach GROUP BY 1),
       |szp AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS prior_size FROM rep_p GROUP BY 1),
       |cnp AS (
       |  SELECT x.doc_id AS new_id, y.doc_id AS prior_id
       |  FROM buckets x JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
       |  GROUP BY 1, 2),
       |vnp AS (
       |  SELECT c.new_id, c.prior_id
       |  FROM cnp c JOIN jall j ON j.d1 = least(c.new_id, c.prior_id)
       |                        AND j.d2 = greatest(c.new_id, c.prior_id)),
       |mt AS (
       |  SELECT v.new_id, min(r.rep_id) AS rep_id
       |  FROM vnp v JOIN rep_p r ON v.prior_id = r.doc_id
       |  GROUP BY 1),
       |jn AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS n_joined FROM mt GROUP BY 1),
       |unm AS (
       |  SELECT doc_id FROM documents
       |  WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT new_id FROM mt)),
       |cnn AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2
       |  FROM buckets x JOIN buckets y ON x.band_no = y.band_no AND x.bucket = y.bucket
       |                             AND x.doc_id < y.doc_id
       |  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 1
       |  GROUP BY 1, 2),
       |vnn AS (
       |  SELECT c.d1, c.d2
       |  FROM cnn c JOIN jall j ON j.d1 = c.d1 AND j.d2 = c.d2
       |  WHERE c.d1 IN (SELECT doc_id FROM unm) AND c.d2 IN (SELECT doc_id FROM unm)),
       |edges_n AS (SELECT d1, d2 FROM vnn UNION ALL SELECT d2 AS d1, d1 AS d2 FROM vnn),
       |reach_n AS (
       |  SELECT doc_id, doc_id AS r FROM unm
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.r FROM edges_n e JOIN reach_n rc ON e.d2 = rc.doc_id),
       |rep_n AS (SELECT doc_id, min(r) AS rep_id FROM reach_n GROUP BY 1),
       |szn AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM rep_n GROUP BY 1)
       |SELECT r.doc_id, r.rep_id,
       |       CAST(s.prior_size + coalesce(j.n_joined, 0) AS BIGINT) AS cluster_size,
       |       'standing' AS origin
       |FROM rep_p r JOIN szp s ON r.rep_id = s.rep_id
       |LEFT JOIN jn j ON r.rep_id = j.rep_id
       |UNION ALL
       |SELECT m.new_id AS doc_id, m.rep_id,
       |       CAST(s.prior_size + j.n_joined AS BIGINT) AS cluster_size,
       |       'joined' AS origin
       |FROM mt m JOIN szp s ON m.rep_id = s.rep_id JOIN jn j ON m.rep_id = j.rep_id
       |UNION ALL
       |SELECT r.doc_id, r.rep_id, s.cluster_size, 'new' AS origin
       |FROM rep_n r JOIN szn s ON r.rep_id = s.rep_id""".stripMargin

  /** Per-source duplication report card: how many documents each source
    * contributed, how many DISTINCT near-dup clusters those documents
    * land in, and the excess (docs − clusters) — the "which feed is
    * flooding the corpus with duplicates" view a corpus owner reads
    * before re-weighting sources. One join of the cluster assignment to
    * the (doc_id → source) projection plus one hash agg; the distinct-
    * cluster count shuffles (source, rep_id) pairs — bounded by the
    * cluster assignment itself, never quadratic.
    */
  def sourceDupStats(docs: DataFrame): DataFrame =
    sourceDupStats(docs, duplicateClusters(docs))

  def sourceDupStats(docs: DataFrame, clusters: DataFrame): DataFrame =
    clusters
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col("rep_id")).cast("long").as("n_clusters"))
      .select(col("source"), col("n_docs"), col("n_clusters"),
        (col("n_docs") - col("n_clusters")).as("n_dup_docs"),
        round((col("n_docs") - col("n_clusters")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))

  def dedupSourceStats(spark: SparkSession, sfDir: String): DataFrame =
    sourceDupStats(Tables.documents(spark, sfDir), sharedClusters(spark, sfDir))

  val dedupSourceStatsSql: String =
    s"""WITH RECURSIVE $CLUSTER_REP_CTES
       |SELECT d.source,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT r.rep_id) AS BIGINT) AS n_clusters,
       |       CAST(count(*) - count(DISTINCT r.rep_id) AS BIGINT) AS n_dup_docs,
       |       round(CAST(count(*) - count(DISTINCT r.rep_id) AS DOUBLE)
       |             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
       |FROM rep r JOIN documents d ON r.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** Same reachability fixpoint, then the max-quality (min doc_id
    * tie-break) member per component via a ranking window.
    */
  val dedupClusterBestSql: String =
    s"""WITH RECURSIVE ${Tables.TOK_CTE},
       |${Tables.SHINGLE_CTE},
       |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
       |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT i.d1, i.d2
       |  FROM inter i JOIN szs s1 ON i.d1 = s1.doc_id JOIN szs s2 ON i.d2 = s2.doc_id
       |  WHERE CAST(i.c AS DOUBLE) / CAST(s1.n + s2.n - i.c AS DOUBLE) >= $JACCARD_THRESHOLD),
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jp),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM documents
       |  UNION
       |  SELECT e.d1 AS doc_id, rc.r FROM edges e JOIN reach rc ON e.d2 = rc.doc_id),
       |rep AS (SELECT doc_id, min(r) AS rep_id FROM reach GROUP BY 1),
       |szc AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM rep GROUP BY 1),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
       |         sum(CASE WHEN length(tok) <= 2 THEN 1 ELSE 0 END) AS n_short
       |  FROM tok GROUP BY 1),
       |scored AS (
       |  SELECT doc_id,
       |         round((CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |               * (1.0 - CAST(n_short AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6)
       |           AS quality_score
       |  FROM stats),
       |ranked AS (
       |  SELECT r.rep_id, r.doc_id, c.cluster_size, q.quality_score,
       |         row_number() OVER (PARTITION BY r.rep_id
       |                            ORDER BY q.quality_score DESC, r.doc_id) AS rk
       |  FROM rep r
       |  JOIN szc c ON r.rep_id = c.rep_id
       |  JOIN scored q ON r.doc_id = q.doc_id)
       |SELECT rep_id, doc_id AS best_doc_id, quality_score AS best_quality, cluster_size
       |FROM ranked WHERE rk = 1""".stripMargin

  /** Winnowing window: each fingerprint is the minimum of
    * [[WINNOW_WINDOW]] consecutive span hashes — guarantees any shared
    * run of [[SPAN_WORDS]] + [[WINNOW_WINDOW]] − 1 words shares a
    * selected fingerprint (the winnowing guarantee, Schleimer et al.
    * '03), while storing ~2/(W+1) of the span hashes.
    */
  val WINNOW_WINDOW = 4

  /** Selected winnowing fingerprints per document (doc_id, fp). Built
    * ARRAY-SIDE: the rolling span-hash array, the per-window minima, and
    * the distinct selection all happen in one projection — zero shuffle
    * until the consumer indexes the fingerprints. The hash must be
    * engine-portable because the WINDOW MINIMUM depends on hash VALUES
    * (unlike the pure-equality span index): both engines parse the first
    * 14 md5 hex chars (56 bits, sign-safe) of the span text.
    */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= SPAN_WORDS + WINNOW_WINDOW - 1)
      .select(col("doc_id"), explode(
        TextFunctions.winnowFps(col("toks"), SPAN_WORDS, WINNOW_WINDOW)).as("fp"))
  }

  /** Winnowing dedup: candidate pairs share a selected fingerprint — the
    * MOSS shape. Detects any shared passage of ≥ SPAN_WORDS+W−1 words
    * (guaranteed by construction) at ~2/(W+1) of the span index's size;
    * the same document-frequency cap bounds boilerplate fingerprints.
    */
  def winnowPairs(docs: DataFrame): DataFrame = {
    // same fan-out shape as the span index: fingerprints feed the DF
    // count and the join; the capped index feeds both self-join sides
    val fps = winnowFingerprints(docs).localCheckpoint()
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= SPAN_DF_CAP).select(col("fp"))
    val kept = fps.join(rare, Seq("fp")).localCheckpoint()
    val a = kept.select(col("fp"), col("doc_id").as("d1"))
    val b = kept.select(col("fp"), col("doc_id").as("d2"))
    a.join(b, Seq("fp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).cast("long").as("n_shared_fps"))
  }

  def dedupWinnow(spark: SparkSession, sfDir: String): DataFrame =
    winnowPairs(Tables.documents(spark, sfDir))

  val dedupWinnowSql: String =
    s"""WITH pos AS (
       |  SELECT doc_id, i,
       |         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + ${SPAN_WORDS - 1}), ' ')), 1, 14)) AS BIGINT) AS h
       |  FROM (
       |    SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${SPAN_WORDS - 1})) AS i
       |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents)
       |    WHERE len(toks) >= ${SPAN_WORDS + WINNOW_WINDOW - 1})),
       |win AS (
       |  SELECT doc_id, i,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN ${WINNOW_WINDOW - 1} PRECEDING AND CURRENT ROW) AS fp
       |  FROM pos),
       |fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE i >= $WINNOW_WINDOW),
       |rare AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY 1)
       |  WHERE df <= $SPAN_DF_CAP),
       |kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp)
       |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_shared_fps
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Embedding-cosine near-dup via hyperplane LSH: candidates are vectors
    * sharing any (table, bucket) cell; each vector reports its best
    * candidate by cosine, flagged ≥ 0.9. Pair fan-out is bounded by bucket
    * occupancy (2^bits tunable), never by corpus or label-cell size — the
    * old `label` blocking was quadratic per label cell. Norms are computed
    * once per vector, never inside the pair loop; the candidate join is a
    * plain codegen'd equi-join on (table, bucket).
    */
  def embeddingNearDup(emb: DataFrame, dim: Int): DataFrame = {
    // Vector payloads (embedding + norm) ride along in the bucket rows, so
    // the candidate equi-join needs no join-back to the vector table, and
    // duplicate candidates from multi-table hits are left in place — they
    // carry identical cosines, so the rn=1 winner is unchanged and the
    // dedup shuffle is saved.
    val base = Similarity.withNorm(emb).localCheckpoint()
    // occupancy-pinned geometry (see [[hypBitsFor]]): the per-vector
    // candidate pool stays at its gated design size instead of growing
    // ∝ N (which silently bought best-match recall at N²/2^bits cost);
    // 6 bits exactly at every gated corpus, so the oracle SQL is safe
    val bits = hypBitsFor(base.count())
    val buckets = base.select(
      col("vec_id"), col("label"), col("embedding"), col("nm"),
      explode(array((0 until HYP_TABLES).map(t =>
        struct(lit(t).as("t"), bucketColBits(t, dim, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("label"), col("embedding"), col("nm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val a = buckets.select(col("t"), col("bucket"), col("vec_id"), col("label"),
      col("embedding").as("ea"), col("nm").as("na"))
    val b = buckets.select(col("t"), col("bucket"), col("vec_id").as("nn_id"),
      col("embedding").as("eb"), col("nm").as("nb"))
    val cosine = round(VectorFunctions.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
    // best candidate per vector as min(struct(−cosine, nn_id)) — the same
    // winner a row_number window picks (max cosine, then min nn_id), but a
    // partial-agg-friendly hash aggregate: bucket-join fan-out combines
    // map-side instead of sort-shuffling through a window
    a.join(b, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cosine", cosine)
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("cosine")).as("nc"), col("nn_id").as("nn_id"))).as("best"))
      .select(col("vec_id"), col("label"), col("best.nn_id").as("nn_id"),
        (-col("best.nc")).as("cosine"),
        (-col("best.nc") >= 0.9).as("is_near_dup"))
  }

  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    embeddingNearDup(Tables.embeddings(spark, sfDir), EMB_DIM)

  /** Approximate k-NN GRAPH over the whole embedding corpus: each
    * vector's top-[[KNN_K]] neighbors by cosine among its hyperplane-LSH
    * bucket mates — the construction primitive under embedding-space
    * clustering, SemDeDup-style pruning, and graph-based ANN indexes
    * (every per-vector query so far returns best-1 or a fixed query
    * set's top-k; this is all-vectors × top-k). Same bucket-bounded
    * candidate generation as [[embeddingNearDup]]; multi-table duplicate
    * candidates collapse in a (vec_id, nn_id) hash agg (cosines are
    * identical across tables), and the rank window runs per vector over
    * its bucket-bounded candidate list, never the corpus.
    */
  val KNN_K = 3

  def knnGraph(emb: DataFrame, k: Int, dim: Int): DataFrame = {
    val base = Similarity.withNorm(emb).localCheckpoint()
    // occupancy-pinned geometry: one count over the checkpointed base (a
    // driver scalar, same cost class as pageRank's node count) sizes the
    // bucket space so the candidate pair space stays N·occ, not N²/2^bits
    // — identical to the 6-bit oracle geometry at every gated corpus
    val bits = hypBitsFor(base.count())
    // candidate stage as the bucket-grouped kernel with the per-bucket
    // top-k cut ([[knnCandGrouped]]): primitive-array dots, occ·k rows
    // emitted instead of occ² — the 300× rehearsal priced the former
    // join form's UnsafeRow candidate mass at 155 of 191 s. Bit-identical
    // output (spec-asserted against [[knnGraphJoin]]; exceptAll-checked
    // at rehearsal scale, see SCALING.md).
    val cand = knnCandGrouped(base, bits, dim, kCut = k)
      .groupBy(col("vec_id"), col("nn_id")).agg(min(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("nn_id"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("nn_id"), col("cosine"), col("rn"))
  }

  /** The candidate stage as the declarative bucket self-JOIN — the form
    * the DuckDB oracle states and the equality twin the spec holds
    * [[knnGraph]]'s kernel against. Kept as the reference semantics; the
    * serving construction uses the grouped kernel (same output, measured
    * ~2× on the raw emission and ~16× less row traffic with the top-k
    * cut at the 300× rehearsal).
    */
  private[graft] def knnGraphJoin(emb: DataFrame, k: Int): DataFrame = {
    val base = Similarity.withNorm(emb).localCheckpoint()
    val bits = hypBitsFor(base.count())
    val buckets = base.select(
      col("vec_id"), col("embedding"), col("nm"),
      explode(array((0 until HYP_TABLES).map(t =>
        struct(lit(t).as("t"), bucketColBits(t, EMB_DIM, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val a = buckets.select(col("t"), col("bucket"), col("vec_id"),
      col("embedding").as("ea"), col("nm").as("na"))
    val b = buckets.select(col("t"), col("bucket"), col("vec_id").as("nn_id"),
      col("embedding").as("eb"), col("nm").as("nb"))
    val cand = a.join(b, Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        round(VectorFunctions.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("cosine"))
      .groupBy(col("vec_id"), col("nn_id")).agg(min(col("cosine")).as("cosine"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("nn_id"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("nn_id"), col("cosine"), col("rn"))
  }

  def simsearchKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    sharedKnnGraph(spark, sfDir)

  /** The serving-degree k-NN edge frame, SESSION-SHARED: five gated
    * queries (the knn construction itself, pagerank, and the triangle
    * family's three modes) consume this same frame, so the session pays
    * the construction once per corpus and every later consumer reuses
    * the checkpointed edges — the SharedFits discipline.
    */
  def sharedKnnGraph(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"knn_edges_k$KNN_K:$sfDir") {
      knnGraph(Tables.embeddings(spark, sfDir), KNN_K, EMB_DIM).localCheckpoint()
    }

  /** The k-NN-graph oracle, parameterized by out-degree — [[KNN_K]] for
    * the gated construction query, a denser serving degree for the
    * graph-ANN index ([[Similarity.simsearchGraphTopk]]).
    */
  /** The (vec_id, t, bucket) union of all [[HYP_TABLES]] hash tables over
    * `embeddings` — shared by the knn-graph oracle and the graph-ANN
    * seed CTE ([[Similarity.simsearchGraphTopk]]'s oracle).
    */
  private[ops] def bucketUnionSql: String = (0 until HYP_TABLES)
    .map(t => s"SELECT vec_id, $t AS t, ${bucketExprSql(t)} AS bucket FROM embeddings")
    .mkString("\n  UNION ALL ")

  def knnGraphSqlFor(k: Int): String = {
    val bucketUnion = bucketUnionSql
    s"""WITH ${Similarity.UNNEST_CTE},
       |${Similarity.NORM_CTE},
       |buckets AS (
       |  $bucketUnion),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS nn_id
       |  FROM buckets x JOIN buckets y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |dots AS (
       |  SELECT c.vec_id, c.nn_id, sum(a.x * b.x) AS dot
       |  FROM cand c
       |  JOIN u a ON a.vec_id = c.vec_id
       |  JOIN u b ON b.vec_id = c.nn_id AND a.i = b.i
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT d.vec_id, d.nn_id,
       |         round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.vec_id = n1.vec_id
       |  JOIN nrm n2 ON d.nn_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY cosine DESC, nn_id) AS rn
       |  FROM cos)
       |SELECT vec_id, nn_id, cosine, rn
       |FROM ranked WHERE rn <= $k""".stripMargin
  }

  val simsearchKnnGraphSql: String = knnGraphSqlFor(KNN_K)

  /** Cosine threshold for SEMANTIC clustering — looser than the 0.9
    * near-dup flag: clusters group vectors whose best LSH-bucketed match
    * clears this bar (the fixture corpus has no ≥0.9 pairs; real corpora
    * tune this to the embedding model's duplicate band).
    */
  val EMB_CLUSTER_COSINE = 0.4

  /** Probe-set size for the hyperplane-LSH quality gate: the truth side
    * is brute-force (|probes| × N dot products), so it must be bounded —
    * 200 probes against the corpus is the adjudicated
    * bounded-brute-force shape the ANN recall queries use.
    */
  val EMB_QUALITY_PROBES = 200

  /** Hyperplane-LSH retrieval quality, MEASURED — the embedding twin of
    * [[lshQuality]] and the quality gate behind the occupancy-pinned
    * geometry ([[hypBitsFor]]): recall and precision of the bucket
    * candidate set against the exact-cosine truth, at BOTH operating
    * thresholds the engine uses ([[EMB_CLUSTER_COSINE]] = the cluster
    * edge, 0.9 = the near-dup verdict). Pinning occupancy keeps the
    * candidate budget at its gated design point; this query is the
    * measured statement of what that budget retrieves. Truth is a
    * bounded brute force (probe set × corpus, broadcast — never N²);
    * candidates are the SAME bucket geometry [[embeddingNearDup]] runs
    * (probe-side restricted). Closer pairs agree on more sign planes, so
    * recall at the higher threshold must sit at or above the lower one —
    * measured per row instead of asserted. Thresholds are the fixture's
    * populated regimes (0.3 ≈ 1k pairs, [[EMB_CLUSTER_COSINE]] = 0.4
    * ≈ 60; the synthetic corpus tops out near 0.51, so a 0.9 row would
    * gate a vacuous zero).
    */
  def embLshQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Similarity.withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val bits = hypBitsFor(base.count())
    val probes = base.filter(col("vec_id") < EMB_QUALITY_PROBES)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"), col("nm").as("nq"))
    val truthScores = base
      .select(col("vec_id").as("v_id"), col("embedding").as("ev"), col("nm").as("nv"))
      .join(broadcast(probes), col("q_id") =!= col("v_id"))
      .select(col("q_id"), col("v_id"),
        round(VectorFunctions.vecDot(col("eq"), col("ev")) / (col("nq") * col("nv")), 6)
          .as("cosine"))
    val buckets = base.select(col("vec_id"),
      explode(array((0 until HYP_TABLES).map(t =>
        struct(lit(t).as("t"), bucketColBits(t, EMB_DIM, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val cand = buckets.filter(col("vec_id") < EMB_QUALITY_PROBES)
      .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
      .join(buckets.select(col("vec_id").as("v_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("q_id") =!= col("v_id"))
      .select(col("q_id"), col("v_id")).distinct()
    val joined = truthScores
      .join(cand.withColumn("is_cand", lit(1L)), Seq("q_id", "v_id"), "left")
      .localCheckpoint() // both threshold rows read it
    val nCand = cand.count()
    Seq(0.3, EMB_CLUSTER_COSINE).map { tau =>
      joined.filter(col("cosine") >= tau)
        .agg(count(lit(1)).as("n_truth"),
          coalesce(sum(col("is_cand")), lit(0L)).as("n_hits"))
        .select(lit((tau * 100).round).as("tau_pct"), col("n_truth"), col("n_hits"),
          lit(nCand).as("n_candidates"),
          round(col("n_hits").cast("double") /
            nullif(col("n_truth"), lit(0L)).cast("double"), 6).as("recall"),
          round(col("n_hits").cast("double") / lit(nCand).cast("double"), 6)
            .as("precision"))
    }.reduce(_ unionByName _)
  }

  val embLshQualitySql: String = {
    val bucketUnion = (0 until HYP_TABLES)
      .map(t => s"SELECT vec_id, $t AS t, ${bucketExprSql(t)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL ")
    def tauRow(tauPct: Long, tau: String) =
      s"""SELECT $tauPct AS tau_pct,
         |       CAST(count(*) AS BIGINT) AS n_truth,
         |       CAST(coalesce(sum(j.is_cand), 0) AS BIGINT) AS n_hits,
         |       (SELECT n FROM ncand) AS n_candidates,
         |       round(CAST(coalesce(sum(j.is_cand), 0) AS DOUBLE)
         |             / CAST(nullif(count(*), 0) AS DOUBLE), 6) AS recall,
         |       round(CAST(coalesce(sum(j.is_cand), 0) AS DOUBLE)
         |             / CAST((SELECT n FROM ncand) AS DOUBLE), 6) AS precision
         |FROM joined j WHERE j.cosine >= $tau""".stripMargin
    s"""WITH ${Similarity.UNNEST_CTE},
       |${Similarity.NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS v_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < $EMB_QUALITY_PROBES
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT d.q_id, d.v_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.v_id = n2.vec_id),
       |buckets AS (
       |  $bucketUnion),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS v_id
       |  FROM buckets x JOIN buckets y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id <> y.vec_id
       |  WHERE x.vec_id < $EMB_QUALITY_PROBES),
       |ncand AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cand),
       |joined AS (
       |  SELECT t.q_id, t.v_id, t.cosine,
       |         CASE WHEN c.q_id IS NULL THEN NULL ELSE 1 END AS is_cand
       |  FROM truth t LEFT JOIN cand c ON t.q_id = c.q_id AND t.v_id = c.v_id)
       |${tauRow(30L, "0.3")}
       |UNION ALL
       |${tauRow((EMB_CLUSTER_COSINE * 100).round, EMB_CLUSTER_COSINE.toString)}""".stripMargin
  }

  /** Semantic duplicate clusters: connected components over the
    * hyperplane-LSH best-match graph, edges = best-neighbor links with
    * cosine ≥ [[EMB_CLUSTER_COSINE]] — the embedding-space twin of
    * [[duplicateClusters]], built on the same [[connectedComponents]]
    * engine and checked against the same recursive-CTE fixpoint oracle.
    */
  def embeddingClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val pairs = embeddingNearDup(emb, EMB_DIM)
      .filter(col("cosine") >= EMB_CLUSTER_COSINE)
      .select(least(col("vec_id"), col("nn_id")).as("d1"),
        greatest(col("vec_id"), col("nn_id")).as("d2"))
      .distinct()
    connectedComponents(emb.select(col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("rep_id"), col("cluster_size"))
  }

  lazy val dedupEmbeddingClustersSql: String =
    s"""WITH RECURSIVE nd AS ($dedupEmbeddingSql),
       |jp AS (
       |  SELECT DISTINCT least(vec_id, nn_id) AS d1, greatest(vec_id, nn_id) AS d2
       |  FROM nd WHERE cosine >= $EMB_CLUSTER_COSINE),
       |edges AS (SELECT d1, d2 FROM jp UNION ALL SELECT d2 AS d1, d1 AS d2 FROM jp),
       |reach AS (
       |  SELECT vec_id, vec_id AS r FROM embeddings
       |  UNION
       |  SELECT e.d1 AS vec_id, rc.r FROM edges e JOIN reach rc ON e.d2 = rc.vec_id),
       |rep AS (SELECT vec_id, min(r) AS rep_id FROM reach GROUP BY 1),
       |szc AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM rep GROUP BY 1)
       |SELECT r.vec_id, r.rep_id, s.cluster_size
       |FROM rep r JOIN szc s ON r.rep_id = s.rep_id""".stripMargin

  val dedupEmbeddingSql: String = {
    val bucketUnion = (0 until HYP_TABLES)
      .map(t => s"SELECT vec_id, $t AS t, ${bucketExprSql(t)} AS bucket FROM embeddings")
      .mkString("\n  UNION ALL ")
    s"""WITH ${Similarity.UNNEST_CTE},
       |${Similarity.NORM_CTE},
       |buckets AS (
       |  $bucketUnion),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS vec_id, y.vec_id AS nn_id
       |  FROM buckets x JOIN buckets y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |dots AS (
       |  SELECT c.vec_id, c.nn_id, sum(a.x * b.x) AS dot
       |  FROM cand c
       |  JOIN u a ON a.vec_id = c.vec_id
       |  JOIN u b ON b.vec_id = c.nn_id AND a.i = b.i
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT d.vec_id, d.nn_id,
       |         round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.vec_id = n1.vec_id
       |  JOIN nrm n2 ON d.nn_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY cosine DESC, nn_id) AS rn
       |  FROM cos)
       |SELECT r.vec_id, e.label, r.nn_id, r.cosine, r.cosine >= 0.9 AS is_near_dup
       |FROM ranked r JOIN embeddings e ON r.vec_id = e.vec_id
       |WHERE r.rn = 1""".stripMargin
  }

  // --------------------------------------------------------------------
  // Corpus snapshot diff
  // --------------------------------------------------------------------

  /** Simulated snapshot deltas over the fixture corpus: the "previous"
    * snapshot is missing every [[DIFF_DROP_MOD]]-th document (those show
    * as ADDED in the current one) and the current snapshot carries a
    * revision marker on every [[DIFF_CHANGE_MOD]]-th document (CHANGED).
    */
  val DIFF_DROP_MOD = 11L
  val DIFF_CHANGE_MOD = 13L

  /** Snapshot diff — corpus versioning: given two cuts of the same
    * document table, classify every doc_id as added / removed / changed
    * / unchanged by content fingerprint and report counts per (source,
    * status). The audit a curation pipeline runs between crawl drops:
    * "what actually moved since the last snapshot, and where". One
    * full-outer equi-join on the key, fingerprints computed scan-side —
    * linear, shuffle only on doc_id.
    */
  def snapshotDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), col("source").as("source_a"),
      md5(col("text")).as("fp_a"))
    val b = curr.select(col("doc_id"), col("source").as("source_b"),
      md5(col("text")).as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source_b"), col("source_a")).as("source"),
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("removed"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  def corpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val prev = docs.filter(col("doc_id") % DIFF_DROP_MOD =!= 0)
    val curr = docs.withColumn("text",
      when(col("doc_id") % DIFF_CHANGE_MOD === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
    snapshotDiff(prev, curr)
  }

  val corpusDiffSql: String =
    s"""WITH a AS (
       |  SELECT doc_id, source AS source_a, md5(text) AS fp_a
       |  FROM documents WHERE doc_id % $DIFF_DROP_MOD <> 0),
       |b AS (
       |  SELECT doc_id, source AS source_b,
       |         md5(CASE WHEN doc_id % $DIFF_CHANGE_MOD = 0
       |                  THEN text || ' rev2' ELSE text END) AS fp_b
       |  FROM documents)
       |SELECT coalesce(b.source_b, a.source_a) AS source,
       |       CASE WHEN a.fp_a IS NULL THEN 'added'
       |            WHEN b.fp_b IS NULL THEN 'removed'
       |            WHEN a.fp_a <> b.fp_b THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       CAST(count(*) AS BIGINT) AS n_docs
       |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
       |GROUP BY 1, 2""".stripMargin
}

/** Hamming-ball enumeration for the rung-2 MIH probe
  * ([[Dedup.mihPairsRung2]]): all `bits`-bit patterns within `r` bit
  * flips of `v`, `v` itself first. Bounded combinatorics (r ≤ 3), no
  * allocation beyond the result array — this runs once per probe row on
  * the partition-bit space (42 patterns at 6 bits) and once per touched
  * partition on the high-bit space (≤ 1,794 at 22 bits), totalling
  * exactly the ball size per probe across all partitions.
  */
private[graft] object MihExpansion extends Serializable {
  def ball(v: Long, bits: Int, r: Int): Array[Long] = {
    if (r < 0) return Array.empty
    val buf = scala.collection.mutable.ArrayBuffer[Long](v)
    if (r >= 1) {
      var i = 0
      while (i < bits) { buf += v ^ (1L << i); i += 1 }
    }
    if (r >= 2) {
      var i = 0
      while (i < bits) {
        var j = i + 1
        while (j < bits) { buf += v ^ (1L << i) ^ (1L << j); j += 1 }
        i += 1
      }
    }
    if (r >= 3) {
      var i = 0
      while (i < bits) {
        var j = i + 1
        while (j < bits) {
          var k = j + 1
          while (k < bits) { buf += v ^ (1L << i) ^ (1L << j) ^ (1L << k); k += 1 }
          j += 1
        }
        i += 1
      }
    }
    buf.toArray
  }
}
