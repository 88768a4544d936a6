package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Tables

/** Multimodal-column plumbing: media payloads ride through the engine as
  * opaque `binary` columns with typed metadata alongside, and per-batch
  * decode / feature-extraction runs inside `mapPartitions` over a typed
  * Dataset — the Scala analogue of `mapInPandas` (partition-at-a-time
  * batches, decoder state initialized once per partition, never per row).
  *
  * The actual image/audio decode is STUBBED (no media libraries in this
  * environment): [[StubDecoder]] derives deterministic fake features from
  * the payload bytes. The Spark-side contract — schema, binary transport,
  * partition batching, once-per-partition decoder init — is real and
  * tested; swapping `StubDecoder` for a JNI/FFI decoder changes no plan
  * shape.
  */
object Multimodal {

  /** A media row as it would land from ingestion: payload + metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Features produced by the (stubbed) per-partition decoder. */
  case class MediaFeatures(media_id: Long, kind: String, byte_len: Long,
      checksum: String, n_frames: Int, width: Int, height: Int)

  /** Deterministic stand-in for a real media decoder. One instance per
    * partition (constructed inside mapPartitions), mirroring how a real
    * decoder would hold codec state/buffers across a batch.
    */
  final class StubDecoder {
    private val digest = java.security.MessageDigest.getInstance("MD5")
    def decode(row: MediaRow): MediaFeatures = {
      digest.reset()
      val h = digest.digest(row.payload).map("%02x".format(_)).mkString
      val len = row.payload.length.toLong
      MediaFeatures(row.media_id, row.kind, len, h,
        n_frames = (len % 7 + 1).toInt,
        width = (len % 640 + 1).toInt,
        height = (len % 480 + 1).toInt)
    }
  }

  /** The mapInPandas-equivalent: partition-at-a-time decode with
    * once-per-partition decoder construction. Narrow (no shuffle); scales
    * with input splits.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new StubDecoder
      rows.map(decoder.decode)
    }
  }

  /** Documents recast as a media table: text bytes as the opaque payload.
    * (Stand-in ingestion — the driver testdata has no binary table.)
    */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Oracle-checkable slice of the multimodal path: the metadata/features
    * that are pure functions of the payload bytes. Expressed relationally
    * here (codegen'd, no mapPartitions) so DuckDB can replay it; the
    * Dataset pipeline above computes the same values via the decoder stub
    * (asserted equal in MultimodalSpec).
    */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame = {
    val len = octet_length(col("text")).cast("long")
    Tables.documents(spark, sfDir).select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      len.as("byte_len"),
      md5(col("text")).as("checksum"),
      (len % 7 + 1).cast("int").as("n_frames"),
      (len % 640 + 1).cast("int").as("width"),
      (len % 480 + 1).cast("int").as("height"))
  }

  val multimodalMetaSql: String =
    """SELECT doc_id AS media_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
      |       CAST(strlen(text) AS BIGINT) AS byte_len,
      |       md5(text) AS checksum,
      |       CAST(strlen(text) % 7 + 1 AS INTEGER) AS n_frames,
      |       CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
      |       CAST(strlen(text) % 480 + 1 AS INTEGER) AS height
      |FROM documents""".stripMargin

  /** Exact media dedup by content checksum — the first pass every
    * multimodal ingest runs (mirrors of the same image/clip re-crawled
    * under different ids): one hash-agg on the payload checksum, keep
    * the minimum media id, and report the duplicate count and the bytes
    * a dedup'd store saves. The media-table twin of `dedup_exact`.
    */
  def multimodalDedup(spark: SparkSession, sfDir: String): DataFrame =
    mediaDedup(multimodalMeta(spark, sfDir))

  /** The dedup core over any (media_id, checksum, byte_len, ...) frame. */
  def mediaDedup(meta: DataFrame): DataFrame =
    meta
      .groupBy(col("checksum"))
      .agg(min(col("media_id")).as("keep_media_id"),
        count(lit(1)).cast("long").as("n_copies"),
        min(col("byte_len")).as("byte_len"))
      .select(col("checksum"), col("keep_media_id"), col("n_copies"),
        col("byte_len"), ((col("n_copies") - 1) * col("byte_len")).as("wasted_bytes"))

  val multimodalDedupSql: String =
    """WITH m AS (
      |  SELECT md5(text) AS checksum, doc_id AS media_id,
      |         CAST(strlen(text) AS BIGINT) AS byte_len
      |  FROM documents)
      |SELECT checksum, min(media_id) AS keep_media_id,
      |       CAST(count(*) AS BIGINT) AS n_copies,
      |       min(byte_len) AS byte_len,
      |       (CAST(count(*) AS BIGINT) - 1) * min(byte_len) AS wasted_bytes
      |FROM m GROUP BY 1""".stripMargin

  /** Frame-sampling stride and resize target (fit the longest side to
    * [[FRAME_TARGET]], preserving aspect ratio in pure integer math so
    * both engines agree bit-for-bit).
    */
  val FRAME_TARGET = 224
  val FRAME_STRIDE = 2

  /** One row per SAMPLED frame (every [[FRAME_STRIDE]]-th, 1-based) with
    * the resize-plan dimensions and a per-frame fingerprint — the
    * frame-sample + resize stage of a video/image preprocessing pipeline.
    * The decode being stubbed, the per-frame fingerprint is a
    * deterministic function of (checksum, frame_no); the table-generating
    * shape (`sequence` + `explode`, no shuffle, fan-out = frames/stride)
    * and the integer resize arithmetic are the real contract.
    */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val m = multimodalMeta(spark, sfDir)
    m.withColumn("out_w",
        when(col("width") >= col("height"), lit(FRAME_TARGET))
          .otherwise(expr(s"(width * $FRAME_TARGET) DIV height")).cast("int"))
      .withColumn("out_h",
        when(col("width") >= col("height"),
          expr(s"(height * $FRAME_TARGET) DIV width"))
          .otherwise(lit(FRAME_TARGET)).cast("int"))
      .select(col("media_id"), col("kind"), col("checksum"),
        col("out_w"), col("out_h"),
        explode(expr(s"sequence(1, n_frames, $FRAME_STRIDE)")).as("frame_no"))
      .select(col("media_id"), col("kind"), col("frame_no").cast("long").as("frame_no"),
        col("out_w"), col("out_h"),
        md5(concat_ws(":", col("checksum"), col("frame_no"))).as("frame_fp"))
  }

  val multimodalFramesSql: String =
    s"""WITH meta AS (
       |$multimodalMetaSql),
       |fr AS (
       |  SELECT media_id, kind, checksum,
       |         CAST(CASE WHEN width >= height THEN $FRAME_TARGET
       |                   ELSE (width * $FRAME_TARGET) // height END AS INTEGER) AS out_w,
       |         CAST(CASE WHEN width >= height THEN (height * $FRAME_TARGET) // width
       |                   ELSE $FRAME_TARGET END AS INTEGER) AS out_h,
       |         unnest(generate_series(1, n_frames, $FRAME_STRIDE)) AS frame_no
       |  FROM meta)
       |SELECT media_id, kind, CAST(frame_no AS BIGINT) AS frame_no, out_w, out_h,
       |       md5(checksum || ':' || CAST(frame_no AS VARCHAR)) AS frame_fp
       |FROM fr""".stripMargin

  /** Byte budget per media shard (fixture-scale; a production store uses
    * ~1 GB tar shards — the constant is the only difference).
    */
  val MEDIA_SHARD_BYTES = 4096L

  /** WebDataset-style shard planning over the DEDUPED media store: keep
    * one copy per checksum, lay the surviving files out contiguously by
    * media_id, and assign each file to the shard its byte offset falls
    * in (`start_off DIV budget`) — the parallel equivalent of greedy
    * byte packing. Greedy "close the shard when the budget fills" is
    * inherently sequential (each boundary depends on every prior file);
    * the offset-division rule needs only the prefix sum, reuses the
    * two-level pack machinery ([[TextAnalysis.packGeometry]] — no
    * global window), and yields shard sizes within one file of the
    * budget, which is what the loader cares about. Reports per-shard
    * file count, byte mass, and the contiguous media-id range.
    */
  def mediaShards(meta: DataFrame): DataFrame = {
    val kept = mediaDedup(meta)
      .select(col("keep_media_id").as("doc_id"), col("byte_len").as("n_tokens"))
    TextAnalysis.packGeometry(kept)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"start_off DIV $MEDIA_SHARD_BYTES").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum(col("n_tokens")).cast("long").as("shard_bytes"),
        min(col("doc_id")).as("min_media"),
        max(col("doc_id")).as("max_media"))
  }

  def multimodalShards(spark: SparkSession, sfDir: String): DataFrame =
    mediaShards(multimodalMeta(spark, sfDir))

  val multimodalShardsSql: String =
    s"""WITH m AS (
       |  SELECT md5(text) AS checksum, doc_id AS media_id,
       |         CAST(strlen(text) AS BIGINT) AS byte_len
       |  FROM documents),
       |kept AS (
       |  SELECT min(media_id) AS media_id, min(byte_len) AS byte_len
       |  FROM m GROUP BY checksum),
       |o AS (
       |  SELECT media_id, byte_len,
       |         CAST(coalesce(sum(byte_len) OVER (ORDER BY media_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS start_off
       |  FROM kept)
       |SELECT start_off // $MEDIA_SHARD_BYTES AS shard_id,
       |       CAST(count(*) AS BIGINT) AS n_files,
       |       CAST(sum(byte_len) AS BIGINT) AS shard_bytes,
       |       min(media_id) AS min_media, max(media_id) AS max_media
       |FROM o GROUP BY 1""".stripMargin

  /** Pair-curation gates, in audit order (first failing gate wins). */
  val PAIR_MIN_SIDE = 32
  val PAIR_MIN_WORDS = 5

  /** Cross-modal PAIR CURATION — the media–caption manifest a contrastive
    * (CLIP-style) training run reads, with the LAION-recipe gates applied
    * in a declared order and EVERY pair audited (one row per media item
    * with the FIRST gate that rejects it, or 'kept') — the
    * corpus_rejections pattern applied to the multimodal table:
    *
    *  1. `no_embedding` — the caption side has no paired vector (LEFT
    *     join against the embeddings table; at scale: the pair table is
    *     the big side, the probe is an equi-join, nothing fans out);
    *  2. `tiny_image`  — min(width, height) < [[PAIR_MIN_SIDE]] (the
    *     stub decoder's dimensions — a real decoder swaps in real ones,
    *     same plan);
    *  3. `short_caption` — caption under [[PAIR_MIN_WORDS]] words;
    *  4. `dup_pair` — not the minimum-id holder of its content checksum
    *     (re-crawled mirrors must not double-count in the training mix);
    *  5. `kept`.
    *
    * One equi-join + one checksum-keyed window + narrow projections —
    * no pair space, no global window; the audit is the same rows the
    * keep-side manifest would drop, so curation and audit cannot drift.
    * The dup rank is computed over ALL pairs (the canonical mirror holds
    * its slot whether or not its own later gates reject it — same rule
    * as the checksum dedup it mirrors).
    */
  def pairAudit(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val len = octet_length(col("text")).cast("long")
    val pairs = docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      md5(col("text")).as("checksum"),
      (len % 640 + 1).cast("int").as("width"),
      (len % 480 + 1).cast("int").as("height"),
      size(split(col("text"), "\\s+")).cast("long").as("n_words"))
    val emb = embeddings
      .select(col("vec_id").as("media_id"), lit(1).as("has_vec"))
    val byChecksum = Window.partitionBy(col("checksum")).orderBy(col("media_id"))
    pairs.join(emb, Seq("media_id"), "left")
      .withColumn("rn", row_number().over(byChecksum))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_words"),
        when(col("has_vec").isNull, "no_embedding")
          .when(least(col("width"), col("height")) < PAIR_MIN_SIDE, "tiny_image")
          .when(col("n_words") < PAIR_MIN_WORDS, "short_caption")
          .when(col("rn") > 1, "dup_pair")
          .otherwise("kept").as("verdict"))
  }

  def multimodalPairAudit(spark: SparkSession, sfDir: String): DataFrame =
    pairAudit(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir))

  val multimodalPairAuditSql: String =
    s"""WITH p AS (
       |  SELECT doc_id AS media_id,
       |         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |         md5(text) AS checksum,
       |         CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
       |         CAST(strlen(text) % 480 + 1 AS INTEGER) AS height,
       |         CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_words,
       |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM documents)
       |SELECT media_id, kind, width, height, n_words,
       |       CASE WHEN e.vec_id IS NULL THEN 'no_embedding'
       |            WHEN least(width, height) < $PAIR_MIN_SIDE THEN 'tiny_image'
       |            WHEN n_words < $PAIR_MIN_WORDS THEN 'short_caption'
       |            WHEN rn > 1 THEN 'dup_pair'
       |            ELSE 'kept' END AS verdict
       |FROM p LEFT JOIN embeddings e ON p.media_id = e.vec_id""".stripMargin

  /** Perceptual-signature geometry: [[PFP_BITS]]-bit per-media signature
    * (majority vote of the sampled frames' fingerprint bits — the video
    * pHash shape: per-frame perceptual hashes voted into one clip
    * signature), banded into [[PFP_BANDS]] × [[PFP_BAND_BITS]] for the
    * LSH candidate join. Pigeonhole exactness: hamming ≤ bands − 1
    * guarantees one identical band, so [[PFP_MAX_HAMMING]] = bands − 1
    * misses nothing.
    *
    * Band WIDTH is the scale dial: candidate fan-out on near-uniform
    * signatures is ≈ bands · N² / 2^width, so 7-bit bands (128 buckets)
    * degenerate quadratic — the 10× rehearsal measured exponent 1.06
    * before this geometry. 4 × 14-bit bands put 16 384 buckets under
    * the join (exponent back sub-linear) at the standard price: the
    * exact-by-pigeonhole radius is hamming ≤ 3, i.e. clips sharing
    * ≳ 90% of frames — the regime perceptual dedup targets (a looser
    * radius at scale takes multi-probe over the bands, not narrower
    * bands).
    */
  val PFP_BITS = 56
  val PFP_BANDS = 4
  val PFP_BAND_BITS = 14
  val PFP_MAX_HAMMING = PFP_BANDS - 1

  /** Per-media perceptual signature over a frames table
    * ([[multimodalFrames]]' shape: media_id, frame_fp): each sampled
    * frame's 56-bit fingerprint votes ±1 on every signature bit, bit set
    * iff the vote sum is positive — [[Dedup.simhashSignatures]]' rule
    * with frames as the feature set instead of shingles. A re-encoded /
    * re-containered clip shares most frames, so its signature lands
    * within a few bits; with the decoder stubbed the per-frame
    * fingerprint is checksum-derived (the spec plants partial frame
    * overlap to exercise the near-dup path the fixture can't). One hash
    * aggregation, map-side combined; 56 small integer vote columns.
    */
  def perceptualSignatures(frames: DataFrame): DataFrame = {
    val withBits = frames.select(col("media_id"),
      expr(s"CAST(conv(substr(frame_fp, 1, ${PFP_BITS / 4}), 16, 10) AS BIGINT)")
        .as("h"))
    val votes = withBits.groupBy(col("media_id"))
      .agg(count(lit(1)).as("cnt"),
        (0 until PFP_BITS).map(b => sum(expr(s"(h >> $b) & 1")).as(s"c$b")): _*)
    votes.select(col("media_id"),
      (0 until PFP_BITS)
        .map(b => when(col(s"c$b") * 2 > col("cnt"), lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("pfp"))
  }

  /** Perceptual near-dup pairs: banded-LSH candidate join over the
    * signatures (same exact-by-pigeonhole plan as
    * [[Dedup.simhashPairs]] — one bucket equi-join, signature riding on
    * the band rows, pair fan-out bounded by bucket population, never
    * corpus²), hamming filtered inside buckets.
    */
  /** Banded rows of the perceptual signatures — (media_id, pfp, band_no,
    * band_val), [[PFP_BANDS]] rows per media item. This IS the standing
    * perceptual index the incremental assembly keeps between batches.
    */
  private[graft] def signatureBands(frames: DataFrame): DataFrame = {
    val mask = (1L << PFP_BAND_BITS) - 1
    perceptualSignatures(frames).select(
        col("media_id"), col("pfp"),
        explode(expr(s"sequence(0, ${PFP_BANDS - 1})")).as("band_no"))
      .withColumn("band_val",
        expr(s"(pfp >> (band_no * $PFP_BAND_BITS)) & $mask"))
  }

  /** Corpus size where perceptual banding takes the wider rung-1
    * geometry (2 blocks × 28 bits, probe radius 1 — see
    * [[Dedup.mihGeometry]]): the 2^14 base value space holds occupancy
    * to far larger corpora than SimHash's 2^7, so the rung engages
    * later; candidate mass drops ≈ 1100× at the switch ((1+28)/2^28 vs
    * 4/2^14 per ordered pair). DERIVED (round 14): where rung 0's
    * candidate mass (4·N²/2¹⁴ rows) crosses the configured PAYLOAD
    * budget — ≈1.23M at this box's default, the r13 absolute pin (10⁶)
    * within 23%, now moving with the fleet's executors.
    */
  def pfpRung1N(payloadBytes: Long, scratchBytes: Long): Long =
    // min over BOTH budgets at rung 0's own geometry (the simhashRung1N
    // discipline): a small-scratch fleet leaves the exact-band join for
    // the O(N)-working-set cogroup before the band-bucket candidate
    // mass can spill its disk
    math.min(
      Resources.bandedRungCeiling(payloadBytes, PFP_BANDS, PFP_BAND_BITS, 0),
      Resources.bandedRungCeiling(scratchBytes, PFP_BANDS, PFP_BAND_BITS, 0))

  /** The perceptual rung ladder past [[pfpRung1N]] goes STRAIGHT to the
    * partition-grouped cogroup kernel ([[Dedup.mihPairsRung2]]) at the
    * 2 × 28-bit radius-1 geometry — the round-13 verdict gap (a 10⁷-item
    * image corpus re-entering the explode-join's quadratic with no next
    * rung built), closed by MEASUREMENT rather than a third pin: the
    * radius-1 explode-join is DOMINATED by the cogroup at every scale
    * past the rung-0 pin (SCALING.md, identical 22,320 / 67,681 pair
    * sets: 6.5 vs 4.9 s at 500k sigs, 25.4 vs 9.6 s at 1.5 M — the
    * join's 8.8× candidate-mass growth for 3× docs is the quadratic
    * arriving, while the cogroup never materializes candidate rows and
    * ships 14 band rows/sig instead of 58). Unlike SimHash — whose
    * rung-2 cogroup pays a radius-3 ball expansion and only wins where
    * the join DIES — the pfp cogroup is the same radius-1 probe as the
    * join with strictly better plumbing, so there is no middle regime
    * to pin and no later survivability wall: the working set is O(N).
    * Pair set is bit-identical at every rung (pigeonhole-complete
    * candidates + the exact in-bucket hamming filter — spec-asserted,
    * and the forced-rung twin `multimodal_neardup_rung2` faces the
    * oracle).
    */
  def perceptualNearDup(frames: DataFrame): DataFrame = {
    val sigs = perceptualSignatures(frames).localCheckpoint()
    val spark = frames.sparkSession
    val n = sigs.count()
    if (n < pfpRung1N(Resources.payloadBudget(spark), Resources.scratchBudget(spark)))
      Dedup.bandedHammingPairs(sigs, "media_id", "pfp",
        PFP_BITS, PFP_MAX_HAMMING, PFP_BANDS, 0, ("m1", "m2"))
    else
      Dedup.mihPairsRung2(sigs, "media_id", "pfp",
        PFP_BITS, PFP_MAX_HAMMING, ("m1", "m2"))
  }

  /** The rung-2 cogroup kernel FORCED at gate scale against the same
    * oracle SQL as `multimodal_neardup` — the degree-schedule lesson
    * (round 12): never ship a dispatch whose operative regime no oracle
    * ever faces. [[Dedup.mihPairsRung2]] with the perceptual 2 × 28
    * geometry (maxH 3 → partition-ball radius 1).
    */
  def multimodalNeardupRung2(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.mihPairsRung2(
      perceptualSignatures(sliceFrames(Tables.documents(spark, sfDir)))
        .localCheckpoint(),
      "media_id", "pfp", PFP_BITS, PFP_MAX_HAMMING, ("m1", "m2"))

  /** Tokens per temporal slice for the stubbed frame fingerprints. */
  val SLICE_TOKENS = 16

  /** Frame fingerprints for the near-dup path — the TEMPORAL-SLICE stub
    * model: frame i's fingerprint hashes the i-th [[SLICE_TOKENS]]-token
    * slice of the normalized payload, so a clip that was re-encoded,
    * trimmed, or extended SHARES the slices it kept — the
    * partial-overlap structure perceptual dedup exists to catch. (The
    * checksum-derived fingerprints of [[multimodalFrames]] are
    * all-or-nothing by construction: any payload change rewrites every
    * frame, which models container metadata, not content.) Same
    * normalization as the exact-dedup fingerprint, so byte-identical
    * mirrors collapse to hamming 0. Narrow explode, ≤ tokens/16 rows per
    * media, no shuffle.
    */
  def sliceFrames(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id").as("media_id"),
        split(lower(trim(regexp_replace(col("text"), "\\s+", " "))), " ").as("toks"))
      .select(col("media_id"), col("toks"),
        explode(expr(s"sequence(1, greatest(1, size(toks) DIV $SLICE_TOKENS))"))
          .as("frame_no"))
      .select(col("media_id"),
        md5(expr(s"concat_ws(' ', slice(toks, (frame_no - 1) * $SLICE_TOKENS + 1, $SLICE_TOKENS))"))
          .as("frame_fp"))

  def multimodalNeardup(spark: SparkSession, sfDir: String): DataFrame =
    perceptualNearDup(sliceFrames(Tables.documents(spark, sfDir)))

  /** The oracle states the SEMANTICS (all pairs under the hamming
    * threshold — fine at oracle scale, exactly like
    * `dedup_simhash_pairs`); the banded plan above is the scale path and
    * pigeonhole-provably returns the same set. Signature CTEs replay the
    * same vote arithmetic bit for bit.
    */
  val multimodalNeardupSql: String = {
    val voteExprs = (0 until PFP_BITS)
      .map(b => s"sum((h >> $b) & 1) AS c$b")
      .mkString(",\n         ")
    val bitsExpr = (0 until PFP_BITS)
      .map(b => s"CASE WHEN c$b * 2 > cnt THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tk AS (
       |  SELECT doc_id AS media_id,
       |         string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |  FROM documents),
       |fr AS (
       |  SELECT media_id, toks,
       |         unnest(generate_series(1, greatest(1, len(toks) // $SLICE_TOKENS))) AS frame_no
       |  FROM tk),
       |h AS (
       |  SELECT media_id,
       |         CAST(('0x' || substr(
       |           md5(array_to_string(list_slice(toks,
       |             (frame_no - 1) * $SLICE_TOKENS + 1,
       |             (frame_no - 1) * $SLICE_TOKENS + $SLICE_TOKENS), ' ')),
       |           1, ${PFP_BITS / 4})) AS BIGINT) AS h
       |  FROM fr),
       |v AS (
       |  SELECT media_id, count(*) AS cnt,
       |         $voteExprs
       |  FROM h GROUP BY media_id),
       |sig AS MATERIALIZED (
       |  SELECT media_id, CAST($bitsExpr AS BIGINT) AS pfp FROM v)
       |SELECT a.media_id AS m1, b.media_id AS m2,
       |       CAST(bit_count(xor(a.pfp, b.pfp)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.pfp, b.pfp)) <= $PFP_MAX_HAMMING""".stripMargin
  }

  /** Caption-feature space for [[consistency]] (the embedding folds
    * 64 → 16 by index mod, so the two modalities score in one space). */
  val CONS_DIM = 16

  /** Cross-modal CONSISTENCY scoring — the CLIP-score filtering stage
    * beyond [[pairAudit]]'s structural gates: does this caption actually
    * DESCRIBE this media item, or is it boilerplate/mismatched alt-text?
    * Production computes cosine(text-encoder(caption),
    * image-encoder(media)); with no encoders in the sandbox the engine
    * keeps the exact plan and substitutes deterministic proxies — the
    * caption side a [[CONS_DIM]]-dim hashed bag-of-words (the
    * `text_dsir` md5-bucket idiom), the media side its paired embedding
    * folded 64 → 16 by index mod — so the score, the ranking, and the
    * gate are real and oracle-checked, and a real encoder swap changes
    * values, not plan shape. The absolute score is encoder-relative, so
    * the GATE is the contrastive margin against the pair's own FEED
    * (per-source mean score — LAION filters per-crawl for the same
    * reason): `inconsistent` = explains its media no better than its
    * feed's average caption.
    *
    * Scale shape: caption featurization is an array-side fold inside
    * the scan (zero shuffle); the fold is a projection; ONE equi-join
    * on the pair key (the join every pair table pays); feed stats are a
    * map-side-combined aggregation to ≤|sources| rows joined back by
    * BROADCAST — deliberately NOT a source-partitioned window, which
    * would serialize each feed onto one partition (a handful of crawls
    * × billions of pairs = stragglers). No pair space anywhere — the
    * contrastive baseline is the group mean, not sampled negatives,
    * exactly so the plan stays O(N).
    */
  /** The CLIP-score stage of [[consistency]] alone — (media_id, kind,
    * source, clip_score) for every pair with an embedding. Factored out
    * so the incremental assembly scores arrivals with the identical
    * projection and merges feed stats decomposably.
    */
  private[graft] def clipScored(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val folds = Dedup.EMB_DIM / CONS_DIM
    // The token's md5 bucket is computed ONCE per token (the inner
    // transform's input array), not once per (token, dim) — hoisting the
    // digest out of the per-dim lambda measured ~35% off the whole
    // consistency query (the digest was 16× the arithmetic around it).
    // Same bucket function, same long counts, bit-identical cap vector.
    val pairs = docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      col("source"),
      expr(s"""aggregate(
             |  transform(split(text, '\\\\s+'), t ->
             |    CAST(conv(substring(md5(t), 1, 4), 16, 10) AS BIGINT) % $CONS_DIM),
             |  array_repeat(0L, $CONS_DIM),
             |  (acc, b) -> transform(acc, (v, j) -> v + IF(b = j, 1L, 0L)))"""
        .stripMargin).as("cap"))
    val img = embeddings.select(
      col("vec_id").as("media_id"),
      expr(s"""transform(sequence(1, $CONS_DIM), j ->
             |  aggregate(sequence(0, ${folds - 1}), 0D,
             |    (a, k) -> a + CAST(element_at(embedding, j + $CONS_DIM * k) AS DOUBLE)))"""
        .stripMargin).as("img"))
    val dot = expr("aggregate(zip_with(cap, img, (c, v) -> c * v), 0D, (a, x) -> a + x)")
    val capN = sqrt(expr("aggregate(cap, 0D, (a, c) -> a + c * c)"))
    val imgN = sqrt(expr("aggregate(img, 0D, (a, v) -> a + v * v)"))
    pairs.join(img, Seq("media_id"))
      .withColumn("clip_score", round(dot / (capN * imgN), 6))
      .select(col("media_id"), col("kind"), col("source"), col("clip_score"))
  }

  def consistency(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    // `scored` feeds BOTH the feed-mean aggregate and the final join;
    // unmaterialized, Catalyst plans the whole featurization subtree
    // twice (two full doc scans + two featurization passes — the
    // before-plan shows the duplicated BroadcastHashJoin tree). One
    // localCheckpoint of the O(N)-narrow scored rows halves the heavy
    // work; at fleet scale it is the "decide on small rows" split — the
    // featurization runs once, the 4-column proxy is what's reused.
    val scored = clipScored(docs, embeddings).localCheckpoint()
    val feed = scored.groupBy(col("source"))
      .agg(avg(col("clip_score")).as("feed_avg"))
    scored.join(broadcast(feed), Seq("source"))
      // + 0.0 normalizes IEEE -0.0 (a just-below-mean score rounding to
      // zero) so both engines stringify the margin identically
      .withColumn("feed_margin",
        round(col("clip_score") - col("feed_avg"), 6) + lit(0.0))
      .select(col("media_id"), col("kind"), col("clip_score"),
        col("feed_margin"),
        when(col("feed_margin") < 0, "inconsistent").otherwise("kept").as("verdict"))
  }

  def multimodalConsistency(spark: SparkSession, sfDir: String): DataFrame =
    consistency(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir))

  val multimodalConsistencySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |cap AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % $CONS_DIM AS b,
       |         CAST(count(*) AS DOUBLE) AS c
       |  FROM toks GROUP BY 1, 2),
       |capn AS (SELECT doc_id, sqrt(sum(c * c)) AS cn FROM cap GROUP BY 1),
       |iu AS (
       |  SELECT vec_id, (generate_subscripts(embedding, 1) - 1) % $CONS_DIM AS b,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |img AS (SELECT vec_id, b, sum(x) AS v FROM iu GROUP BY 1, 2),
       |imgn AS (SELECT vec_id, sqrt(sum(v * v)) AS inorm FROM img GROUP BY 1),
       |dots AS (
       |  SELECT c.doc_id, sum(c.c * i.v) AS dot
       |  FROM cap c JOIN img i ON c.doc_id = i.vec_id AND c.b = i.b
       |  GROUP BY 1),
       |scored AS (
       |  SELECT d.doc_id AS media_id,
       |         CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |         d.source,
       |         round(t.dot / (capn.cn * imgn.inorm), 6) AS clip_score
       |  FROM documents d
       |  JOIN dots t ON d.doc_id = t.doc_id
       |  JOIN capn ON d.doc_id = capn.doc_id
       |  JOIN imgn ON d.doc_id = imgn.vec_id),
       |margined AS (
       |  SELECT media_id, kind, clip_score,
       |         round(clip_score - avg(clip_score) OVER (PARTITION BY source), 6)
       |           + 0.0 AS feed_margin
       |  FROM scored)
       |SELECT media_id, kind, clip_score, feed_margin,
       |       CASE WHEN feed_margin < 0 THEN 'inconsistent'
       |            ELSE 'kept' END AS verdict
       |FROM margined""".stripMargin

  /** END-TO-END multimodal corpus assembly audit — the `corpus_rejections`
    * pattern over the media table: one row per media item with the FIRST
    * stage of the full curation gauntlet that rejects it, in declared
    * order — the structural gates ([[pairAudit]]: `no_embedding` →
    * `tiny_image` → `short_caption` → `dup_pair`), then `perceptual_dup`
    * (the non-canonical side of a frame-fingerprint near-pair,
    * [[perceptualNearDup]] — min-id keeps its slot, same rule as the
    * checksum dedup), then `inconsistent` ([[consistency]]'s feed-margin
    * gate), else `kept`. Every stage is the SAME code path its
    * standalone query gates — audit and curation cannot drift — and the
    * oracle composes the three proven CTE blocks verbatim. Cheap gates
    * run first for the same reason corpus_assembly orders its stages:
    * at 100 TB the expensive stages (frame signatures, consistency
    * cosines) only matter for items the structural gates keep, and a
    * real deployment short-circuits them; the audit still reports the
    * FIRST verdict, so the declared order is the contract either way.
    * Plan: the three stage frames join back to the audit spine by the
    * media key — equi-joins only, no new pair space beyond the banded
    * near-dup the standalone query already bounds.
    */
  def multimodalAssembly(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val audit = pairAudit(docs, emb)
      .select(col("media_id"), col("kind"), col("verdict").as("gate_verdict"))
    val pdup = perceptualNearDup(sliceFrames(docs))
      .select(col("m2").as("media_id")).distinct()
      .withColumn("is_pdup", lit(true))
    val cons = consistency(docs, emb)
      .select(col("media_id"), col("verdict").as("cons_verdict"))
    audit
      .join(pdup, Seq("media_id"), "left")
      .join(cons, Seq("media_id"), "left")
      .select(col("media_id"), col("kind"),
        when(col("gate_verdict") =!= "kept", col("gate_verdict"))
          .when(col("is_pdup"), "perceptual_dup")
          .when(col("cons_verdict") === "inconsistent", "inconsistent")
          .otherwise("kept").as("verdict"))
  }

  val multimodalAssemblySql: String =
    s"""WITH aud AS (SELECT * FROM ($multimodalPairAuditSql)),
       |pd AS (SELECT DISTINCT m2 AS media_id FROM ($multimodalNeardupSql)),
       |cons AS (SELECT media_id, verdict AS cons_verdict
       |         FROM ($multimodalConsistencySql))
       |SELECT a.media_id, a.kind,
       |       CASE WHEN a.verdict <> 'kept' THEN a.verdict
       |            WHEN pd.media_id IS NOT NULL THEN 'perceptual_dup'
       |            WHEN cons.cons_verdict = 'inconsistent' THEN 'inconsistent'
       |            ELSE 'kept' END AS verdict
       |FROM aud a
       |LEFT JOIN pd ON a.media_id = pd.media_id
       |LEFT JOIN cons ON a.media_id = cons.media_id""".stripMargin

  // --------------------------------------------------------------------
  // Incremental assembly: arrivals vs STANDING state
  // --------------------------------------------------------------------

  /** Arrival decile: `doc_id % 10 >= ARRIVAL_DECILE` (two deciles — one
    * of each kind, since kind is id parity) arrive as the ingest batch;
    * the rest are the standing corpus.
    */
  val ARRIVAL_DECILE = 8

  /** Standing checksum index: per content checksum, the minimum standing
    * media id — the only state exact dedup needs to gate arrivals.
    */
  private[graft] def standingChecksumIdx(standing: DataFrame): DataFrame =
    standing
      .select(col("doc_id").as("media_id"), md5(col("text")).as("checksum"))
      .groupBy(col("checksum")).agg(min(col("media_id")).as("st_min_id"))

  /** Standing feed stats: per source, the decomposable (Σ clip_score,
    * count) of the standing scored pairs — merged with the batch's own
    * partial to reproduce the full-corpus feed mean exactly (mean is an
    * algebraic aggregate; this is the standard partial-merge).
    */
  private[graft] def standingFeedStats(standing: DataFrame,
      embeddings: DataFrame): DataFrame =
    clipScored(standing, embeddings)
      .groupBy(col("source"))
      .agg(sum(col("clip_score")).as("st_sum"),
        count(lit(1)).cast("long").as("st_cnt"))

  /** INCREMENTAL multimodal assembly — the production ingest shape the
    * batch [[multimodalAssembly]] gauntlet rehearses: an ARRIVAL batch
    * passes every gate against STANDING state instead of a full
    * recompute.
    *
    *  - structural gates are per-item projections (unchanged code);
    *  - `dup_pair` probes the standing checksum index (one
    *    (checksum, min_id) row per standing item — corpus-proportional,
    *    so the probe join carries NO broadcast hint; AQE broadcasts it
    *    while small and shuffles on checksum once it isn't) plus a
    *    within-batch window — an arrival is a dup iff a smaller-id
    *    holder of its checksum exists anywhere, which is exactly the
    *    batch rank rule decomposed;
    *  - `perceptual_dup` joins the arrival batch's signature bands
    *    against the STANDING band index (plus the batch's own
    *    self-join) — same pigeonhole-exact geometry, candidate fan-out
    *    bounded by bucket occupancy, and the standing side's frames are
    *    never re-fingerprinted. The index's band geometry is pinned at
    *    FIT time (like the graph index's construction degree): past
    *    [[pfpRung1N]] standing items a deployment re-bands the
    *    standing index at the wider rung and the arrival probe expands
    *    by the matching radius — a rebuild-cadence decision, not a
    *    per-batch one;
    *  - `inconsistent` merges the standing per-source (Σ, n) with the
    *    batch's own partial to the full-corpus feed mean, then applies
    *    the identical margin gate.
    *
    * Result ≡ the batch gauntlet restricted to arrivals (the oracle
    * states exactly that), at per-batch cost O(|batch| + matches) —
    * never a standing-corpus rescan. The three state frames are what a
    * deployment persists between batches ([[FitStore]]-kept in the
    * gated query).
    */
  /** Standing checksum probe + within-batch dup rank for the incremental
    * assembly path. The checksum index is one (checksum, st_min_id) row
    * per distinct standing media item — corpus-proportional — so this
    * join must NEVER carry a static broadcast hint (the hint inverts at
    * exactly the scale the incremental path exists for). AQE sizes it:
    * broadcast while small, shuffle on checksum once it isn't. PlanSpec
    * guards the hint-free shape on this method's own plan.
    */
  private[graft] def standingDupRank(pairs: DataFrame,
      checksumIdx: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wck = Window.partitionBy(col("checksum")).orderBy(col("media_id"))
    pairs
      .join(checksumIdx, Seq("checksum"), "left")
      .withColumn("batch_rn", row_number().over(wck))
  }

  def assemblyIncremental(docs: DataFrame, embeddings: DataFrame,
      isArrival: Column, checksumIdx: DataFrame, bandIdx: DataFrame,
      feedStats: DataFrame): DataFrame =
    // finishAssembly references its flags twice (per-source partials +
    // the join back); the one-shot path's flags are the WHOLE gauntlet
    // (structural gates, standing probes, clip scoring), so checkpoint
    // the O(|arrivals|)-row flag frame once instead of running the
    // gauntlet twice. The streaming drain already hands finishAssembly
    // a materialized parquet read, so the checkpoint lives HERE, not in
    // finishAssembly.
    finishAssembly(
      gauntletFlags(docs.filter(isArrival), embeddings, checksumIdx, bandIdx)
        .localCheckpoint(),
      feedStats)

  /** The batch-decomposition-INVARIANT half of the incremental gauntlet:
    * structural gates, the checksum dup rank vs the supplied index plus
    * the within-batch window, the perceptual probe vs the supplied band
    * index plus the within-batch self-join, and the raw clip score —
    * everything EXCEPT the feed-mean margin, which is an end-of-window
    * statistic and is applied by [[finishAssembly]]. One row per arrival:
    * (media_id, kind, source, gate_verdict, is_pdup, clip_score). The
    * streaming replay emits exactly these rows per micro-batch (the
    * supplied indexes then also carry the earlier arrivals).
    */
  private[graft] def gauntletFlags(arrivals: DataFrame, embeddings: DataFrame,
      checksumIdx: DataFrame, bandIdx: DataFrame): DataFrame = {
    // structural gates + standing-aware dup rank
    val len = octet_length(col("text")).cast("long")
    val pairs = arrivals.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
      col("source"),
      md5(col("text")).as("checksum"),
      (len % 640 + 1).cast("int").as("width"),
      (len % 480 + 1).cast("int").as("height"),
      size(split(col("text"), "\\s+")).cast("long").as("n_words"))
    val embP = embeddings.select(col("vec_id").as("media_id"), lit(1).as("has_vec"))
    val structural = standingDupRank(pairs.join(embP, Seq("media_id"), "left"),
        checksumIdx)
      .select(col("media_id"), col("kind"), col("source"),
        when(col("has_vec").isNull, "no_embedding")
          .when(least(col("width"), col("height")) < PAIR_MIN_SIDE, "tiny_image")
          .when(col("n_words") < PAIR_MIN_WORDS, "short_caption")
          .when((col("st_min_id").isNotNull
              && col("st_min_id") < col("media_id")) || col("batch_rn") > 1,
            "dup_pair")
          .otherwise("kept").as("gate_verdict"))
    // perceptual: arrival bands vs standing index, plus within-batch
    val arrBands = signatureBands(sliceFrames(arrivals)).localCheckpoint()
    val ham = (a: Column, b: Column) => bit_count(a.bitwiseXOR(b))
    val vsStanding = arrBands.as("a")
      .join(bandIdx.as("s"),
        col("a.band_no") === col("s.band_no")
          && col("a.band_val") === col("s.band_val"))
      .filter(col("s.media_id") < col("a.media_id")
        && ham(col("a.pfp"), col("s.pfp")) <= PFP_MAX_HAMMING)
      .select(col("a.media_id").as("media_id"))
    val vsBatch = arrBands.as("x")
      .join(arrBands.as("y"),
        col("x.band_no") === col("y.band_no")
          && col("x.band_val") === col("y.band_val"))
      .filter(col("y.media_id") < col("x.media_id")
        && ham(col("x.pfp"), col("y.pfp")) <= PFP_MAX_HAMMING)
      .select(col("x.media_id").as("media_id"))
    val pdup = vsStanding.unionByName(vsBatch).distinct()
      .withColumn("is_pdup", lit(true))
    structural
      .join(pdup, Seq("media_id"), "left")
      .join(clipScored(arrivals, embeddings)
        .select(col("media_id"), col("clip_score")), Seq("media_id"), "left")
  }

  /** The end-of-window half: merge the flags' own per-source score
    * partials with the standing feed stats to the exact full-corpus feed
    * mean, apply the margin gate, and compose the verdict precedence —
    * shared verbatim by the one-shot incremental and the streaming
    * drain, so the two cannot drift.
    */
  private[graft] def finishAssembly(flags: DataFrame,
      feedStats: DataFrame): DataFrame = {
    val merged = flags.filter(col("clip_score").isNotNull)
      .groupBy(col("source"))
      .agg(sum(col("clip_score")).as("b_sum"),
        count(lit(1)).cast("long").as("b_cnt"))
      .join(feedStats, Seq("source"), "left")
      .select(col("source"),
        ((coalesce(col("st_sum"), lit(0.0)) + col("b_sum"))
          / (coalesce(col("st_cnt"), lit(0L)) + col("b_cnt")).cast("double"))
          .as("feed_avg"))
    flags
      .join(broadcast(merged), Seq("source"), "left")
      .withColumn("feed_margin",
        round(col("clip_score") - col("feed_avg"), 6) + lit(0.0))
      .select(col("media_id"), col("kind"),
        when(col("gate_verdict") =!= "kept", col("gate_verdict"))
          .when(col("is_pdup"), "perceptual_dup")
          .when(col("feed_margin") < 0, "inconsistent")
          .otherwise("kept").as("verdict"))
  }

  /** The gated incremental assembly: last-two-decile arrivals pass the
    * gauntlet against FitStore-persisted standing state (checksum index,
    * perceptual band index, feed stats — a serving session loads all
    * three and pays only the batch's own cost). Oracle = the batch
    * gauntlet restricted to the arrival set.
    */
  def multimodalAssemblyIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val isArr = col("doc_id") % 10 >= ARRIVAL_DECILE
    val (ck, bi, fs) = sharedStandingState(spark, sfDir)
    assemblyIncremental(docs, emb, isArr, ck, bi, fs)
  }

  /** The three FitStore-persisted standing frames the incremental AND
    * streaming ingest paths probe: checksum index, perceptual band
    * index, per-source feed (Σ, n) partials.
    */
  private[graft] def sharedStandingState(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val (ck, bi, fsJ) = sharedStandingStateAsync(spark, sfDir)
    (ck, bi, fsJ())
  }

  /** [[sharedStandingState]] split by WHEN each artifact is consumed:
    * the two the gauntlet probes per batch (checksum index, band index)
    * returned built, and the feed stats — read only by the END-OF-WINDOW
    * [[finishAssembly]] — returned as a JOIN handle on an async build,
    * so the streaming replay starts as soon as the per-batch state is
    * ready and the drain-only fit builds while the stream runs (guide
    * §2.6). Same memo keys, same frames; only the join point moves.
    * The caller joins or cancels the returned handle.
    */
  private[graft] def sharedStandingStateAsync(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, Overlap.Handle[DataFrame]) = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val standing = docs.filter(!(col("doc_id") % 10 >= ARRIVAL_DECILE))
    // lazy: FitStore.frame takes the fingerprint by-name so a session
    // with no store root never pays the fingerprint scan — an eager val
    // here was spending one agg job per cold call for nothing
    lazy val fp = FitStore.documentsFp(spark, sfDir, None)
    // the three standing builds are mutually independent; overlap their
    // checkpoint jobs so each one's straggler tail back-fills the cores
    // (guide §2.6 shape — distinct memo keys, benign-concurrent memo;
    // bounded dedicated pool per the round-15 verdict, Overlap.scala)
    // drain-only feed stats first — its handle outlives this call
    val late = Overlap.begin(Seq(
      () => SharedFits.memo(spark, s"mm_feed_stats:$sfDir") {
        FitStore.frame(spark, s"mm_feed_stats_d$ARRIVAL_DECILE", fp) {
          standingFeedStats(standing, emb)
        }.localCheckpoint()
      }), cap = 1)
    val r = try Overlap.all(Seq(
      () => SharedFits.memo(spark, s"mm_checksum_idx:$sfDir") {
        FitStore.frame(spark, s"mm_checksum_idx_d$ARRIVAL_DECILE", fp) {
          standingChecksumIdx(standing)
        }.localCheckpoint()
      },
      () => SharedFits.memo(spark, s"mm_band_idx:$sfDir") {
        FitStore.frame(spark, s"mm_band_idx_d$ARRIVAL_DECILE", fp) {
          signatureBands(sliceFrames(standing))
        }.localCheckpoint()
      }), Overlap.DEFAULT_CAP)
    catch { case e: Throwable => late(0).cancel(); throw e }
    (r(0), r(1), late(0))
  }

  val multimodalAssemblyIncrementalSql: String =
    s"""SELECT media_id, kind, verdict FROM ($multimodalAssemblySql) f
       |WHERE media_id % 10 >= $ARRIVAL_DECILE""".stripMargin

  /** A sampled, resize-planned frame from the typed decoder path. */
  case class FrameRow(media_id: Long, kind: String, frame_no: Long,
      out_w: Int, out_h: Int, frame_fp: String)

  /** The typed twin of [[multimodalFrames]]: frame sampling + resize
    * planning as a `flatMap` over decoded features — where a real decoder
    * would emit actual frame tensors, batched per partition. Asserted
    * row-identical to the relational query in the spec.
    */
  def sampleFrames(features: Dataset[MediaFeatures]): Dataset[FrameRow] = {
    import features.sparkSession.implicits._
    features.flatMap { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val (ow, oh) =
        if (f.width >= f.height) (FRAME_TARGET, f.height * FRAME_TARGET / f.width)
        else (f.width * FRAME_TARGET / f.height, FRAME_TARGET)
      (1 to f.n_frames by FRAME_STRIDE).map { fn =>
        val fp = md.digest(s"${f.checksum}:$fn".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        md.reset()
        FrameRow(f.media_id, f.kind, fn.toLong, ow, oh, fp)
      }
    }
  }
}
