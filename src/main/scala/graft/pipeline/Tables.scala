package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture readers + the derived views shared by every pipeline operator.
  *
  * Role mapping (see /root/repo/FIXTURES.md §C): the driver's `events` table
  * plays the reference's `*transactiondatas` collections
  * (/root/reference/updatescript.py:59,84): `_id`←event_id, `createdAt`←ts,
  * `stashId`←user_id, `stake`←value, `alreadyBonded`←props.k,
  * `successful`←(event_type <> 'error'); the two chains (polkadot/kusama)
  * are the event_id parity split. The daily price dim
  * (`dotPriceInUSD`/`ksmPriceInUSD` role, updatescript.py:43,52) is the
  * per-(chain, day) average of `value`.
  *
  * All operators take (SparkSession, sfDir) and return a pure DataFrame so
  * the driver's DuckDB oracle can replay them (SURVEY.md §5.2).
  */
object Tables {

  /** Fixed watermark standing in for the reference's `lastUpdated` singleton
    * (updatescript.py:223). Fixed rather than now() for determinism
    * (SURVEY.md §7.5.3). Events span 2024-01-01..2024-01-30.
    */
  val WM = "2024-01-10 00:00:00"

  /** Fixed "current_time" (updatescript.py:224) for determinism. */
  val ASOF_DATE = "2024-01-30"

  def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  /** Scale-conditional input spread. A parquet input with fewer files than
    * the session has cores starts every consumer single-threaded: Spark
    * splits files by byte ranges, but a file with ONE row group yields one
    * non-empty split no matter how it is cut — and the driver fixtures are
    * exactly that (one file, one row group per table at every SF).
    *
    * NOT applied at the readers: A/B at sf0.1 showed a global spread wins
    * only where a corpus-wide explode-aggregate runs inside the scan
    * stage (text_dsir fit: 4.6 s → 1.0 s) and costs +0.3–0.8 s everywhere
    * else — most plans shuffle immediately after the scan, so the extra
    * exchange is pure overhead. Consumers whose FIRST stage is a heavy
    * explode therefore opt in explicitly (the DSIR fit).
    *
    * The spread hash-repartitions on the table's key — deterministic
    * placement, independent of input row order — to the session's
    * parallelism, and ONLY when the file count is well below it: at
    * production scale (thousands of files) the condition is false and the
    * spread vanishes from the plan. `spark.graft.spreadSmallScans=false`
    * disables it for plan inspection.
    */
  private[graft] def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    if (!spark.conf.get("spark.graft.spreadSmallScans", "true").toBoolean) df
    else {
      val target = spark.sparkContext.defaultParallelism
      val nFiles = df.inputFiles.length
      if (nFiles == 0 || nFiles * 2 > target) df
      else df.repartition(target, key)
    }
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    * natively (PARQUET_TYPE_ILLEGAL). Read it as a nanos long and floor-divide
    * to microseconds — exactly DuckDB's ns→us truncation, so both engines see
    * identical timestamps. Integer `div`, not `/`: a double round-trip would
    * lose precision at 1.7e18 ns. The conf is session-global, so it is
    * written only while unset: concurrent readers never write it.
    */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.get(nanosAsLong, "false") != "true") spark.conf.set(nanosAsLong, "true")
    read(spark, sfDir, "events")
  }

  private def tsIsRawNanos(df: DataFrame): Boolean =
    df.schema("ts").dataType == org.apache.spark.sql.types.LongType

  private def tsIsNtz(df: DataFrame): Boolean =
    df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType

  /** The fixture has shipped `ts` as three parquet vintages: TIMESTAMP(NANOS)
    * (read as a raw long under nanosAsLong), TIMESTAMP(MICROS) without
    * UTC-adjustment (read as TIMESTAMP_NTZ), and plain TIMESTAMP. Every
    * consumer downstream (`unix_micros`, window ranges, as-of buckets)
    * expects session-zone TIMESTAMP, so normalize here, once. The NTZ→ltz
    * cast is value-identical under the pinned UTC session and costs nothing
    * at scan time (a no-op reinterpretation, not a per-row conversion).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventsTs(eventsRaw(spark, sfDir))

  /** The vintage normalization, factored so it applies to BATCH and
    * STREAMING frames alike (the schema checks see the same struct either
    * way).
    */
  private def normalizeEventsTs(df: DataFrame): DataFrame =
    if (tsIsRawNanos(df)) df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (tsIsNtz(df)) df.withColumn("ts", col("ts").cast("timestamp"))
    else df

  /** File-source reader for the *Stream table views, with the replay
    * batching knob: `SPARK_GRAFT_MAX_FILES_PER_TRIGGER` caps the files
    * per micro-batch, so a multi-part rehearsal corpus replays as MANY
    * micro-batches instead of one `AvailableNow` gulp — the shape the
    * accumulated-index write-amplification A/B needs (SCALING.md r15),
    * and the shape production has anyway (a trigger cadence bounds each
    * batch). Unset (the gate), the source's default single-batch drain
    * stands — batch-decomposition-invariant emission makes the knob
    * result-neutral BY CONTRACT, and the rehearsal A/B re-proves it.
    */
  private def streamRead(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, path: String): DataFrame = {
    val r = spark.readStream.schema(schema)
    sys.env.get("SPARK_GRAFT_MAX_FILES_PER_TRIGGER")
      .fold(r)(v => r.option("maxFilesPerTrigger", v))
      .parquet(path)
  }

  /** The events table as a FILE STREAM (the replay shape: same parquet,
    * arriving through Structured Streaming's file source) with the same
    * three-vintage ts normalization as [[events]]. The batch read probes
    * the vintage (file sources need an explicit schema); the streaming
    * scan then reads the same files with it.
    */
  private[graft] def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = eventsRaw(spark, sfDir).schema
    // brace-glob: the fixture ships events.parquet as a single FILE, and
    // the file source rejects a non-directory basePath — a glob keeps the
    // parent dir as base and matches file and directory layouts alike
    normalizeEventsTs(
      streamRead(spark, schema, s"$sfDir/{events.parquet}"))
  }

  /** Events with `ts > wm` — the incremental batch (see [[eventsCut]]). */
  def eventsSince(spark: SparkSession, sfDir: String, wm: String): DataFrame =
    eventsCut(spark, sfDir, wm, after = true)

  /** The complement slice: events with `ts <= wm` — the HISTORY side of an
    * incremental rollup (the rows a materialized view has already
    * absorbed).
    */
  def eventsUntil(spark: SparkSession, sfDir: String, wm: String): DataFrame =
    eventsCut(spark, sfDir, wm, after = false)

  /** One side of the watermark, with the predicate applied to the RAW
    * column in its own vintage's space *before* the normalization.
    * `timestamp_micros(ts div 1000) > wm` is an expression over the
    * column, which Parquet cannot push — at 100 TB that is a full scan.
    * A plain literal comparison pushes down and row-group min/max stats
    * skip everything on the far side of the watermark, which is the
    * entire point of incremental processing. Raw nanos:
    * floor(ns/1000) > wm_µs  ⇔  ns > wm_µs*1000 + 999 (and `<=` likewise).
    * NTZ: the wall clock, which under the pinned UTC session equals the
    * instant.
    */
  private def eventsCut(spark: SparkSession, sfDir: String, wm: String,
      after: Boolean): DataFrame = {
    val df = eventsRaw(spark, sfDir)
    val wmTs = java.sql.Timestamp.valueOf(wm)
    val bound = // the watermark is whole seconds: no sub-ms part to carry
      if (tsIsRawNanos(df)) lit(wmTs.getTime * 1000L * 1000L + 999L)
      else if (tsIsNtz(df)) lit(wmTs).cast("timestamp_ntz")
      else lit(wmTs)
    normalizeEventsTs(df.filter(if (after) col("ts") > bound else col("ts") <= bound))
  }

  /** The documents table as a FILE STREAM — the replay shape for the
    * text-family streaming twins (same brace-glob trick as
    * [[eventsStream]]; documents has no vintage hazard).
    */
  private[graft] def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = read(spark, sfDir, "documents").schema
    streamRead(spark, schema, s"$sfDir/{documents.parquet}")
  }

  /** The embeddings table as a FILE STREAM — the replay shape for the
    * vector-family streaming twins (ivf assign, drift monitor): same
    * brace-glob trick as [[eventsStream]]; embeddings has no vintage
    * hazard.
    */
  private[graft] def embeddingsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = read(spark, sfDir, "embeddings").schema
    streamRead(spark, schema, s"$sfDir/{embeddings.parquet}")
  }

  /** The customer dim as a FILE STREAM — the replay shape for the
    * privacy streaming audit; same brace-glob trick, no vintage hazard.
    */
  private[graft] def customerStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = read(spark, sfDir, "customer").schema
    streamRead(spark, schema, s"$sfDir/{customer.parquet}")
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")

  /** Regex that pulls `k` out of the props JSON ('{"k": 87}'). Used instead
    * of get_json_object so the DuckDB oracle can use the identical
    * `regexp_extract` (the JSON extension may not be loadable offline).
    */
  val PROPS_K_RE = "\"k\"\\s*:\\s*(-?\\d+(?:\\.\\d+)?)"

  /** The transaction view: events recast in the reference's schema
    * (FIXTURES.md §A.1). Filter/column pruning push through this projection
    * down to the parquet scan.
    *
    * `alreadyBonded` equals `stake` exactly when props.k ≡ 0 (mod 3), so the
    * reference's three routing branches (stake = / > / < alreadyBonded,
    * updatescript.py:164-178) all fire on real rows; a raw random double
    * would never equal the integer k and the equal-stake branch would be
    * dead in every test.
    */
  def txFrom(ev: DataFrame): DataFrame = {
    val k = regexp_extract(col("props"), PROPS_K_RE, 1)
    ev.select(
      col("event_id").as("_id"),
      col("ts").as("createdAt"),
      col("user_id").as("stashId"),
      col("value").as("stake"),
      when(k.cast("long") % 3 === 0, col("value"))
        .otherwise(k.cast("double")).as("alreadyBonded"),
      (col("event_type") =!= "error").as("successful"),
      (col("event_id") % 2).as("chain"))
  }

  def tx(spark: SparkSession, sfDir: String): DataFrame =
    txFrom(events(spark, sfDir))

  /** Incremental tx scan: watermark filter pushed to the parquet scan
    * (see [[eventsSince]]).
    */
  def txSince(spark: SparkSession, sfDir: String, wm: String): DataFrame =
    txFrom(eventsSince(spark, sfDir, wm))

  /** Daily price dimension, one row per (chain, day) — the
    * `dotPriceInUSD`/`ksmPriceInUSD` role (updatescript.py:43,52).
    * ~1 row/day/chain: always broadcastable, at 100 TB too.
    * round(.,6) pins the float so Spark partial-agg ordering and the
    * DuckDB oracle agree bit-for-bit downstream.
    */
  def dailyPrice(spark: SparkSession, sfDir: String): DataFrame =
    tx(spark, sfDir)
      .groupBy(col("chain"), to_date(col("createdAt")).as("price_date"))
      .agg(round(avg(col("stake")), 6).as("price"))

  // ---- Oracle SQL fragments (DuckDB dialect; driver registers the parquet
  // ---- files as views named events/lineitem/... ) ----

  val TX_CTE: String =
    """tx AS (
      |  SELECT event_id AS _id, ts AS createdAt, user_id AS stashId, value AS stake,
      |         CASE WHEN CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+(?:\.\d+)?)', 1) AS BIGINT) % 3 = 0
      |              THEN value
      |              ELSE CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+(?:\.\d+)?)', 1) AS DOUBLE) END AS alreadyBonded,
      |         event_type <> 'error' AS successful, event_id % 2 AS chain
      |  FROM events)""".stripMargin

  val PRICE_CTE: String =
    """price AS (
      |  SELECT chain, CAST(createdAt AS DATE) AS price_date, round(avg(stake), 6) AS price
      |  FROM tx GROUP BY 1, 2)""".stripMargin

  /** Tokenized documents (doc_id, i (1-based), tok) — shared by the text and
    * dedup operators. Matches `string_split_regex(text,'\s+')` +
    * `generate_subscripts` on the DuckDB side.
    */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), "\\s+")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("tok"))

  val TOK_CTE: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok,
      |         generate_subscripts(string_split_regex(text, '\s+'), 1) AS i
      |  FROM documents)""".stripMargin

  /** Distinct word 3-gram shingles per document — the MinHash/Jaccard unit.
    * Built array-side with a higher-order `transform` (a narrow, codegen'd
    * map over each row) rather than a positional self-join: zero shuffles
    * until the consumer aggregates, which is what survives 100 TB. The
    * DuckDB oracle uses an equivalent positional self-join formulation.
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"""
          .stripMargin)).as("shingle"))
      .distinct()

  val SHINGLE_CTE: String =
    """sh AS (
      |  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      |  FROM tok a
      |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2)""".stripMargin

  /** Adjacent-token (prev, cur) pairs per document — the bigram unit
    * shared by the LM scorers, built array-side like [[shingles]].
    */
  def bigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS prev, element_at(toks, i + 1) AS cur))"""
          .stripMargin)).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))

  /** Raw (multiplicity-preserving) word 3-gram shingles — the repetition
    * statistics unit: a doc repeating one phrase must count it every time.
    */
  def rawShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"""
          .stripMargin)).as("shingle"))

  val SHINGLE_RAW_CTE: String =
    """shr AS (
      |  SELECT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
      |  FROM tok a
      |  JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN tok c ON a.doc_id = c.doc_id AND c.i = a.i + 2)""".stripMargin
}
