package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vecDot
import graft.pipeline.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, dim 64). The full production ladder:
  *
  *  - [[simsearchTopk]]: brute-force cosine top-k — the exact baseline.
  *    Queries are broadcast; candidates stream; the per-pair work is the
  *    fused codegen'd `vec_dot`, no UDF.
  *  - [[simsearchIvf]]: IVF with a GIVEN partition label as the coarse
  *    quantizer cell — each query scans ≈ 1/nlist of the corpus.
  *  - [[simsearchIvfKmeans]]: the quantizer computed IN-ENGINE — a
  *    deterministic spherical k-means ([[kmeansFit]]).
  *  - [[simsearchIvfProbe]]: multi-probe search over the k-means cells —
  *    the recall/latency dial of real IVF indexes.
  *  - [[simsearchRecall]]: recall@k of the probe sweep vs brute force —
  *    ANN quality as a measured number.
  *  - [[simsearchSq]] / [[simsearchIvfSq]]: int8 scalar quantization,
  *    flat and composed with IVF (the FAISS IVF-SQ shape) — exact
  *    integer ranking on the codes, no float hazard.
  *
  * Dot products fold left-to-right over the array in both engines; the
  * residual reorder noise (≤1e-15) is pinned by round(.,6), and ranking
  * happens on the rounded score with an id tie-break, so Spark and DuckDB
  * rank identically.
  */
object Similarity {

  /** Adds the L2 norm `nm` to an embeddings frame — computed once per
    * vector, before any join fans rows out.
    */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nm",
      sqrt(vecDot(col("embedding"), col("embedding"))))

  /** DuckDB twins: positional unnest + per-vector norms. */
  val UNNEST_CTE: String =
    """u AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings)""".stripMargin

  val NORM_CTE: String =
    """nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nm FROM u GROUP BY 1)""".stripMargin

  val N_QUERIES = 8
  val TOP_K = 5
  val IVF_TOP_K = 3

  /** Brute-force cosine top-k of `emb` against the query rows selected by
    * `isQuery`, k per query.
    */
  def bruteForceTopk(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val base = withNorm(emb)
    val queries = base.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"), col("nm").as("nq"))
    val cands = base.select(col("vec_id").as("n_id"), col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cands.join(broadcast(queries), col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rnk"))
  }

  def simsearchTopk(spark: SparkSession, sfDir: String): DataFrame =
    bruteForceTopk(Tables.embeddings(spark, sfDir), col("vec_id") < N_QUERIES, TOP_K)

  val simsearchTopkSql: String =
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT d.q_id, d.n_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.n_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cosine DESC, n_id) AS rnk
       |  FROM cos)
       |SELECT q_id, n_id, cosine, rnk FROM ranked WHERE rnk <= $TOP_K""".stripMargin

  /** IVF-bucketed ANN: restrict each query's scan to its own coarse cell
    * (here the `label` column). Same top-k machinery, 1/nlist the work.
    */
  def ivfTopk(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val base = withNorm(emb)
    val queries = base.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("label"),
        col("embedding").as("eq"), col("nm").as("nq"))
    val cands = base.select(col("vec_id").as("n_id"), col("label"),
      col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cands.join(broadcast(queries), Seq("label"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("label"), col("n_id"), col("cosine"), col("rnk"))
  }

  def simsearchIvf(spark: SparkSession, sfDir: String): DataFrame =
    ivfTopk(Tables.embeddings(spark, sfDir), col("vec_id") < N_QUERIES, IVF_TOP_K)

  /** In-engine coarse quantizer: spherical k-means over the embedding
    * corpus. Deterministic throughout — seeds are the first
    * [[KMEANS_K]] vectors, assignment ranks on round(cosine, 6) with a
    * cell-id tie-break, and recomputed centroid components are
    * round-pinned then narrowed to float so both engines carry identical
    * centroid bits into the next round.
    *
    * Iteration shape: the K centroids are MODEL STATE, not data —
    * K·dim floats (2 KB here; a production nlist=65536 × dim=768 index
    * is still ~200 MB) — so each Lloyd round collects them to the
    * driver and re-enters the next round as constant arrays, exactly
    * how Spark MLlib's KMeans iterates. That makes assignment a
    * ZERO-SHUFFLE codegen projection (`vec_dot` against centroid
    * literals, argmin via `least` over K structs) and each round one
    * aggregation job over (cell, pos) — no per-round checkpoint, no
    * N×K row blowup, no growing lineage. The corpus never moves to the
    * driver; only the K×dim component averages do.
    */
  val KMEANS_K = 8
  val KMEANS_ITERS = 2

  /** Driver-side centroid: id, round-pinned float components, L2 norm. */
  private type Cent = (Long, Seq[Float], Double)

  /** The cell of `embedding` under constant centroids: argmax of
    * round(cosine, 6) with a min-cell tie-break, computed as the `least`
    * of K (−cos, cell) structs — the same pick as a row_number window
    * (max rounded cosine, then min cell) with no join and no shuffle.
    */
  private def assignCol(cents: Seq[Cent]): Column = {
    val scored = cents.map { case (cell, carr, cnorm) =>
      val cos = round(
        vecDot(col("embedding"), typedLit(carr)) / (col("nm") * lit(cnorm)), 6)
      struct((-cos).as("nc"), lit(cell).as("cell"))
    }
    least(scored: _*).getField("cell")
  }

  /** One Lloyd round: assign (zero-shuffle projection) + per-(cell, pos)
    * component averages (one hash aggregation), K·dim rows collected to
    * the driver. Norms fold left in double over pos order — bit-identical
    * to [[withNorm]]'s self-dot over the same float array. Cells that lose all
    * members disappear, matching the SQL group-by.
    */
  private def lloydRound(base: DataFrame, cents: Seq[Cent]): Seq[Cent] = {
    val comp = base.withColumn("cell", assignCol(cents))
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).cast("float").as("v"))
      .collect()
    comp.groupBy(_.getLong(0)).toSeq.map { case (cell, rows) =>
      val arr: Seq[Float] = rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq
      val nsq = arr.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      (cell, arr, math.sqrt(nsq))
    }.sortBy(_._1)
  }

  /** The fitted model: final centroids after `iters` Lloyd rounds from
    * the first-`k`-vectors seed. `base` must carry (vec_id, embedding,
    * nm) and should be checkpointed by the caller (it is scanned once
    * per round). `seedPred` picks the seed rows (the first `k` vec_ids,
    * or a wider predicate when `base` is a slice whose ids are not dense
    * from 0) — cell ids are always the seed vec_ids.
    */
  private def kmeansModel(base: DataFrame, k: Int, iters: Int,
      seedPred: Column): Seq[Cent] = {
    val seeds: Seq[Cent] = base
      .filter(seedPred)
      .select(col("vec_id").cast("long"), col("embedding"), col("nm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .toSeq.sortBy(_._1)
    (0 until iters).foldLeft(seeds)((cents, _) => lloydRound(base, cents))
  }

  private def centsDf(base: DataFrame, cents: Seq[Cent]): DataFrame =
    base.sparkSession.createDataFrame(cents).toDF("cell", "carr", "cnorm")

  /** The session's corpus coarse quantizer — the standard ([[KMEANS_K]],
    * [[KMEANS_ITERS]]) full-corpus fit shared by the whole IVF query
    * family (kmeans/probe/recall/SQ/filtered/quality/diverse), memoized
    * per session ([[SharedFits]]) and persisted per corpus ([[FitStore]],
    * artifact `kmeans_centroids`): six queries previously each re-ran the
    * Lloyd rounds' corpus scans to land on the identical K·dim floats.
    * Deterministic throughout (round-pinned float components), so memo
    * and store hits are bit-identical to a fresh fit — a production index
    * fits once per corpus and every later session loads ~2 KB.
    */
  private def corpusModel(spark: SparkSession, sfDir: String,
      base: DataFrame): Seq[Cent] =
    SharedFits.memo(spark, s"kmeans_model:$sfDir") {
      FitStore.frame(spark, "kmeans_centroids",
        FitStore.embeddingsFp(spark, sfDir, None)) {
        centsDf(base, kmeansModel(base, KMEANS_K, KMEANS_ITERS, col("vec_id") < KMEANS_K))
      }.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        .sortBy(_._1)
    }

  /** The corpus quantizer's (vec_id, cell) assignment — a zero-shuffle
    * projection of `base` against the shared model.
    */
  private def corpusCells(spark: SparkSession, sfDir: String,
      base: DataFrame): DataFrame =
    base.select(col("vec_id"),
      assignCol(corpusModel(spark, sfDir, base)).as("cell"))

  /** Fitted quantizer: final centroids (cell, carr, cnorm) and the
    * (vec_id, cell) assignment after `iters` Lloyd rounds; `base` must
    * carry (vec_id, embedding, nm). Seeds are the first `k` vectors.
    * The assignment frame is a zero-shuffle projection of `base`.
    */
  def kmeansFit(base: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    val model = kmeansModel(base, k, iters, col("vec_id") < k)
    (centsDf(base, model),
      base.select(col("vec_id"), assignCol(model).as("cell")))
  }

  /** (vec_id, cell) after [[KMEANS_ITERS]] Lloyd rounds + final assign. */
  def kmeansCells(base: DataFrame): DataFrame = kmeansFit(base, KMEANS_K, KMEANS_ITERS)._2

  /** Fit the quantizer on a STATIC corpus and return the assignment
    * Column for ANY frame carrying (embedding, nm) — including a
    * streaming one: the model is K·dim driver-held constants, so
    * assignment is a stateless codegen projection that Structured
    * Streaming runs unchanged per micro-batch (the index-ingest path:
    * vectors arrive, the fitted coarse quantizer routes them to cells).
    */
  def cellAssigner(corpusEmb: DataFrame): Column = {
    val base = withNorm(corpusEmb).localCheckpoint()
    assignCol(kmeansModel(base, KMEANS_K, KMEANS_ITERS, col("vec_id") < KMEANS_K))
  }

  /** [[cellAssigner]] against the SESSION-SHARED corpus quantizer
    * ([[corpusModel]]: SharedFits-memoized, FitStore-persisted) — the
    * serving form the oracle-gated `ivf_assign_stream` replay uses:
    * in production the coarse quantizer is fitted once per corpus and
    * every ingest session loads ~2 KB instead of re-running the Lloyd
    * rounds. Bit-identical to a fresh [[cellAssigner]] fit (the model
    * is deterministic and round-pinned).
    */
  def sharedCellAssigner(spark: SparkSession, sfDir: String): Column = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    assignCol(corpusModel(spark, sfDir, base))
  }

  /** (cell, cos) scorer columns against the SESSION-SHARED prior-half
    * drift quantizer ([[sharedPriorHalfModel]]) — the serving form of
    * [[driftScorerCols]] for the oracle-gated `index_drift_stream`
    * replay: the standing index is the even-id half's fit (exactly the
    * batch [[indexDrift]] report's frozen quantizer), arrivals score
    * against it as stateless codegen projections.
    */
  def sharedDriftScorer(spark: SparkSession, sfDir: String): (Column, Column) = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val model = sharedPriorHalfModel(spark, sfDir, base)
    (assignCol(model), maxCosCol(model))
  }

  /** IVF top-k with the coarse quantizer computed in-engine (vs
    * [[simsearchIvf]], which trusts a given partition label): queries scan
    * only their own k-means cell.
    */
  def simsearchIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val withCell = base.withColumn("cell",
      assignCol(corpusModel(spark, sfDir, base)))
    val queries = withCell.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell"),
        col("embedding").as("eq"), col("nm").as("nq"))
    val cands = withCell.select(col("vec_id").as("n_id"), col("cell"),
      col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cands.join(broadcast(queries), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("cell"), col("n_id"), col("cosine"), col("rnk"))
  }

  /** Multi-probe IVF (the ANN recall lever): each query ranks ALL K
    * centroids by cosine and scans its [[NPROBE]] best cells instead of
    * only its own — the standard recall/latency dial of IVF indexes. A
    * candidate belongs to exactly one cell, so probing n cells can never
    * duplicate a pair. Centroid ranking is a K-row broadcast per query;
    * candidate fan-out is NPROBE/K of the corpus per query.
    */
  val NPROBE = 2

  /** Probed IVF top-k against a fitted quantizer: each query ranks all K
    * centroids by cosine (K-row broadcast), scans its best `nprobe` cells,
    * and keeps [[IVF_TOP_K]] — shared by the fixed-[[NPROBE]] query and the
    * recall sweep. `withCell` must carry (vec_id, embedding, nm, cell) —
    * the zero-shuffle assignment projection of the corpus.
    */
  private def probeTopk(withCell: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val queries = withCell.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"), col("nm").as("nq"))
    val pw = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("qcos", round(vecDot(col("eq"), col("carr")) / (col("nq") * col("cnorm")), 6))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("cell"), col("eq"), col("nq"))
    val cands = withCell
      .select(col("vec_id").as("n_id"), col("cell"),
        col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cands.join(broadcast(probed), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"), col("cosine"), col("rnk"))
  }

  def simsearchIvfProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val model = corpusModel(spark, sfDir, base)
    probeTopk(base.withColumn("cell", assignCol(model)),
      centsDf(base, model), NPROBE)
  }

  /** The recall sweep's probe widths — 1 (own cell only) to half the
    * [[KMEANS_K]] cells.
    */
  val RECALL_NPROBES: Seq[Int] = Seq(1, 2, 4)

  /** ANN quality as a MEASURED number: recall@[[IVF_TOP_K]] of multi-probe
    * IVF against the brute-force baseline, per nprobe ∈ [[RECALL_NPROBES]].
    * One k-means fit is shared across the sweep (checkpointed base +
    * centroids); the truth set is the exact top-k from one brute-force
    * pass. recall = |IVF top-k ∩ exact top-k| / (N_QUERIES · k) — the
    * denominator is the full truth-set size, a constant both engines bake
    * in. This is the query a user runs before trusting an nprobe setting
    * at corpus scale.
    */
  def simsearchRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val model = corpusModel(spark, sfDir, base)
    val (cents, withCell) =
      (centsDf(base, model), base.withColumn("cell", assignCol(model)))
    val queries = base.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"), col("nm").as("nq"))
    val cands = base.select(col("vec_id").as("n_id"),
      col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    val truth = cands.join(broadcast(queries), col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val denom = (N_QUERIES * IVF_TOP_K).toDouble
    RECALL_NPROBES.map { np =>
      probeTopk(withCell, cents, np)
        .select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  /** Scalar (int8) quantization — the memory-compression tier of vector
    * search at corpus scale (a 64-dim float vector stores as 64 bytes +
    * the shared per-dimension (mn, scale) table). Each dimension is
    * affinely mapped to 0..255 using the corpus min and a round-pinned
    * scale, and ranking uses the DEQUANTIZED reconstruction dot — the
    * standard SQ score. (Ranking raw code dots instead mis-ranks
    * zero-mean data: expanding (x−mn)(y−mn) leaves a candidate-dependent
    * −Σmn·x cross term that dominates when true dots are small.) The
    * reconstructions are bit-identical across engines (exact mn, pinned
    * scale, exact small-int code, float-narrowed), so the score differs
    * only by summation order — pinned by round(.,6) like every other dot
    * in this module. Stats are one aggregation; quantization is a narrow
    * projection against the broadcast 1-row stats; the search is the
    * usual broadcast-queries top-k.
    */
  /** (vec_id, code) int8 dequantized reconstructions for an embeddings
    * frame: code_i = clamp(floor((x_i − mn_i)/s_i)) is the stored int8;
    * what rides in the column is its RECONSTRUCTION mn_i + s_i·code_i,
    * float-narrowed — bit-identical in both engines (mn exact, s
    * round-pinned, code an exact small integer), so the ranking dot is
    * the standard dequantized SQ score, not the biased raw code dot
    * (uncentered code dots mis-rank zero-mean data: the −Σmn_i·x_i cross
    * term is candidate-dependent). Per-dimension corpus stats are packed
    * into ONE broadcastable row of position-sorted arrays.
    */
  private def sqCodes(emb: DataFrame): DataFrame = {
    val dims = emb.select(posexplode(col("embedding")))
      .groupBy(col("pos"))
      .agg(min(col("col").cast("double")).as("mn"),
        max(col("col").cast("double")).as("mx"))
      .select(col("pos"), col("mn"),
        greatest(round((col("mx") - col("mn")) / 255.0, 6), lit(1e-6)).as("scale"))
    val statsRow = dims.agg(
      expr("transform(sort_array(collect_list(struct(pos, mn))), s -> s.mn)").as("mns"),
      expr("transform(sort_array(collect_list(struct(pos, scale))), s -> s.scale)").as("scales"))
    emb.crossJoin(broadcast(statsRow))
      .select(col("vec_id"), expr(
        s"""transform(sequence(1, size(embedding)),
           |  i -> CAST(element_at(mns, i) + element_at(scales, i) *
           |    least(255.0, greatest(0.0,
           |      floor((CAST(element_at(embedding, i) AS DOUBLE) - element_at(mns, i))
           |            / element_at(scales, i)))) AS FLOAT))""".stripMargin).as("code"))
  }

  def simsearchSq(spark: SparkSession, sfDir: String): DataFrame = {
    val coded = sqCodes(Tables.embeddings(spark, sfDir))
    val queries = coded.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("code").as("qc"))
    val cands = coded.select(col("vec_id").as("n_id"), col("code").as("cc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sq_score").desc, col("n_id"))
    cands.join(broadcast(queries), col("n_id") =!= col("q_id"))
      .withColumn("sq_score", round(vecDot(col("qc"), col("cc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"), col("sq_score"), col("rnk").cast("long").as("rnk"))
  }

  /** Shared oracle text: per-dimension stats + float-narrowed
    * reconstructions (the engines' ranking inputs, bit-identical).
    */
  private val SQ_CODE_CTES: String =
    s"""dims AS (
       |  SELECT i, min(x) AS mn,
       |         greatest(round((max(x) - min(x)) / 255.0, 6), 1e-6) AS scale
       |  FROM u GROUP BY 1),
       |codes AS (
       |  SELECT u.vec_id, u.i,
       |         CAST(CAST(d.mn + d.scale *
       |           least(255.0, greatest(0.0, floor((u.x - d.mn) / d.scale)))
       |           AS REAL) AS DOUBLE) AS c
       |  FROM u JOIN dims d ON u.i = d.i)""".stripMargin

  val simsearchSqSql: String =
    s"""WITH ${UNNEST_CTE},
       |$SQ_CODE_CTES,
       |qd AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, round(sum(a.c * b.c), 6) AS sq_score
       |  FROM codes a JOIN codes b ON a.i = b.i
       |            AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY sq_score DESC, n_id) AS rnk
       |  FROM qd)
       |SELECT q_id, n_id, sq_score, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin

  /** IVF-SQ: the two scale levers COMPOSED, as production vector indexes
    * do (FAISS IVF-SQ8): the k-means coarse quantizer restricts each
    * query's scan to its own cell (1/nlist of the corpus) AND the in-cell
    * scan runs on int8 codes (1/4 the bytes, exact integer ranking). The
    * cell assignment comes from the float-precision quantizer — codes
    * only rank candidates inside the cell.
    */
  def simsearchIvfSq(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val cells = corpusCells(spark, sfDir, base)
    val coded = sqCodes(Tables.embeddings(spark, sfDir)).join(cells, Seq("vec_id"))
    val queries = coded.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell"), col("code").as("qc"))
    val cands = coded.select(col("vec_id").as("n_id"), col("cell"), col("code").as("cc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sq_score").desc, col("n_id"))
    cands.join(broadcast(queries), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sq_score", round(vecDot(col("qc"), col("cc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("cell"), col("n_id"), col("sq_score"),
        col("rnk").cast("long").as("rnk"))
  }

  val simsearchIvfSqSql: String =
    s"""$kmeansCtePrefix,
       |$SQ_CODE_CTES,
       |qd AS (
       |  SELECT q.vec_id AS q_id, q.cell, a2.vec_id AS n_id,
       |         round(sum(ca.c * cb.c), 6) AS sq_score
       |  FROM asgf q
       |  JOIN asgf a2 ON a2.cell = q.cell AND a2.vec_id <> q.vec_id
       |  JOIN codes ca ON ca.vec_id = q.vec_id
       |  JOIN codes cb ON cb.vec_id = a2.vec_id AND cb.i = ca.i
       |  WHERE q.vec_id < $N_QUERIES
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY sq_score DESC, n_id) AS rnk
       |  FROM qd)
       |SELECT q_id, cell, n_id, sq_score, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin

  /** Product-quantization geometry: [[PQ_M]] subspaces of [[PQ_SUB]]
    * dims, [[PQ_K]] centroids per subspace, [[PQ_ITERS]] Lloyd round(s).
    * A 64-float vector compresses to 4 small-int codes (PQ_M · log₂PQ_K
    * = 8 bits here; production uses 8 bits × 8–64 subspaces) and search
    * scores candidates WITHOUT touching their floats: the asymmetric
    * distance computation (ADC) sums, per subspace, the query-to-centroid
    * dot looked up by the candidate's code.
    */
  val PQ_M = 4
  val PQ_SUB: Int = 64 / PQ_M
  val PQ_K = 8
  val PQ_ITERS = 1

  /** PQ/ADC search — the remaining tier of the production ANN ladder
    * (IVF restricts WHERE you scan, SQ shrinks the floats, PQ removes
    * them from the scan entirely). Per subspace, the deterministic
    * spherical [[kmeansFit]] trains [[PQ_K]] centroids and encodes every
    * vector as its best cell (inner-product PQ — the cosine-family
    * variant); queries build a [[PQ_M]]×[[PQ_K]] lookup table of raw
    * subvector dots (tiny, broadcast), and each candidate's score is the
    * FIXED-ORDER sum p0+p1+p2+p3 of its codes' lookups — left-associated
    * on both engines, round-pinned once at the end, ranked with an id
    * tiebreak. Candidates join by their integer codes only: at corpus
    * scale the scan reads the code table, never the embeddings.
    */
  /** Subspace `s` of an embeddings frame, as its own (vec_id, embedding)
    * view — the unit the per-subspace codebook fits and encodes.
    */
  private def pqSubVectors(emb: DataFrame, s: Int): DataFrame =
    emb.select(col("vec_id"),
      expr(s"slice(embedding, ${s * PQ_SUB + 1}, $PQ_SUB)").as("embedding"))

  /** The session's per-subspace PQ codebooks — [[PQ_M]] spherical k-means
    * fits shared by `simsearch_pq`, `simsearch_recall_quant` and
    * `simsearch_rerank` (each previously re-ran all [[PQ_M]] subspace
    * Lloyd scans to land on identical centroids), memoized per session
    * ([[SharedFits]]) and persisted per corpus ([[FitStore]], artifact
    * `pq_codebook_s<s>`). Deterministic like every fit routed there, so
    * a hit is bit-identical to a fresh fit; the stored artifact is
    * PQ_K·PQ_SUB floats — the codebook a production PQ index ships.
    */
  private def pqModel(spark: SparkSession, sfDir: String, s: Int): Seq[Cent] =
    SharedFits.memo(spark, s"pq_model:$s:$sfDir") {
      FitStore.frame(spark, s"pq_codebook_s$s",
        FitStore.embeddingsFp(spark, sfDir, None)) {
        val base = withNorm(
          pqSubVectors(Tables.embeddings(spark, sfDir), s)).localCheckpoint()
        centsDf(base, kmeansModel(base, PQ_K, PQ_ITERS, col("vec_id") < PQ_K))
      }.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        .sortBy(_._1)
    }

  def simsearchPq(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    pqAdcScored(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"), col("adc"), col("rnk").cast("long").as("rnk"))
  }

  /** The full PQ/ADC scoring frame (q_id, n_id, adc) — shared by the
    * top-k search above and the two-stage refine ([[simsearchRerank]]).
    */
  private def pqAdcScored(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val perSub = (0 until PQ_M).map { s =>
      val model = pqModel(spark, sfDir, s)
      val base = withNorm(pqSubVectors(emb, s))
      // with the codebook in hand, encoding is one zero-shuffle projection
      (centsDf(base, model), base.select(col("vec_id"), assignCol(model).as("cell")))
    }
    val codesWide = perSub.zipWithIndex.map { case ((_, cells), s) =>
      cells.select(col("vec_id"), col("cell").as(s"c$s"))
    }.reduce(_.join(_, Seq("vec_id"))).withColumnRenamed("vec_id", "n_id")
    val queries = emb.filter(col("vec_id") < N_QUERIES)
    val luts = (0 until PQ_M).map { s =>
      queries.select(col("vec_id").as("q_id"),
          expr(s"slice(embedding, ${s * PQ_SUB + 1}, $PQ_SUB)").as("qs"))
        .crossJoin(broadcast(perSub(s)._1))
        .select(col("q_id"), col("cell").as(s"c$s"), vecDot(col("qs"), col("carr")).as(s"p$s"))
    }
    val joined = (1 until PQ_M).foldLeft(
      codesWide.join(broadcast(luts(0)), Seq("c0"))) { (acc, s) =>
      acc.join(broadcast(luts(s)), Seq("q_id", s"c$s"))
    }
    val adc = round((0 until PQ_M).map(s => col(s"p$s")).reduce(_ + _), 6)
    joined.filter(col("n_id") =!= col("q_id"))
      .withColumn("adc", adc)
      .select(col("q_id"), col("n_id"), col("adc"))
  }

  /** DuckDB twin of one PQ subspace: sliced/reindexed components, vector
    * norms, seed centroids (first [[PQ_K]] subvectors), one Lloyd round
    * (assign → recompute, round-pinned + float-narrowed like the engine),
    * final assignment, and the query lookup table of raw subvector dots.
    */
  private def pqSubspaceCtes(s: Int): String = {
    val off = s * PQ_SUB
    s"""us$s AS (
       |  SELECT vec_id, i - $off AS i, x FROM u WHERE i > $off AND i <= ${off + PQ_SUB}),
       |nrs$s AS (SELECT vec_id, sqrt(sum(x * x)) AS nm FROM us$s GROUP BY 1),
       |pc0_$s AS (SELECT vec_id AS cell, i, x FROM us$s WHERE vec_id < $PQ_K),
       |pn0_$s AS (SELECT cell, sqrt(sum(x * x)) AS cn FROM pc0_$s GROUP BY 1),
       |pa1_$s AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, d.cell,
       |           row_number() OVER (PARTITION BY d.vec_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS rn
       |    FROM (SELECT uu.vec_id, c.cell, sum(uu.x * c.x) AS dot
       |          FROM us$s uu JOIN pc0_$s c ON uu.i = c.i GROUP BY 1, 2) d
       |    JOIN nrs$s n ON d.vec_id = n.vec_id
       |    JOIN pn0_$s c ON d.cell = c.cell)
       |  WHERE rn = 1),
       |pc1_$s AS (
       |  SELECT a.cell, uu.i, CAST(CAST(round(avg(uu.x), 6) AS FLOAT) AS DOUBLE) AS x
       |  FROM us$s uu JOIN pa1_$s a ON uu.vec_id = a.vec_id GROUP BY 1, 2),
       |pn1_$s AS (SELECT cell, sqrt(sum(x * x)) AS cn FROM pc1_$s GROUP BY 1),
       |paf$s AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, d.cell,
       |           row_number() OVER (PARTITION BY d.vec_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS rn
       |    FROM (SELECT uu.vec_id, c.cell, sum(uu.x * c.x) AS dot
       |          FROM us$s uu JOIN pc1_$s c ON uu.i = c.i GROUP BY 1, 2) d
       |    JOIN nrs$s n ON d.vec_id = n.vec_id
       |    JOIN pn1_$s c ON d.cell = c.cell)
       |  WHERE rn = 1),
       |lut$s AS (
       |  SELECT uu.vec_id AS q_id, c.cell, sum(uu.x * c.x) AS p
       |  FROM us$s uu JOIN pc1_$s c ON uu.i = c.i
       |  WHERE uu.vec_id < $N_QUERIES GROUP BY 1, 2)""".stripMargin
  }

  val simsearchPqSql: String = {
    val subs = (0 until PQ_M).map(pqSubspaceCtes).mkString(",\n")
    val codeJoins = (1 until PQ_M)
      .map(s => s"JOIN paf$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val lutJoins = (0 until PQ_M).map { s =>
      if (s == 0) s"JOIN lut0 l0 ON l0.cell = a0.cell"
      else s"JOIN lut$s l$s ON l$s.cell = a$s.cell AND l$s.q_id = l0.q_id"
    }.mkString("\n  ")
    val adcExpr = (0 until PQ_M).map(s => s"l$s.p").mkString(" + ")
    s"""WITH ${UNNEST_CTE},
       |$subs,
       |scored AS (
       |  SELECT l0.q_id, a0.vec_id AS n_id, round($adcExpr, 6) AS adc
       |  FROM paf0 a0
       |  $codeJoins
       |  $lutJoins
       |  WHERE a0.vec_id <> l0.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY adc DESC, n_id) AS rnk
       |  FROM scored)
       |SELECT q_id, n_id, adc, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin
  }

  /** Quantization-loss measurement: recall@[[IVF_TOP_K]] of the SQ and
    * PQ searches against the exact INNER-PRODUCT top-k — both quantized
    * scores approximate the dot product (SQ: affine integer codes; PQ:
    * sums of subvector dots), so exact MIPS is their ground truth; a
    * cosine truth set would measure the metric mismatch, not the
    * quantization. The number a user checks before trading floats for
    * codes, next to [[simsearchRecall]]'s nprobe sweep. Fixture readings
    * are instructive: SQ holds recall 1.0 (256 levels per dimension
    * barely perturb the ranking) while PQ drops hard — a [[PQ_M]]×
    * [[PQ_K]] codebook yields only PQ_K^PQ_M distinct reconstructions
    * for the whole corpus, brutal on structureless random vectors;
    * production codebooks (8 bits × 8–64 subspaces) sit between the two,
    * and THIS query is how a deployment picks its point on that curve.
    */
  /** Exact inner-product top-[[IVF_TOP_K]] per query — THE ground truth
    * both quantization-loss sweeps ([[simsearchRecallQuant]]) and the
    * two-stage refine ([[simsearchRerank]]) rank against; session-
    * memoized so the two eval queries don't each re-pay the
    * |corpus|×|queries| brute scan.
    */
  private def mipsTruth(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"mips_truth:$sfDir") {
      val emb = Tables.embeddings(spark, sfDir)
      val queries = emb.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("q_id"), col("embedding").as("eq"))
      val cands = emb.select(col("vec_id").as("n_id"), col("embedding").as("ec"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("n_id"))
      cands.join(broadcast(queries), col("n_id") =!= col("q_id"))
        .withColumn("ip", round(vecDot(col("eq"), col("ec")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= IVF_TOP_K)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint()
    }

  def simsearchRecallQuant(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = mipsTruth(spark, sfDir)
    val denom = (N_QUERIES * IVF_TOP_K).toDouble
    def recallRow(method: String, res: DataFrame): DataFrame =
      res.select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    recallRow("sq", simsearchSq(spark, sfDir))
      .unionByName(recallRow("pq", simsearchPq(spark, sfDir)))
  }

  val simsearchRecallQuantSql: String = {
    val denom = N_QUERIES * IVF_TOP_K
    val pqSubs = (0 until PQ_M).map(pqSubspaceCtes).mkString(",\n")
    val pqCodeJoins = (1 until PQ_M)
      .map(s => s"JOIN paf$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val pqLutJoins = (0 until PQ_M).map { s =>
      if (s == 0) s"JOIN lut0 l0 ON l0.cell = a0.cell"
      else s"JOIN lut$s l$s ON l$s.cell = a$s.cell AND l$s.q_id = l0.q_id"
    }.mkString("\n  ")
    val pqAdc = (0 until PQ_M).map(s => s"l$s.p").mkString(" + ")
    s"""WITH ${UNNEST_CTE},
       |bfdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot, 6) DESC, d.n_id) AS rnk
       |    FROM bfdots d)
       |  WHERE rnk <= $IVF_TOP_K),
       |$SQ_CODE_CTES,
       |sqd AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, round(sum(a.c * b.c), 6) AS sq_score
       |  FROM codes a JOIN codes b ON a.i = b.i
       |            AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |sqtop AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY sq_score DESC, n_id) AS rnk
       |    FROM sqd)
       |  WHERE rnk <= $IVF_TOP_K),
       |$pqSubs,
       |pqscored AS (
       |  SELECT l0.q_id, a0.vec_id AS n_id, round($pqAdc, 6) AS adc
       |  FROM paf0 a0
       |  $pqCodeJoins
       |  $pqLutJoins
       |  WHERE a0.vec_id <> l0.q_id),
       |pqtop AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY adc DESC, n_id) AS rnk
       |    FROM pqscored)
       |  WHERE rnk <= $IVF_TOP_K),
       |hsq AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM sqtop t JOIN bf b ON t.q_id = b.q_id AND t.n_id = b.n_id),
       |hpq AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM pqtop t JOIN bf b ON t.q_id = b.q_id AND t.n_id = b.n_id)
       |SELECT 'sq' AS method, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / CAST($denom AS DOUBLE), 6) AS recall_at_k
       |FROM hsq
       |UNION ALL
       |SELECT 'pq' AS method, n_hits,
       |       round(CAST(n_hits AS DOUBLE) / CAST($denom AS DOUBLE), 6) AS recall_at_k
       |FROM hpq""".stripMargin
  }

  /** Candidate budgets for the two-stage refine sweep — from "trust the
    * codes" (R = k) to 4× over-fetch.
    */
  val RERANK_BUDGETS: Seq[Int] = Seq(3, 6, 12, 24, 48)

  /** Two-stage retrieval (the FAISS refine pattern, IndexRefineFlat):
    * the PQ/ADC scan — which never touches candidate floats — ranks the
    * corpus per query, the top R survivors are re-ranked by the EXACT
    * inner product, and recall@[[IVF_TOP_K]] vs exact-MIPS truth is
    * measured per budget R. This is the production answer to
    * [[simsearchRecallQuant]]'s finding that raw PQ recall drops hard: a
    * small exact re-rank (R a few × k — here reading R·dim floats per
    * query instead of the corpus) buys the recall back, and THIS query
    * measures how much per budget. At 100 TB the stage-1 scan reads only
    * the integer code table; stage 2 fetches R vectors per query by key —
    * the refine join fans out |queries|·R rows, never corpus². All
    * ranking on round-pinned scores with id tie-breaks, so both engines
    * rank identically.
    */
  def simsearchRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val queries = emb.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"))
    // stage 1: codes-only ranking, keep the largest budget once
    val cand = pqAdcScored(spark, sfDir)
      .withColumn("prnk", row_number().over(wAdc))
      .filter(col("prnk") <= RERANK_BUDGETS.max)
      .select(col("q_id"), col("n_id"), col("prnk"))
    // stage 2: exact dots for the surviving (query, candidate) pairs only
    val exact = cand
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ec")), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("ip", round(vecDot(col("eq"), col("ec")), 6))
      .select(col("q_id"), col("n_id"), col("prnk"), col("ip"))
      .localCheckpoint()
    // exact-MIPS truth — the SAME shared frame simsearchRecallQuant ranks
    // against (session-memoized; see mipsTruth)
    val truth = mipsTruth(spark, sfDir)
    val wIp = Window.partitionBy(col("q_id")).orderBy(col("ip").desc, col("n_id"))
    val denom = (N_QUERIES * IVF_TOP_K).toDouble
    RERANK_BUDGETS.map { r =>
      exact.filter(col("prnk") <= r)
        .withColumn("rr", row_number().over(wIp))
        .filter(col("rr") <= IVF_TOP_K)
        .select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(r.toLong).as("r_candidates"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  val simsearchRerankSql: String = {
    val subs = (0 until PQ_M).map(pqSubspaceCtes).mkString(",\n")
    val codeJoins = (1 until PQ_M)
      .map(s => s"JOIN paf$s a$s ON a$s.vec_id = a0.vec_id")
      .mkString("\n  ")
    val lutJoins = (0 until PQ_M).map { s =>
      if (s == 0) s"JOIN lut0 l0 ON l0.cell = a0.cell"
      else s"JOIN lut$s l$s ON l$s.cell = a$s.cell AND l$s.q_id = l0.q_id"
    }.mkString("\n  ")
    val adcExpr = (0 until PQ_M).map(s => s"l$s.p").mkString(" + ")
    val denom = N_QUERIES * IVF_TOP_K
    val maxR = RERANK_BUDGETS.max
    val unions = RERANK_BUDGETS.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS r_candidates, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / CAST($denom AS DOUBLE), 6) AS recall_at_k
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |      FROM (SELECT q_id, n_id FROM (
         |              SELECT q_id, n_id,
         |                     row_number() OVER (PARTITION BY q_id
         |                                        ORDER BY ip DESC, n_id) AS rr
         |              FROM exd WHERE prnk <= $r)
         |            WHERE rr <= $IVF_TOP_K) t
         |      JOIN bf b ON t.q_id = b.q_id AND t.n_id = b.n_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${UNNEST_CTE},
       |$subs,
       |scored AS (
       |  SELECT l0.q_id, a0.vec_id AS n_id, round($adcExpr, 6) AS adc
       |  FROM paf0 a0
       |  $codeJoins
       |  $lutJoins
       |  WHERE a0.vec_id <> l0.q_id),
       |pqr AS (
       |  SELECT q_id, n_id,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc DESC, n_id) AS prnk
       |  FROM scored),
       |exd AS (
       |  SELECT r.q_id, r.n_id, r.prnk, round(sum(a.x * b.x), 6) AS ip
       |  FROM pqr r
       |  JOIN u a ON a.vec_id = r.q_id
       |  JOIN u b ON b.vec_id = r.n_id AND b.i = a.i
       |  WHERE r.prnk <= $maxR
       |  GROUP BY 1, 2, 3),
       |bfdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot, 6) DESC, d.n_id) AS rnk
       |    FROM bfdots d)
       |  WHERE rnk <= $IVF_TOP_K)
       |$unions""".stripMargin
  }

  /** End-task retrieval quality — MRR@k and hit-rate@k against METADATA
    * relevance (a neighbor is relevant iff it shares the query's label),
    * for the exact search and the nprobe=2 IVF search side by side. The
    * recall sweeps measure the index against the EXACT search; this
    * measures both against what a user actually wanted — the eval that
    * decides whether ANN loss shows up in the product metric (here: IVF
    * at nprobe=2 keeps most of its label MRR while scanning ~2/K of the
    * corpus — the number that justifies the index). Reciprocal ranks are
    * exact integers in units of 1/6 (ranks ≤ 3 ⇒ 6/rank ∈ {6,3,2}), so
    * both engines sum identically; queries with no relevant neighbor in
    * the top k contribute 0. Same broadcast-probe shapes as every sweep.
    */
  def simsearchLabelMrr(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select(col("vec_id"), col("label"))
    val base = withNorm(emb).localCheckpoint()
    val model = corpusModel(spark, sfDir, base)
    val (cents, withCell) =
      (centsDf(base, model), base.withColumn("cell", assignCol(model)))
    def evalRow(method: String, res: DataFrame): DataFrame = {
      val firsts = res
        .join(broadcast(labels.select(col("vec_id").as("q_id"),
          col("label").as("ql"))), Seq("q_id"))
        .join(labels.select(col("vec_id").as("n_id"), col("label").as("nl")),
          Seq("n_id"))
        .filter(col("ql") === col("nl"))
        .groupBy(col("q_id")).agg(min(col("rnk")).as("fr"))
      firsts
        .agg(count(lit(1)).as("nh"), sum(expr("6 DIV fr")).as("mrr6"))
        .select(lit(method).as("method"),
          coalesce(col("nh"), lit(0L)).as("n_hit_queries"),
          round(coalesce(col("mrr6"), lit(0L)).cast("double") /
            lit(6.0 * N_QUERIES), 6).as("mrr"),
          round(coalesce(col("nh"), lit(0L)).cast("double") /
            lit(N_QUERIES.toDouble), 6).as("hit_rate"))
    }
    evalRow("exact", bruteForceTopk(emb, col("vec_id") < N_QUERIES, IVF_TOP_K))
      .unionByName(evalRow("ivf_probe2", probeTopk(withCell, cents, 2)))
  }

  val simsearchLabelMrrSql: String = {
    val last = KMEANS_ITERS
    def statsOf(method: String, rel: String): String =
      s"""SELECT '$method' AS method,
         |       CAST(coalesce(nh, 0) AS BIGINT) AS n_hit_queries,
         |       round(CAST(coalesce(m6, 0) AS DOUBLE) / (6.0 * $N_QUERIES), 6) AS mrr,
         |       round(CAST(coalesce(nh, 0) AS DOUBLE) / $N_QUERIES, 6) AS hit_rate
         |FROM (SELECT count(*) AS nh, CAST(sum(6 // fr) AS BIGINT) AS m6 FROM $rel)""".stripMargin
    s"""$kmeansCtePrefix,
       |bfr AS (
       |  SELECT q_id, n_id, rnk FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM (SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |          FROM u a JOIN u b ON a.i = b.i
       |                AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |          GROUP BY 1, 2) d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |qprobe2m AS (
       |  SELECT q_id, cell FROM (
       |    SELECT d.q_id, d.cell,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS pr
       |    FROM (SELECT u.vec_id AS q_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM u JOIN cent$last c ON u.i = c.i
       |          WHERE u.vec_id < $N_QUERIES GROUP BY 1, 2) d
       |    JOIN nrm n ON d.q_id = n.vec_id
       |    JOIN cn$last c ON d.cell = c.cell)
       |  WHERE pr <= 2),
       |qdots2m AS (
       |  SELECT p.q_id, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM qprobe2m p
       |  JOIN asgf a2 ON a2.cell = p.cell AND a2.vec_id <> p.q_id
       |  JOIN u ua ON ua.vec_id = p.q_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |ivfr AS (
       |  SELECT q_id, n_id, rnk FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM qdots2m d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |rel_exact AS (
       |  SELECT r.q_id, min(r.rnk) AS fr
       |  FROM bfr r
       |  JOIN embeddings eq ON eq.vec_id = r.q_id
       |  JOIN embeddings en ON en.vec_id = r.n_id
       |  WHERE eq.label = en.label GROUP BY 1),
       |rel_ivf AS (
       |  SELECT r.q_id, min(r.rnk) AS fr
       |  FROM ivfr r
       |  JOIN embeddings eq ON eq.vec_id = r.q_id
       |  JOIN embeddings en ON en.vec_id = r.n_id
       |  WHERE eq.label = en.label GROUP BY 1)
       |${statsOf("exact", "rel_exact")}
       |UNION ALL
       |${statsOf("ivf_probe2", "rel_ivf")}""".stripMargin
  }

  /** Shared DuckDB prefix for the k-means IVF twins: the deterministic
    * Lloyd rounds unrolled as CTE blocks (cent_r → cn_r → asg_r+1), with
    * centroid components round-pinned and float-narrowed exactly like the
    * Spark side; ends with the final centroids (cent/cn `last`) and
    * assignment `asgf`.
    */
  private def kmCnBlock(name: String, cent: String): String =
    s"$name AS (SELECT cell, sqrt(sum(x * x)) AS cn FROM $cent GROUP BY 1)"

  /** Assignment CTE over the unnested vectors of `src` (aliased `u`
    * inside — pass "u" for the whole corpus, a filtered CTE for a
    * slice).
    */
  private def kmAsgBlock(name: String, cent: String, cn: String,
      src: String): String =
    s"""$name AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT d.vec_id, d.cell,
       |           row_number() OVER (PARTITION BY d.vec_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS rn
       |    FROM (SELECT u.vec_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM $src u JOIN $cent c ON u.i = c.i GROUP BY 1, 2) d
       |    JOIN nrm n ON d.vec_id = n.vec_id
       |    JOIN $cn c ON d.cell = c.cell)
       |  WHERE rn = 1)""".stripMargin

  private def kmCentBlock(name: String, asg: String,
      src: String): String =
    s"""$name AS (
       |  SELECT a.cell, u.i, CAST(CAST(round(avg(u.x), 6) AS FLOAT) AS DOUBLE) AS x
       |  FROM $src u JOIN $asg a ON u.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin

  private lazy val kmeansCtePrefix: String = {
    val iterBlocks = (0 until KMEANS_ITERS).flatMap { r =>
      Seq(kmCnBlock(s"cn$r", s"cent$r"),
        kmAsgBlock(s"asg${r + 1}", s"cent$r", s"cn$r", "u"),
        kmCentBlock(s"cent${r + 1}", s"asg${r + 1}", "u"))
    }
    val last = KMEANS_ITERS
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |cent0 AS (SELECT vec_id AS cell, i, x FROM u WHERE vec_id < $KMEANS_K),
       |${iterBlocks.mkString(",\n")},
       |${kmCnBlock(s"cn$last", s"cent$last")},
       |${kmAsgBlock("asgf", s"cent$last", s"cn$last", "u")}""".stripMargin
  }

  val simsearchIvfKmeansSql: String =
    s"""$kmeansCtePrefix,
       |qdots AS (
       |  SELECT q.vec_id AS q_id, q.cell, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM asgf q
       |  JOIN asgf a2 ON a2.cell = q.cell AND a2.vec_id <> q.vec_id
       |  JOIN u ua ON ua.vec_id = q.vec_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  WHERE q.vec_id < $N_QUERIES
       |  GROUP BY 1, 2, 3),
       |qcos AS (
       |  SELECT d.q_id, d.cell, d.n_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM qdots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.n_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cosine DESC, n_id) AS rnk
       |  FROM qcos)
       |SELECT q_id, cell, n_id, cosine, rnk FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin

  /** Oracle for the `ivf_assign_stream` replay: the full-corpus k-means
    * chain's final assignment — every vector routed to its cell by the
    * standing quantizer, which is exactly what the streaming ingest
    * path must reproduce arrival-by-arrival.
    */
  val ivfAssignStreamSql: String =
    s"""$kmeansCtePrefix
       |SELECT vec_id, cell FROM asgf""".stripMargin

  /** Multi-probe twin: rank all centroids per query, scan the best
    * [[NPROBE]] cells, then the usual top-k.
    */
  val simsearchIvfProbeSql: String = {
    val last = KMEANS_ITERS
    s"""$kmeansCtePrefix,
       |qprobe AS (
       |  SELECT q_id, cell FROM (
       |    SELECT d.q_id, d.cell,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS pr
       |    FROM (SELECT u.vec_id AS q_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM u JOIN cent$last c ON u.i = c.i
       |          WHERE u.vec_id < $N_QUERIES GROUP BY 1, 2) d
       |    JOIN nrm n ON d.q_id = n.vec_id
       |    JOIN cn$last c ON d.cell = c.cell)
       |  WHERE pr <= $NPROBE),
       |qdots AS (
       |  SELECT p.q_id, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM qprobe p
       |  JOIN asgf a2 ON a2.cell = p.cell AND a2.vec_id <> p.q_id
       |  JOIN u ua ON ua.vec_id = p.q_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |qcos AS (
       |  SELECT d.q_id, d.n_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM qdots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.n_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cosine DESC, n_id) AS rnk
       |  FROM qcos)
       |SELECT q_id, n_id, cosine, rnk FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin
  }

  /** Per-nprobe CTE chain for the recall twin: probed cells → candidate
    * dots → IVF top-k pair set, suffixed by the probe width.
    */
  private def recallProbeBlocks(np: Int): String = {
    val last = KMEANS_ITERS
    s"""qprobe$np AS (
       |  SELECT q_id, cell FROM (
       |    SELECT d.q_id, d.cell,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS pr
       |    FROM (SELECT u.vec_id AS q_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM u JOIN cent$last c ON u.i = c.i
       |          WHERE u.vec_id < $N_QUERIES GROUP BY 1, 2) d
       |    JOIN nrm n ON d.q_id = n.vec_id
       |    JOIN cn$last c ON d.cell = c.cell)
       |  WHERE pr <= $np),
       |qdots$np AS (
       |  SELECT p.q_id, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM qprobe$np p
       |  JOIN asgf a2 ON a2.cell = p.cell AND a2.vec_id <> p.q_id
       |  JOIN u ua ON ua.vec_id = p.q_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |ivf$np AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM qdots$np d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |hits$np AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM ivf$np i JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id)""".stripMargin
  }

  val simsearchRecallSql: String = {
    val denom = N_QUERIES * IVF_TOP_K
    val selects = RECALL_NPROBES.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / CAST($denom AS DOUBLE), 6) AS recall_at_k
         |FROM hits$np""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$kmeansCtePrefix,
       |bfdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |bf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM bfdots d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |${RECALL_NPROBES.map(recallProbeBlocks).mkString(",\n")}
       |$selects""".stripMargin
  }

  /** FILTERED vector search, with its recall measured — the production
    * question every metadata-filtered ANN deployment faces: the index
    * (k-means cells) knows nothing about the filter (here: candidate
    * label must equal the query's label), so the engine must choose
    * between PRE-filtering (exact: scan only matching rows — the truth
    * side here) and POST-filtering the index's probe output (cheap: the
    * standing IVF index serves unchanged, but matching neighbors hiding
    * in unprobed cells are lost — and the loss is WORSE than unfiltered
    * recall at the same nprobe, because the filter discards probed
    * candidates without widening the probe). This query measures that
    * gap per nprobe: recall@k of probe-then-filter against the
    * pre-filtered exact truth, denominated by the truth-set size (not
    * N·k — a query's label may have fewer than k matches).
    *
    * Scale shape: identical to the unfiltered recall sweep — one shared
    * quantizer fit, broadcast queries/centroids, candidate fan-out
    * bounded by nprobe/K of the corpus, truth bounded by the label
    * slice. The label filter rides the probe join as a codegen
    * predicate.
    */
  def simsearchFilteredRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val model = corpusModel(spark, sfDir, base)
    val (cents, withCell) =
      (centsDf(base, model), base.withColumn("cell", assignCol(model)))
    val queries = base.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("eq"), col("nm").as("nq"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    // pre-filter truth: exact top-k among label-matched candidates only
    val truth = base.select(col("vec_id").as("n_id"), col("label"),
        col("embedding").as("ec"), col("nm").as("nc"))
      .join(broadcast(queries),
        col("label") === col("q_label") && col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val denom = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    RECALL_NPROBES.map { np =>
      // the probe is the UNFILTERED index's probe (the index cannot see
      // the filter); the label predicate applies after cell membership
      val pw = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cell"))
      val probed = queries.crossJoin(broadcast(cents))
        .withColumn("qcos", round(vecDot(col("eq"), col("carr")) / (col("nq") * col("cnorm")), 6))
        .withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= np)
        .select(col("q_id"), col("q_label"), col("cell"), col("eq"), col("nq"))
      val ivf = withCell.select(col("vec_id").as("n_id"), col("label"),
          col("cell"), col("embedding").as("ec"), col("nm").as("nc"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("n_id") =!= col("q_id") && col("label") === col("q_label"))
        .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= IVF_TOP_K)
        .select(col("q_id"), col("n_id"))
      ivf.join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(denom)
        .select(lit(np.toLong).as("nprobe"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  /** Per-nprobe CTE chain for the FILTERED recall twin: same probe as the
    * unfiltered sweep, label-matched candidates only, hits vs the
    * pre-filtered truth.
    */
  private def filteredProbeBlocks(np: Int): String = {
    val last = KMEANS_ITERS
    s"""fqprobe$np AS (
       |  SELECT q_id, cell FROM (
       |    SELECT d.q_id, d.cell,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS pr
       |    FROM (SELECT u.vec_id AS q_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM u JOIN cent$last c ON u.i = c.i
       |          WHERE u.vec_id < $N_QUERIES GROUP BY 1, 2) d
       |    JOIN nrm n ON d.q_id = n.vec_id
       |    JOIN cn$last c ON d.cell = c.cell)
       |  WHERE pr <= $np),
       |fqdots$np AS (
       |  SELECT p.q_id, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM fqprobe$np p
       |  JOIN asgf a2 ON a2.cell = p.cell AND a2.vec_id <> p.q_id
       |  JOIN embeddings eq ON eq.vec_id = p.q_id
       |  JOIN embeddings en ON en.vec_id = a2.vec_id AND en.label = eq.label
       |  JOIN u ua ON ua.vec_id = p.q_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |fivf$np AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM fqdots$np d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |fhits$np AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM fivf$np i JOIN fbf b ON i.q_id = b.q_id AND i.n_id = b.n_id)""".stripMargin
  }

  val simsearchFilteredRecallSql: String = {
    val selects = RECALL_NPROBES.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / CAST(den.n_truth AS DOUBLE), 6) AS recall_at_k
         |FROM fhits$np, den""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$kmeansCtePrefix,
       |fbfdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES
       |                    AND a.vec_id <> b.vec_id AND a.label = b.label
       |  GROUP BY 1, 2),
       |fbf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM fbfdots d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |den AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM fbf),
       |${RECALL_NPROBES.map(filteredProbeBlocks).mkString(",\n")}
       |$selects""".stripMargin
  }

  /** ACTING on the gap [[simsearchFilteredRecall]] measures — adaptive
    * probe widening: each query widens its cell probe by the inverse of
    * its label's corpus share, `np_eff = min(K, ⌈np · N / n_label⌉)`
    * (integer arithmetic — both engines land on identical widths), so a
    * selective filter scans more cells to restore the candidate yield an
    * unfiltered probe gets from one. The standard production move when
    * post-filter recall sags (measured 0.79 at nprobe=1 here): cost
    * scales with the POST-FILTER candidate count (`n_cand` — the label
    * predicate rides the probe join, so discarded rows are never
    * scored), not the probe width. On this corpus the ~10%-selective
    * labels saturate the widening at all K=8 cells — recall goes to 1.0
    * at a scored-candidate budget comparable to the unfiltered
    * nprobe=1 scan, and the saturation itself is the index-design
    * signal: a filter more selective than 1/K needs the full cell list,
    * so production raises K (or keeps per-cell label lists), exactly
    * what `n_probed` hitting queries×K tells the operator.
    *
    * Output per base nprobe: probe rows (`n_probed` = Σ np_eff), scored
    * candidates, hits and recall against the pre-filtered exact truth —
    * all exact integer counts but the final rounded ratio.
    */
  def simsearchFilteredAdaptive(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val model = corpusModel(spark, sfDir, base)
    val (cents, withCell) =
      (centsDf(base, model), base.withColumn("cell", assignCol(model)))
    val queries = base.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("eq"), col("nm").as("nq"))
    val labCounts = base.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_label"))
    val totals = base.agg(count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    val truth = base.select(col("vec_id").as("n_id"), col("label"),
        col("embedding").as("ec"), col("nm").as("nc"))
      .join(broadcast(queries),
        col("label") === col("q_label") && col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val denom = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    RECALL_NPROBES.map { np =>
      val pw = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cell"))
      val probed = queries.crossJoin(broadcast(cents))
        .withColumn("qcos", round(vecDot(col("eq"), col("carr")) / (col("nq") * col("cnorm")), 6))
        .withColumn("pr", row_number().over(pw))
        .join(broadcast(labCounts), Seq("q_label"))
        .crossJoin(broadcast(totals))
        .withColumn("np_eff", least(lit(KMEANS_K.toLong),
          expr(s"($np * n_total + n_label - 1) div n_label")))
        .filter(col("pr") <= col("np_eff"))
        .select(col("q_id"), col("q_label"), col("cell"), col("eq"), col("nq"))
      val scored = withCell.select(col("vec_id").as("n_id"), col("label"),
          col("cell"), col("embedding").as("ec"), col("nm").as("nc"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("n_id") =!= col("q_id") && col("label") === col("q_label"))
        .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
        .localCheckpoint() // read thrice: candidate count, top-k, hits
      val ivf = scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= IVF_TOP_K)
        .select(col("q_id"), col("n_id"))
      ivf.join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(probed.agg(count(lit(1)).as("n_probed"))))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(denom)
        .select(lit(np.toLong).as("nprobe"), col("n_probed"), col("n_cand"),
          col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  /** Per-nprobe CTE chain for the ADAPTIVE filtered twin: rank all cells
    * per query, keep `pr ≤ np_eff` with the width from the label-share
    * integer formula, then the same label-matched scoring as the fixed
    * sweep plus the probe/candidate counters.
    */
  private def adaptiveProbeBlocks(np: Int): String = {
    val last = KMEANS_ITERS
    s"""aqprobe$np AS (
       |  SELECT r.q_id, r.cell FROM (
       |    SELECT d.q_id, d.cell,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n.nm * c.cn), 6) DESC, d.cell) AS pr
       |    FROM (SELECT u.vec_id AS q_id, c.cell, sum(u.x * c.x) AS dot
       |          FROM u JOIN cent$last c ON u.i = c.i
       |          WHERE u.vec_id < $N_QUERIES GROUP BY 1, 2) d
       |    JOIN nrm n ON d.q_id = n.vec_id
       |    JOIN cn$last c ON d.cell = c.cell) r
       |  JOIN qnp ON r.q_id = qnp.q_id
       |  WHERE r.pr <= least($KMEANS_K, ($np * qnp.n_total + qnp.n_label - 1) // qnp.n_label)),
       |aprobes$np AS (SELECT CAST(count(*) AS BIGINT) AS n_probed FROM aqprobe$np),
       |aqdots$np AS (
       |  SELECT p.q_id, a2.vec_id AS n_id, sum(ua.x * ub.x) AS dot
       |  FROM aqprobe$np p
       |  JOIN asgf a2 ON a2.cell = p.cell AND a2.vec_id <> p.q_id
       |  JOIN embeddings eq ON eq.vec_id = p.q_id
       |  JOIN embeddings en ON en.vec_id = a2.vec_id AND en.label = eq.label
       |  JOIN u ua ON ua.vec_id = p.q_id
       |  JOIN u ub ON ub.vec_id = a2.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |acand$np AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM aqdots$np),
       |aivf$np AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM aqdots$np d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |ahits$np AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_hits
       |  FROM aivf$np i JOIN fbf b ON i.q_id = b.q_id AND i.n_id = b.n_id)""".stripMargin
  }

  val simsearchFilteredAdaptiveSql: String = {
    val selects = RECALL_NPROBES.map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, aprobes$np.n_probed, acand$np.n_cand, n_hits,
         |       round(CAST(n_hits AS DOUBLE) / CAST(den.n_truth AS DOUBLE), 6) AS recall_at_k
         |FROM ahits$np, aprobes$np, acand$np, den""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$kmeansCtePrefix,
       |lab AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM embeddings GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM embeddings),
       |qnp AS (
       |  SELECT e.vec_id AS q_id, l.n_label, t.n_total
       |  FROM embeddings e JOIN lab l ON e.label = l.label, tot t
       |  WHERE e.vec_id < $N_QUERIES),
       |fbfdots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES
       |                    AND a.vec_id <> b.vec_id AND a.label = b.label
       |  GROUP BY 1, 2),
       |fbf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT d.q_id, d.n_id,
       |           row_number() OVER (PARTITION BY d.q_id
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
       |    FROM fbfdots d
       |    JOIN nrm n1 ON d.q_id = n1.vec_id
       |    JOIN nrm n2 ON d.n_id = n2.vec_id)
       |  WHERE rnk <= $IVF_TOP_K),
       |den AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM fbf),
       |${RECALL_NPROBES.map(adaptiveProbeBlocks).mkString(",\n")}
       |$selects""".stripMargin
  }

  /** Hard-negative mining for contrastive training: per query, the
    * [[IVF_TOP_K]] highest-cosine candidates with a DIFFERENT label —
    * the near-misses a contrastive loss learns the most from (easy
    * negatives are already far away; in-batch negatives are random).
    * Same broadcast-queries/streaming-candidates shape as the
    * brute-force top-k, with the label-mismatch predicate in the join.
    */
  def simsearchHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir))
    val queries = base.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("eq"), col("nm").as("nq"))
    val cands = base.select(col("vec_id").as("n_id"), col("label"),
      col("embedding").as("ec"), col("nm").as("nc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
    cands.join(broadcast(queries), col("label") =!= col("q_label"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("n_id"), col("label"), col("cosine"), col("rnk"))
  }

  val simsearchHardNegativesSql: String =
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, b.label AS label,
       |         sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES
       |                    AND a.label <> b.label
       |  GROUP BY 1, 2, 3),
       |cos AS (
       |  SELECT d.q_id, d.n_id, d.label, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.n_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cosine DESC, n_id) AS rnk
       |  FROM cos)
       |SELECT q_id, n_id, label, cosine, rnk FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin

  /** Truncation widths for [[simsearchRecallDim]] — prefixes of the
    * 64-dim embedding.
    */
  val RECALL_DIMS: Seq[Int] = Seq(8, 16, 32)

  /** Dimension-truncation recall (the Matryoshka/MRL trade-off curve):
    * recall@[[IVF_TOP_K]] of brute-force search over the first d
    * dimensions against the full-dimension cosine truth, for d ∈
    * [[RECALL_DIMS]]. Truncating embeddings is the cheapest scale lever
    * of all — a d/64 read-and-compute cut with no index — and this query
    * is how a deployment decides how far to cut. Each width is one
    * slice projection + the standard broadcast-queries top-k; the truth
    * set computes once and checkpoints.
    */
  def simsearchRecallDim(spark: SparkSession, sfDir: String): DataFrame = {
    truncationRecall(Tables.embeddings(spark, sfDir), RECALL_DIMS,
      col("vec_id") < N_QUERIES, IVF_TOP_K)
  }

  /** The truncation-recall core over any (vec_id, embedding) frame:
    * recall@k of first-d-dimensions search against full-width truth,
    * one row per width. On the synthetic fixture (isotropic random
    * vectors, no energy concentration in leading dimensions) recall
    * sits near the k/N floor at every width — the honest reading;
    * Matryoshka-trained embeddings front-load the signal, and THIS
    * query measures how far a given model lets you cut.
    */
  def truncationRecall(emb: DataFrame, dims: Seq[Int], isQuery: Column,
      k: Int): DataFrame = {
    val truth = bruteForceTopk(emb, isQuery, k)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val denom = truth.count().toDouble
    dims.map { d =>
      val tr = emb.select(col("vec_id"),
        expr(s"slice(embedding, 1, $d)").as("embedding"))
      bruteForceTopk(tr, isQuery, k)
        .select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dim"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  val simsearchRecallDimSql: String = {
    // one top-k pair-set CTE chain per width: norms and dots over the
    // first-d-components prefix of the unnested vectors
    def topkBlock(name: String, normFilter: String, dotFilter: String): String =
      s"""${name}n AS (SELECT vec_id, sqrt(sum(x * x)) AS nm FROM u ${normFilter}GROUP BY 1),
         |${name}d AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
         |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
         |  ${dotFilter}GROUP BY 1, 2),
         |$name AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT d.q_id, d.n_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
         |    FROM ${name}d d
         |    JOIN ${name}n n1 ON d.q_id = n1.vec_id
         |    JOIN ${name}n n2 ON d.n_id = n2.vec_id)
         |  WHERE rnk <= $IVF_TOP_K)""".stripMargin
    val dimBlocks = RECALL_DIMS.map { d =>
      topkBlock(s"t$d", s"WHERE i <= $d ", s"WHERE a.i <= $d ") + s""",
         |h$d AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM t$d i JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id)""".stripMargin
    }.mkString(",\n")
    val selects = RECALL_DIMS.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, n_hits,
         |       round(CAST(n_hits AS DOUBLE)
         |             / (SELECT CAST(count(*) AS DOUBLE) FROM bf), 6) AS recall_at_k
         |FROM h$d""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${UNNEST_CTE},
       |${topkBlock("bf", "", "")},
       |$dimBlocks
       |$selects""".stripMargin
  }

  // --------------------------------------------------------------------
  // Random-projection (Johnson–Lindenstrauss) recall
  // --------------------------------------------------------------------

  /** Deterministic ±1 Rademacher sign for projection component (j, i) —
    * a splitmix-style integer mix with its own stream constants
    * (distinct from the LSH hyperplanes), baked identically into the
    * Spark and DuckDB expression builders; no RNG exists in either
    * engine.
    */
  private def rpSign(j: Int, i: Int): Int = {
    var x = (j.toLong * Dedup.EMB_DIM + i) * -8838822955498096741L +
      3935559000370003845L
    x ^= (x >>> 33); x *= -49064778989728563L; x ^= (x >>> 29)
    if (((x >>> 17) & 1L) == 1L) 1 else -1
  }

  /** Rademacher random projection of the embedding column to `d`
    * components: p_j = Σᵢ ±xᵢ, each component one `vec_dot` against a
    * constant ±1 vector (codegen'd fused loop, exact: multiplying by
    * ±1.0f is lossless and the fold is left-associated like the oracle's
    * explicit chain), stored back as float — the dense JL sketch, the
    * OTHER cheap dimensionality lever next to truncation ([[RECALL_DIMS]]):
    * truncation works when the model front-loads signal (Matryoshka),
    * random projection preserves pairwise geometry for ANY embedding at
    * the JL distortion rate.
    */
  def rpProjected(emb: DataFrame, d: Int): DataFrame = {
    emb.select(col("vec_id"), array((0 until d).map(j =>
      vecDot(col("embedding"), typedLit(Array.tabulate(Dedup.EMB_DIM)(i => rpSign(j, i).toFloat)))
        .cast("float")): _*)
      .as("embedding"))
  }

  /** recall@k of brute-force search in the projected space vs full-width
    * truth, one row per projection width — the measured quality curve
    * for the JL lever, twin of [[truncationRecall]].
    */
  def rpRecall(emb: DataFrame, dims: Seq[Int], isQuery: Column, k: Int): DataFrame = {
    val truth = bruteForceTopk(emb, isQuery, k)
      .select(col("q_id"), col("n_id"))
      .localCheckpoint()
    val denom = truth.count().toDouble
    dims.map { d =>
      bruteForceTopk(rpProjected(emb, d), isQuery, k)
        .select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dim"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  def simsearchRecallRp(spark: SparkSession, sfDir: String): DataFrame = {
    rpRecall(Tables.embeddings(spark, sfDir), RECALL_DIMS,
      col("vec_id") < N_QUERIES, IVF_TOP_K)
  }

  /** Oracle: per width, project with the identical ±1 chain (left-
    * associated, double accumulation, REAL-rounded components), unnest
    * the projected list positionally, and replay the same top-k/recall
    * machinery as the truncation oracle.
    */
  val simsearchRecallRpSql: String = {
    def chain(j: Int): String = (0 until Dedup.EMB_DIM).map { i =>
      val op = if (rpSign(j, i) > 0) "+" else "-"
      s"$op CAST(embedding[${i + 1}] AS DOUBLE)"
    }.mkString("CAST(0 AS DOUBLE) ", " ", "")
    def topkBlock(name: String, src: String): String =
      s"""${name}n AS (SELECT vec_id, sqrt(sum(x * x)) AS nm FROM $src GROUP BY 1),
         |${name}d AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
         |  FROM $src a JOIN $src b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |$name AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT d.q_id, d.n_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
         |    FROM ${name}d d
         |    JOIN ${name}n n1 ON d.q_id = n1.vec_id
         |    JOIN ${name}n n2 ON d.n_id = n2.vec_id)
         |  WHERE rnk <= $IVF_TOP_K)""".stripMargin
    val dimBlocks = RECALL_DIMS.map { d =>
      val cols = (0 until d)
        .map(j => s"CAST((${chain(j)}) AS REAL) AS x$j")
        .mkString(",\n         ")
      val lst = (0 until d).map(j => s"x$j").mkString("[", ", ", "]")
      s"""p$d AS (
         |  SELECT vec_id, $cols
         |  FROM embeddings),
         |u$d AS (
         |  SELECT vec_id, CAST(unnest($lst) AS DOUBLE) AS x,
         |         generate_subscripts($lst, 1) AS i
         |  FROM p$d),
         |${topkBlock(s"t$d", s"u$d")},
         |h$d AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM t$d i JOIN bf b ON i.q_id = b.q_id AND i.n_id = b.n_id)""".stripMargin
    }.mkString(",\n")
    val selects = RECALL_DIMS.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, n_hits,
         |       round(CAST(n_hits AS DOUBLE)
         |             / (SELECT CAST(count(*) AS DOUBLE) FROM bf), 6) AS recall_at_k
         |FROM h$d""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${UNNEST_CTE},
       |${topkBlock("bf", "u")},
       |$dimBlocks
       |$selects""".stripMargin
  }

  /** SemDeDup similarity threshold: within-cell pairs at or above this
    * cosine mark the higher-id member as a semantic duplicate.
    */
  val SEMDEDUP_TAU = 0.35

  /** SemDeDup-style semantic dedup (cluster-then-prune, Abbas et al.
    * 2023): cluster the corpus with the in-engine quantizer, compare
    * embeddings only WITHIN a cell, and drop the higher-id member of any
    * pair with cosine ≥ [[SEMDEDUP_TAU]]. Emits every vector with its
    * cell and keep flag.
    *
    * This is the scale design of the published method: clustering
    * bounds the quadratic — pairs form inside cells only, and a
    * production deployment grows nlist with the corpus so the expected
    * cell size (and thus per-cell pair count) stays constant. The
    * within-cell join is an equi-join on the cell id; no cross join
    * exists in the plan.
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    semanticDedupOn(base, KMEANS_K, KMEANS_ITERS, SEMDEDUP_TAU)
  }

  /** The cluster-then-prune core over any (vec_id, embedding, nm) frame —
    * the quantizer geometry and threshold parameterized for reuse and
    * testing.
    */
  def semanticDedupOn(base: DataFrame, k: Int, iters: Int,
      tau: Double): DataFrame = {
    val model = kmeansModel(base, k, iters, col("vec_id") < k)
    val withCell = base.withColumn("cell", assignCol(model))
    val a = withCell.select(col("cell"), col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nm").as("na"))
    val b = withCell.select(col("cell"), col("vec_id").as("b_id"),
      col("embedding").as("eb"), col("nm").as("nb"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    withCell.select(col("vec_id"), col("cell"))
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (!coalesce(col("dropped"), lit(false))).as("keep"))
  }

  val dedupSemanticSql: String =
    s"""$kmeansCtePrefix,
       |pd AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(ua.x * ub.x) AS dot
       |  FROM asgf a
       |  JOIN asgf b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN u ua ON ua.vec_id = a.vec_id
       |  JOIN u ub ON ub.vec_id = b.vec_id AND ub.i = ua.i
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT p.b_id
       |  FROM pd p
       |  JOIN nrm na ON p.a_id = na.vec_id
       |  JOIN nrm nb ON p.b_id = nb.vec_id
       |  WHERE round(p.dot / (na.nm * nb.nm), 6) >= $SEMDEDUP_TAU)
       |SELECT a.vec_id, a.cell, (d.b_id IS NULL) AS keep
       |FROM asgf a LEFT JOIN drops d ON a.vec_id = d.b_id""".stripMargin

  val simsearchIvfSql: String =
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id AS q_id, a.label AS label, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.label = b.label
       |                    AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2, 3),
       |cos AS (
       |  SELECT d.q_id, d.label, d.n_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.q_id = n1.vec_id
       |  JOIN nrm n2 ON d.n_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cosine DESC, n_id) AS rnk
       |  FROM cos)
       |SELECT q_id, label, n_id, cosine, rnk FROM ranked WHERE rnk <= $IVF_TOP_K""".stripMargin

  // --------------------------------------------------------------------
  // Semantic (embedding-space) decontamination
  // --------------------------------------------------------------------

  /** Eval-set membership convention for the semantic decontam query —
    * `vec_id ≡ 0 (mod 97)` stands in for "this vector embeds a held-out
    * benchmark item", mirroring `text_decontam`'s doc-side convention so
    * the two decontamination passes (lexical n-gram overlap, embedding
    * proximity) select comparable eval slices.
    */
  val SEM_DECONTAM_MOD = 97

  /** Cosine at or above which a corpus vector counts as semantically
    * contaminated by the eval set. Deliberately lower than the near-dup
    * thresholds: paraphrased benchmark leakage sits well below
    * exact-duplicate cosine.
    */
  val SEM_DECONTAM_MIN = 0.30

  /** Embedding-space decontamination — the semantic complement of the
    * lexical `text_decontam`: for every corpus vector, its highest cosine
    * against the eval-set embeddings, the eval item achieving it, and a
    * contaminated flag at [[SEM_DECONTAM_MIN]]. N-gram overlap misses
    * paraphrases; embedding proximity is how modern pipelines catch a
    * benchmark item that was reworded before it leaked into the crawl.
    *
    * Scale shape: eval suites are small and FIXED-SIZE by construction
    * (they do not grow with the corpus), so the eval side broadcasts at
    * any corpus scale; the corpus side is one narrow projection through
    * the codegen'd `vec_dot`, and the per-vector argmax is a partial-agg
    * `min(struct(−cosine, eval_id))` — map-side combinable, no window,
    * no shuffle of the corpus beyond the final per-vector hash agg.
    */
  def semanticDecontam(emb: DataFrame): DataFrame = {
    val base = withNorm(emb)
    val eval = base.filter(col("vec_id") % SEM_DECONTAM_MOD === 0)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ee"),
        col("nm").as("ne"))
    val corpus = base.filter(col("vec_id") % SEM_DECONTAM_MOD =!= 0)
      .select(col("vec_id"), col("embedding").as("ec"), col("nm").as("nc"))
    corpus.join(broadcast(eval))
      .withColumn("cosine",
        round(vecDot(col("ec"), col("ee")) / (col("nc") * col("ne")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cosine")).as("ncos"), col("eval_id").as("e")))
        .as("best"))
      .select(col("vec_id"), col("best.e").as("nearest_eval"),
        (-col("best.ncos")).as("max_cosine"),
        (-col("best.ncos") >= SEM_DECONTAM_MIN).as("contaminated"))
  }

  def simsearchDecontam(spark: SparkSession, sfDir: String): DataFrame =
    semanticDecontam(Tables.embeddings(spark, sfDir))

  val simsearchDecontamSql: String =
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id, b.vec_id AS eval_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i
       |   AND a.vec_id % $SEM_DECONTAM_MOD <> 0
       |   AND b.vec_id % $SEM_DECONTAM_MOD = 0
       |  GROUP BY 1, 2),
       |cos AS (
       |  SELECT d.vec_id, d.eval_id,
       |         round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM dots d
       |  JOIN nrm n1 ON d.vec_id = n1.vec_id
       |  JOIN nrm n2 ON d.eval_id = n2.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY cosine DESC, eval_id) AS rn
       |  FROM cos)
       |SELECT vec_id, eval_id AS nearest_eval, cosine AS max_cosine,
       |       cosine >= $SEM_DECONTAM_MIN AS contaminated
       |FROM ranked WHERE rn = 1""".stripMargin

  // --------------------------------------------------------------------
  // Radius (range) search
  // --------------------------------------------------------------------

  /** Cosine radius for the range-search query. */
  val RANGE_MIN_COS = 0.25

  /** Radius search — ALL neighbors within a cosine radius, not a fixed
    * k (the FAISS `range_search` surface): dedup candidate pulls and
    * "everything similar enough" retrieval want a threshold, not a count.
    * Same broadcast-queries scan as the brute-force top-k but the
    * selection is a stateless filter — no window, no per-query sort, so
    * the plan stays one codegen'd projection + filter over the corpus
    * and the output size is data-dependent by design.
    */
  def rangeSearch(emb: DataFrame, isQuery: Column, minCos: Double): DataFrame = {
    val base = withNorm(emb)
    val queries = base.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"),
        col("nm").as("nq"))
    val cands = base.select(col("vec_id").as("n_id"),
      col("embedding").as("ec"), col("nm").as("nc"))
    cands.join(broadcast(queries), col("n_id") =!= col("q_id"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ec")) / (col("nq") * col("nc")), 6))
      .filter(col("cosine") >= minCos)
      .select(col("q_id"), col("n_id"), col("cosine"))
  }

  def simsearchRange(spark: SparkSession, sfDir: String): DataFrame =
    rangeSearch(Tables.embeddings(spark, sfDir), col("vec_id") < N_QUERIES,
      RANGE_MIN_COS)

  val simsearchRangeSql: String =
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |dots AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2)
       |SELECT d.q_id, d.n_id, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |FROM dots d
       |JOIN nrm n1 ON d.q_id = n1.vec_id
       |JOIN nrm n2 ON d.n_id = n2.vec_id
       |WHERE round(d.dot / (n1.nm * n2.nm), 6) >= $RANGE_MIN_COS""".stripMargin

  // --------------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of dense + BM25
  // --------------------------------------------------------------------

  /** RRF smoothing constant (the standard 60 from Cormack et al.) and
    * the fused result depth.
    */
  val RRF_C = 60
  val RRF_TOP_K = 5

  /** Hybrid retrieval — reciprocal-rank fusion of the dense cosine top-k
    * (`simsearch_topk` machinery over `embeddings`) and the lexical BM25
    * top-k (`text_bm25` over `documents`, doc_id ≡ vec_id):
    * rrf(d) = Σ_lists 1/(C + rank_list(d)), absent treated as no
    * contribution. Rank fusion is how production hybrid search combines
    * incomparable score scales without calibration, and the fused list
    * is what retrieval-based curation (dataset search, eval lookup,
    * near-miss mining) actually consumes.
    *
    * Scale shape: both inputs are already top-k-bounded per query — the
    * fusion is a full-outer equi-join on (query, candidate) over
    * queries×k rows, a constant-size frame at any corpus scale; the
    * heavy lifting stays inside the two retriever plans. RRF scores are
    * the same two rationals in either engine, so the rounded fusion
    * ranking is deterministic.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val dense = bruteForceTopk(emb, col("vec_id") < nQueries, k)
      .select(col("q_id"), col("n_id").as("id"), col("rnk").as("dense_rnk"))
    val sparse = TextAnalysis.bm25TopK(docs, nQueries, k,
        TextAnalysis.termFreqs(docs).localCheckpoint())
      .select(col("q_id"), col("doc_id").as("id"), col("rnk").as("bm25_rnk"))
    val fused = dense.join(sparse, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RRF_C) + col("dense_rnk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RRF_C) + col("bm25_rnk")), lit(0.0)), 6))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("id"), col("dense_rnk"), col("bm25_rnk"),
        col("rrf"), col("rnk").cast("long").as("rnk"))
  }

  def simsearchRrf(spark: SparkSession, sfDir: String): DataFrame =
    hybridRrf(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
      TextAnalysis.BM25_N_QUERIES, RRF_TOP_K)

  val simsearchRrfSql: String = {
    val denseTopk =
      s"""dots AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
         |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < ${TextAnalysis.BM25_N_QUERIES}
         |                    AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |dense AS (
         |  SELECT q_id, n_id AS id, rnk AS dense_rnk FROM (
         |    SELECT d.q_id, d.n_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |             ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC, d.n_id) AS rnk
         |    FROM dots d
         |    JOIN nrm n1 ON d.q_id = n1.vec_id
         |    JOIN nrm n2 ON d.n_id = n2.vec_id)
         |  WHERE rnk <= $RRF_TOP_K)""".stripMargin
    val bm25Topk =
      s"""tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
         |              (SELECT avg(CAST(dl AS DOUBLE)) FROM dlen) AS avgdl),
         |qt AS (SELECT doc_id AS q_id, tok FROM tf WHERE doc_id < ${TextAnalysis.BM25_N_QUERIES}),
         |scored AS (
         |  SELECT q.q_id, t.doc_id,
         |         round(sum(
         |           ln((CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
         |           * (CAST(t.tf AS DOUBLE) * (1.0 + ${TextAnalysis.BM25_K1})
         |              / (CAST(t.tf AS DOUBLE)
         |                 + ${TextAnalysis.BM25_K1} * (${1.0 - TextAnalysis.BM25_B}
         |                    + ${TextAnalysis.BM25_B} * CAST(l.dl AS DOUBLE) / s.avgdl)))), 6) AS bm25
         |  FROM qt q
         |  JOIN tf t ON q.tok = t.tok AND t.doc_id <> q.q_id
         |  JOIN dfq f ON t.tok = f.tok
         |  JOIN dlen l ON t.doc_id = l.doc_id, st s
         |  GROUP BY 1, 2),
         |sparse AS (
         |  SELECT q_id, doc_id AS id, rnk AS bm25_rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY bm25 DESC, doc_id) AS rnk
         |    FROM scored)
         |  WHERE rnk <= $RRF_TOP_K)""".stripMargin
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |${Tables.TOK_CTE},
       |$denseTopk,
       |$bm25Topk,
       |fused AS (
       |  SELECT coalesce(d.q_id, s.q_id) AS q_id, coalesce(d.id, s.id) AS id,
       |         d.dense_rnk, s.bm25_rnk,
       |         round(coalesce(CAST(1 AS DOUBLE) / ($RRF_C + d.dense_rnk), 0.0)
       |               + coalesce(CAST(1 AS DOUBLE) / ($RRF_C + s.bm25_rnk), 0.0), 6) AS rrf
       |  FROM dense d FULL OUTER JOIN sparse s
       |    ON d.q_id = s.q_id AND d.id = s.id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY rrf DESC, id) AS rnk
       |  FROM fused)
       |SELECT q_id, id, dense_rnk, bm25_rnk, rrf, CAST(rnk AS BIGINT) AS rnk
       |FROM ranked WHERE rnk <= $RRF_TOP_K""".stripMargin
  }

  // --------------------------------------------------------------------
  // IVF index health
  // --------------------------------------------------------------------

  /** IVF index-health report — per-cell occupancy of the k-means coarse
    * quantizer, including EMPTY cells (a left join against the full cell
    * id range, which a bare groupBy would silently drop). Cell balance
    * is the operational health metric of an IVF index: probe latency is
    * bounded by the largest cell, recall is starved by empty ones, and a
    * skewed occupancy histogram is the signal to refit or raise nlist.
    * One zero-shuffle assignment projection + one K-sized hash agg; the
    * cell-id range frame is K rows, broadcast.
    */
  def ivfIndexStats(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = withNorm(emb).localCheckpoint()
    val asg = kmeansFit(base, k, iters)._2
    val counts = asg.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val total = broadcast(emb.agg(count(lit(1)).as("t")))
    emb.sparkSession.range(k).select(col("id").as("cell"))
      .join(counts, Seq("cell"), "left")
      .crossJoin(total)
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        round(coalesce(col("n_vecs"), lit(0L)).cast("double") /
          col("t").cast("double"), 6).as("frac"))
  }

  def simsearchIndexStats(spark: SparkSession, sfDir: String): DataFrame =
    ivfIndexStats(Tables.embeddings(spark, sfDir), KMEANS_K, KMEANS_ITERS)

  val simsearchIndexStatsSql: String =
    s"""$kmeansCtePrefix,
       |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM asgf GROUP BY 1),
       |gs AS (SELECT CAST(unnest(generate_series(0, ${KMEANS_K - 1})) AS BIGINT) AS cell),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings)
       |SELECT g.cell, coalesce(c.n, 0) AS n_vecs,
       |       round(CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(s.t AS DOUBLE), 6) AS frac
       |FROM gs g LEFT JOIN cnt c ON g.cell = c.cell, tot s""".stripMargin

  // --------------------------------------------------------------------
  // Cluster tightness (quantization-error report)
  // --------------------------------------------------------------------

  /** K-means cluster-quality report — the quantization-error numbers an
    * IVF deployment watches next to [[ivfIndexStats]]'s occupancy: per
    * cell, how many vectors and how tightly they sit around their
    * centroid (mean and worst cosine-to-centroid). A loose cell means
    * the coarse quantizer underfits there — recall for queries landing
    * in it needs more nprobe or more cells. Assignment and the cosine
    * are both stateless projections against the K·dim broadcast model;
    * the report is one hash aggregation.
    */
  def clusterQuality(emb: DataFrame): DataFrame = {
    val base = withNorm(emb).localCheckpoint()
    clusterQuality(base, kmeansModel(base, KMEANS_K, KMEANS_ITERS, col("vec_id") < KMEANS_K))
  }

  private def clusterQuality(base: DataFrame, model: Seq[Cent]): DataFrame = {
    val cos = round(vecDot(col("embedding"), col("carr")) / (col("nm") * col("cnorm")), 6)
    base.withColumn("cell", assignCol(model))
      .join(broadcast(centsDf(base, model)), Seq("cell"))
      .withColumn("cos", cos)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("cos")), 6).as("avg_cos"),
        round(min(col("cos")), 6).as("min_cos"))
  }

  def simsearchClusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    clusterQuality(base, corpusModel(spark, sfDir, base))
  }

  val simsearchClusterQualitySql: String =
    s"""$kmeansCtePrefix,
       |d AS (
       |  SELECT a.vec_id, a.cell, sum(u.x * c.x) AS dot
       |  FROM asgf a
       |  JOIN u ON u.vec_id = a.vec_id
       |  JOIN cent$KMEANS_ITERS c ON c.cell = a.cell AND c.i = u.i
       |  GROUP BY 1, 2),
       |cs AS (
       |  SELECT d.cell, round(d.dot / (n.nm * cn.cn), 6) AS cos
       |  FROM d
       |  JOIN nrm n ON d.vec_id = n.vec_id
       |  JOIN cn$KMEANS_ITERS cn ON d.cell = cn.cell)
       |SELECT cell, count(*) AS n_vecs,
       |       round(avg(cos), 6) AS avg_cos,
       |       round(min(cos), 6) AS min_cos
       |FROM cs GROUP BY 1""".stripMargin

  // --------------------------------------------------------------------
  // Incremental index maintenance (occupancy + quantization drift)
  // --------------------------------------------------------------------

  /** `qerr_delta` above this marks a cell for re-fit in [[indexDrift]]. */
  val DRIFT_QERR_THRESHOLD = 0.01

  /** |`occ_drift`| above this marks a cell for re-fit in [[indexDrift]]. */
  val DRIFT_OCC_THRESHOLD = 0.05

  /** Incremental index-maintenance report — the decision table an IVF
    * deployment consults when a new batch arrives against a STANDING
    * fit (the `dedup_incremental` split: even vec_ids are the indexed
    * prior corpus, odd the arriving batch). The quantizer is fitted on
    * the prior half only — seeds are its first [[KMEANS_K]] vectors —
    * and both halves are then assigned against those frozen centroids,
    * exactly what an online index does between re-fits. Per cell:
    * occupancy of each slice (`frac_prior` vs `frac_new`, their
    * `occ_drift`), mean cosine-to-centroid of each slice
    * (`avg_cos_prior` vs `avg_cos_new`, their `qerr_delta` — positive
    * means the new data sits farther from the standing centroids than
    * the data the index was built for), and `refit_flag` = 1 when
    * either drift crosses its threshold ([[DRIFT_QERR_THRESHOLD]] /
    * [[DRIFT_OCC_THRESHOLD]]) — the re-fit trigger metric.
    *
    * Scale shape: the model is K·dim driver-held constants
    * ([[kmeansModel]]), so both assignments are zero-shuffle codegen
    * projections; the report is one K-row hash aggregation plus a
    * broadcast 1-row totals frame. Drift columns derive from the
    * ROUND-PINNED output columns (not raw doubles), so engine and
    * oracle subtract bit-identical inputs.
    */
  def indexDrift(emb: DataFrame): DataFrame = {
    val base = withNorm(emb).localCheckpoint()
    indexDriftWith(base, priorHalfModel(base))
  }

  /** The standing (even-id) half's quantizer — [[indexDrift]]'s frozen
    * fit, seeds = its first [[KMEANS_K]] vectors.
    */
  private def priorHalfModel(base: DataFrame): Seq[Cent] =
    kmeansModel(base.filter(col("vec_id") % 2 === 0), KMEANS_K, KMEANS_ITERS,
      seedPred = col("vec_id") < 2L * KMEANS_K)

  /** The drift fit, session-memoized and [[FitStore]]-persisted (artifact
    * `kmeans_prior_centroids`, fingerprinted on exactly the even half it
    * is fitted on) — the standing index an online deployment loads
    * between re-fits rather than re-training per monitor run.
    */
  private def sharedPriorHalfModel(spark: SparkSession, sfDir: String,
      base: DataFrame): Seq[Cent] =
    SharedFits.memo(spark, s"kmeans_prior_model:$sfDir") {
      FitStore.frame(spark, "kmeans_prior_centroids",
        FitStore.embeddingsFp(spark, sfDir, half = Some(0))) {
        centsDf(base, priorHalfModel(base))
      }.collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
        .sortBy(_._1)
    }

  private def indexDriftWith(base: DataFrame, model: Seq[Cent]): DataFrame = {
    val isNew = col("vec_id") % 2 === 1
    val scored = base.withColumn("cell", assignCol(model))
      .join(broadcast(centsDf(base, model)), Seq("cell"))
      .withColumn("cos",
        round(vecDot(col("embedding"), col("carr")) / (col("nm") * col("cnorm")), 6))
    val stat = scored.groupBy(col("cell")).agg(
      count(when(!isNew, 1)).as("n_prior"),
      count(when(isNew, 1)).as("n_new"),
      round(avg(when(!isNew, col("cos"))), 6).as("avg_cos_prior"),
      round(avg(when(isNew, col("cos"))), 6).as("avg_cos_new"))
    val tot = broadcast(base.agg(
      count(when(!isNew, 1)).as("tp"), count(when(isNew, 1)).as("tn")))
    val cells = base.sparkSession
      .createDataFrame(model.map(c => Tuple1(c._1))).toDF("cell")
    cells.join(broadcast(stat), Seq("cell"), "left").crossJoin(tot)
      .select(col("cell"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_prior"), lit(0L)).cast("double") /
          col("tp").cast("double"), 6).as("frac_prior"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          col("tn").cast("double"), 6).as("frac_new"),
        col("avg_cos_prior"), col("avg_cos_new"))
      .withColumn("occ_drift", round(col("frac_new") - col("frac_prior"), 6))
      .withColumn("qerr_delta",
        round(col("avg_cos_prior") - col("avg_cos_new"), 6))
      .select(col("cell"), col("n_prior"), col("n_new"),
        col("frac_prior"), col("frac_new"), col("occ_drift"),
        col("avg_cos_prior"), col("avg_cos_new"), col("qerr_delta"),
        (coalesce(col("qerr_delta") > lit(DRIFT_QERR_THRESHOLD), lit(false))
          || abs(col("occ_drift")) > lit(DRIFT_OCC_THRESHOLD))
          .cast("long").as("refit_flag"))
  }

  def simsearchIndexDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    indexDriftWith(base, sharedPriorHalfModel(spark, sfDir, base))
  }

  /** The assigned cell's rounded cosine — the max over cells, join-free:
    * numerically identical to assigning first and joining the centroid
    * back in, because assignment IS argmax of this same expression.
    */
  private def maxCosCol(cents: Seq[Cent]): Column =
    greatest(cents.map { case (_, carr, cnorm) =>
      round(vecDot(col("embedding"), typedLit(carr)) / (col("nm") * lit(cnorm)), 6)
    }: _*)

  /** (cell, cos) columns against the drift quantizer fitted on the
    * STANDING corpus with [[indexDrift]]'s fit rule (seeds = its first
    * [[KMEANS_K]] vectors by a `< 2K` id predicate) — for any frame
    * carrying (embedding, nm), including a STREAMING one: the model is
    * driver-held constants, so both columns are stateless codegen
    * projections and the online monitor scores arrivals exactly like
    * the batch report scores the new half.
    */
  def driftScorerCols(corpus: DataFrame): (Column, Column) = {
    val base = withNorm(corpus).localCheckpoint()
    val model = kmeansModel(base, KMEANS_K, KMEANS_ITERS,
      seedPred = col("vec_id") < 2L * KMEANS_K)
    (assignCol(model), maxCosCol(model))
  }

  /** Same fit, prior-only: the k-means rounds run over the `up` slice
    * (src param of the shared CTE builders) with seeds = its first
    * [[KMEANS_K]] vectors (`vec_id < 2K`, even); the final assignment
    * covers ALL of `u`.
    */
  private lazy val driftCtePrefix: String = {
    val iterBlocks = (0 until KMEANS_ITERS).flatMap { r =>
      Seq(kmCnBlock(s"cn$r", s"cent$r"),
        kmAsgBlock(s"asg${r + 1}", s"cent$r", s"cn$r", "up"),
        kmCentBlock(s"cent${r + 1}", s"asg${r + 1}", "up"))
    }
    val last = KMEANS_ITERS
    s"""WITH ${UNNEST_CTE},
       |${NORM_CTE},
       |up AS (SELECT * FROM u WHERE vec_id % 2 = 0),
       |cent0 AS (SELECT vec_id AS cell, i, x FROM up WHERE vec_id < ${2 * KMEANS_K}),
       |${iterBlocks.mkString(",\n")},
       |${kmCnBlock(s"cn$last", s"cent$last")},
       |${kmAsgBlock("asgf", s"cent$last", s"cn$last", "u")}""".stripMargin
  }

  val simsearchIndexDriftSql: String = {
    val last = KMEANS_ITERS
    s"""$driftCtePrefix,
       |d AS (
       |  SELECT a.vec_id, a.cell, sum(u.x * c.x) AS dot
       |  FROM asgf a
       |  JOIN u ON u.vec_id = a.vec_id
       |  JOIN cent$last c ON c.cell = a.cell AND c.i = u.i
       |  GROUP BY 1, 2),
       |cs AS (
       |  SELECT d.vec_id, d.cell, round(d.dot / (n.nm * cn.cn), 6) AS cos
       |  FROM d
       |  JOIN nrm n ON d.vec_id = n.vec_id
       |  JOIN cn$last cn ON d.cell = cn.cell),
       |stat AS (
       |  SELECT cell,
       |         CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_prior,
       |         CAST(count(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS n_new,
       |         round(avg(cos) FILTER (WHERE vec_id % 2 = 0), 6) AS avg_cos_prior,
       |         round(avg(cos) FILTER (WHERE vec_id % 2 = 1), 6) AS avg_cos_new
       |  FROM cs GROUP BY 1),
       |tot AS (SELECT CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS tp,
       |               CAST(count(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS tn
       |        FROM nrm),
       |rep AS (
       |  SELECT c.cell,
       |         coalesce(s.n_prior, 0) AS n_prior,
       |         coalesce(s.n_new, 0) AS n_new,
       |         round(CAST(coalesce(s.n_prior, 0) AS DOUBLE) / t.tp, 6) AS frac_prior,
       |         round(CAST(coalesce(s.n_new, 0) AS DOUBLE) / t.tn, 6) AS frac_new,
       |         s.avg_cos_prior, s.avg_cos_new
       |  FROM (SELECT DISTINCT cell FROM cent$last) c
       |  LEFT JOIN stat s ON c.cell = s.cell, tot t)
       |SELECT cell, n_prior, n_new, frac_prior, frac_new,
       |       round(frac_new - frac_prior, 6) AS occ_drift,
       |       avg_cos_prior, avg_cos_new,
       |       round(avg_cos_prior - avg_cos_new, 6) AS qerr_delta,
       |       CAST((coalesce(round(avg_cos_prior - avg_cos_new, 6) > $DRIFT_QERR_THRESHOLD, false)
       |             OR abs(round(frac_new - frac_prior, 6)) > $DRIFT_OCC_THRESHOLD) AS BIGINT) AS refit_flag
       |FROM rep""".stripMargin
  }

  /** Oracle for the `index_drift_stream` replay: the arriving (odd-id)
    * half's per-cell occupancy and tightness against the standing
    * even-half quantizer — the `n_new`/`avg_cos_new` columns of
    * [[simsearchIndexDriftSql]]'s report, restricted to cells that saw
    * arrivals (the streaming aggregation's inner group-by: a monitor
    * only emits groups with traffic; silence is the dashboard's
    * left-join concern, not the stream's).
    */
  val indexDriftStreamSql: String = {
    val last = KMEANS_ITERS
    s"""$driftCtePrefix,
       |d AS (
       |  SELECT a.vec_id, a.cell, sum(u.x * c.x) AS dot
       |  FROM asgf a
       |  JOIN u ON u.vec_id = a.vec_id
       |  JOIN cent$last c ON c.cell = a.cell AND c.i = u.i
       |  WHERE a.vec_id % 2 = 1
       |  GROUP BY 1, 2),
       |cs AS (
       |  SELECT d.vec_id, d.cell, round(d.dot / (n.nm * cn.cn), 6) AS cos
       |  FROM d
       |  JOIN nrm n ON d.vec_id = n.vec_id
       |  JOIN cn$last cn ON d.cell = cn.cell)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_new,
       |       round(avg(cos), 6) AS avg_cos_new
       |FROM cs GROUP BY 1""".stripMargin
  }

  // --------------------------------------------------------------------
  // Cluster-balanced diversity sampling
  // --------------------------------------------------------------------

  /** Vectors kept per k-means cell by [[diverseSample]]. */
  val DIVERSE_PER_CELL = 16

  /** Cluster-balanced diversity sampling (the embedding-space coreset
    * recipe: cluster, then take equally from every cluster): fit the
    * [[KMEANS_K]]-cell quantizer, keep the [[DIVERSE_PER_CELL]]
    * hash-first vectors of each cell — a subset that covers every region
    * of embedding space instead of oversampling the dense ones, which is
    * what uniform sampling does to a skewed corpus. The in-cell draw is
    * the engine-standard md5 order (deterministic, rerunnable). Per-cell
    * selection is a bounded top-k window per cell — K·m rows survive;
    * at real scale K is thousands, so no cell's window exceeds
    * corpus/K rows and the result stays broadcast-sized.
    */
  def diverseSample(emb: DataFrame): DataFrame =
    diverseSampleOfCells(kmeansCells(withNorm(emb).localCheckpoint()))

  private def diverseSampleOfCells(cells: DataFrame): DataFrame = {
    val hk = md5(col("vec_id").cast("string"))
    val w = Window.partitionBy(col("cell")).orderBy(hk, col("vec_id"))
    cells.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= DIVERSE_PER_CELL)
      .select(col("cell"), col("vec_id"), col("rnk").cast("long").as("rnk"))
  }

  def simsearchDiverseSample(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    diverseSampleOfCells(corpusCells(spark, sfDir, base))
  }

  val simsearchDiverseSampleSql: String =
    s"""$kmeansCtePrefix,
       |ranked AS (
       |  SELECT cell, vec_id,
       |         CAST(row_number() OVER (PARTITION BY cell
       |                                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
       |              AS BIGINT) AS rnk
       |  FROM asgf)
       |SELECT cell, vec_id, rnk FROM ranked WHERE rnk <= $DIVERSE_PER_CELL""".stripMargin

  // --------------------------------------------------------------------
  // Graph-based ANN search (beam traversal over the k-NN graph)
  // --------------------------------------------------------------------

  /** Fixed expansion rounds — the unrollable analogue of HNSW's
    * "until no closer neighbor" loop. Bounded rounds keep the plan a
    * finite DAG (no driver-side convergence test) and are how this
    * oracle replays in SQL; seeded from the query's own LSH bucket the
    * beam sits in the right region from round 0 and each round is one
    * neighbor-of-neighbor hop.
    */
  val GRAPH_ROUNDS = 3

  /** Serving beam width, and the sweep widths for the recall query. */
  val GRAPH_BEAM = 8
  val GRAPH_BEAMS: Seq[Int] = Seq(2, 4, 8)

  /** Out-degree of the SERVING adjacency — denser than the gated
    * construction query's [[Dedup.KNN_K]] (real graph indexes build at
    * M=16–48; navigability needs degree): same builder, own constant,
    * so `simsearch_knn_graph` stays byte-stable while the search index
    * gets the connectivity recall depends on.
    */
  val GRAPH_DEGREE = 12

  /** NN-descent refinement rounds for the serving adjacency. The LSH
    * init alone is a WEAK graph on weak-signal data (a true neighbor at
    * cosine ≈ 0.3 shares a 6-bit sign-LSH bucket only ~13% of the time
    * over 3 tables), and a traversal can never out-search its graph.
    * Each round proposes every neighbor-of-neighbor over the
    * UNDIRECTED current graph as a candidate edge and re-keeps top-k —
    * the Dong et al. iteration, which converges the adjacency toward
    * the true k-NN graph in 2–3 rounds. Candidate fan-out is N·(2k)²
    * rows per round — degree-bounded, never corpus² (production
    * NN-descent additionally ρ-samples the candidate lists; k here is a
    * constant, so the build is corpus-linear as written).
    */
  val NND_ITERS = 3

  /** The construction degrees the MEASURED degree schedule for corpus
    * growth is gated through (SCALING.md round 12). At the fixed serving
    * constants, recall over the ScaleUp decades is GRAPH-limited, not
    * schedule-limited — the traversal lands exactly on the graph-local
    * ceiling (truth ∩ own adjacency) at every scale, and rounds (3→5/7),
    * beam (8→32), and a 1024-anchor coarse entry layer are all inert at
    * 30×, because extreme-value noise cosines displace true weak-signal
    * neighbors out of a FIXED-degree adjacency as N grows (ceiling 0.46
    * @2k → 0.33 @20k → 0.29 @60k). Rebuilding at higher degree restores
    * it: k=24 @60k → 0.42, k=32 @60k → 0.58 (above 1×'s 0.46 at the same
    * beam). So the dial that survives scale is construction DEGREE ∝ log N
    * — the HNSW M convention — costing the traversal only linearly in k:
    * k(N) = max(12, ⌈2·log₂N⌉) fits the measured points (2 000 → 22,
    * 60 000 → 32). The GATED queries serve the fixed [[GRAPH_DEGREE]]
    * index (byte-stable oracles); a deployment sizes its build with this
    * schedule and the recall sweep re-measures it per corpus.
    *
    * The rungs: the shipped serving degree, one rung up, 24 — the first
    * rung inside the schedule's OPERATIVE regime (it says 22–32 for every
    * corpus from 2k up, so a deployment acting on it runs a construction
    * of this class; gating only 12/16 would leave the regime that
    * actually ships oracle-unchecked — the round-12 gap) — and 32, the
    * schedule's TOP rung (round 15, closing the carried r13 ask: the
    * schedule emits 32 from ≈65k docs up, and a rung the schedule can
    * emit must face the oracle like every other dispatch regime; the
    * 60k-corpus recall rehearsal for the same rung is SCALING.md's r15
    * degree-32 row).
    */
  val GRAPH_DEGREES: Seq[Int] = Seq(GRAPH_DEGREE, 16, 24, 32)

  /** The degree schedule's DIAL, gated: the graph-local
    * recall ceiling (truth ∩ the query's own adjacency row — SCALING.md
    * round 12 shows the traversal lands exactly on this ceiling, so it
    * IS the serve path's recall in the regime that matters) per
    * construction degree in [[GRAPH_DEGREES]]. A second index at the
    * next degree rung is built through the same NN-descent
    * (FitStore-persisted under its own degree-keyed artifact name);
    * the ceiling must be non-decreasing in degree, and the measured gap
    * is what the schedule spends edges on. Construction cost is the
    * NND chain's (linear in N, quadratic in k per candidate round);
    * the gate's comparison is |Q|·k rows per degree.
    */
  def simsearchGraphDegreeRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val denom = (N_QUERIES * IVF_TOP_K).toDouble
    // The four per-degree NN-descent builds are independent (distinct
    // memo keys, distinct FitStore artifact names) and at bench corpus
    // sizes their wall is DRIVER-latency-bound — each NND iteration is
    // a chain of small jobs, so sequential materialization left the
    // 32-core session mostly idle. Overlap them: concurrent job
    // submission is a supported SparkSession pattern, the producers are
    // deterministic, and SharedFits races are benign by design
    // (first-put wins on identical values). Results are byte-identical
    // to the sequential build — same NND per degree, same oracle.
    val (adjByK, truth) = {
      // the brute-force truth table is independent of every build —
      // overlap it with them instead of serializing it in front
      // (bounded dedicated pool per the round-15 verdict, Overlap.scala)
      // stage 1: the ONE shared kernel pass all four degree inits slice
      // (see [[sharedNndSeed]] — built before the builds race to memo
      // it) overlapped with the independent brute-force truth table
      val stage1 = Overlap.all(Seq(
        () => sharedNndSeed(spark, sfDir)._2,
        () => bruteForceTopk(emb, col("vec_id") < N_QUERIES, IVF_TOP_K)
          .select(col("q_id"), col("n_id")).localCheckpoint()), Overlap.DEFAULT_CAP)
      val (base, cands) = sharedNndSeed(spark, sfDir) // memo hit
      // stage 2: the four NND loops — independent chains of small jobs
      // over the pinned seed, all in flight (the chains are driver-
      // latency-bound, not slot-bound; capping them at 3 measured ~15%
      // slower on the sweep)
      val adjs = Overlap.all(GRAPH_DEGREES.map { k => () =>
        if (k == GRAPH_DEGREE) graphIndex(spark, sfDir).select(col("src"), col("dst"))
        else SharedFits.memo(spark, s"graph_adj_d$k:$sfDir") {
          FitStore.frame(spark, s"knn_edges_nnd${NND_ITERS}_d$k",
            FitStore.embeddingsFp(spark, sfDir, None)) {
            nnDescentAdj(nndInitFor(cands, k), base, k, NND_ITERS)
          }.localCheckpoint()
        }
      }, cap = GRAPH_DEGREES.size)
      (GRAPH_DEGREES.zip(adjs).toMap, stage1(1))
    }
    GRAPH_DEGREES.map { k =>
      val adj = adjByK(k)
      adj.filter(col("src") < N_QUERIES)
        .select(col("src").as("q_id"), col("dst").as("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(k.toLong).as("degree"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("local_recall"))
    }.reduce(_.unionByName(_))
  }

  val simsearchGraphDegreeRecallSql: String = {
    val truthCtes =
      s"""tu AS MATERIALIZED (
         |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |tn AS MATERIALIZED (
         |  SELECT vec_id, sqrt(sum(x * x)) AS nm FROM tu GROUP BY 1),
         |td AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.x * b.x) AS dot
         |  FROM tu a JOIN tu b ON a.i = b.i
         |  WHERE a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT q_id, n_id FROM (
         |    SELECT d.q_id, d.n_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC,
         |                                       d.n_id) AS rnk
         |    FROM td d
         |    JOIN tn n1 ON d.q_id = n1.vec_id
         |    JOIN tn n2 ON d.n_id = n2.vec_id) r
         |  WHERE rnk <= $IVF_TOP_K)""".stripMargin
    val degreeBlocks = GRAPH_DEGREES.map { k =>
      s"""knn_d$k AS MATERIALIZED (${nnDescentAdjSql(k, "true")}),
         |row_d$k AS (
         |  SELECT CAST($k AS BIGINT) AS degree,
         |         CAST(count(*) AS BIGINT) AS n_hits,
         |         round(CAST(count(*) AS DOUBLE) / ${N_QUERIES * IVF_TOP_K}, 6)
         |           AS local_recall
         |  FROM knn_d$k e JOIN truth t
         |    ON e.src = t.q_id AND e.dst = t.n_id
         |  WHERE e.src < $N_QUERIES)""".stripMargin
    }.mkString(",\n")
    val union = GRAPH_DEGREES.map(k => s"SELECT * FROM row_d$k")
      .mkString("\nUNION ALL ")
    s"""WITH $truthCtes,
       |$degreeBlocks
       |$union""".stripMargin
  }

  /** NN-descent: from the (src, dst) k-NN `init` over the pinned
    * (vec_id, embedding, nm) payload `pay`, `iters` rounds of
    * undirected-neighbor-of-neighbor candidate generation, exact
    * rescoring, and top-k re-selection per node. Fully deterministic
    * (round-pinned cosines, dst tie-break), so the oracle replays the
    * construction round-for-round.
    */
  private[graft] def nnDescentAdj(init: DataFrame, pay: DataFrame, k: Int,
      iters: Int): DataFrame = {
    var adj = init.localCheckpoint()
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    (1 to iters).foreach { _ =>
      val und = adj
        .unionByName(adj.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
      val hop = und.as("a").join(und.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      val cands = und.unionByName(hop).distinct()
      val scored = cands
        .join(pay.select(col("vec_id").as("src"),
          col("embedding").as("es"), col("nm").as("ns")), Seq("src"))
        .join(pay.select(col("vec_id").as("dst"),
          col("embedding").as("ed"), col("nm").as("nd")), Seq("dst"))
        .withColumn("cosine", round(vecDot(col("es"), col("ed")) / (col("ns") * col("nd")), 6))
      adj = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("src"), col("dst")).localCheckpoint()
    }
    adj
  }

  /** A self-contained NND seed of `emb`: its own LSH k-NN init at degree
    * `k` ([[Dedup.knnGraph]]) and its pinned norm'd payload — the
    * (init, pay) pair [[nnDescentAdj]] takes. The payload pins first.
    */
  private[graft] def nndSeedOf(emb: DataFrame, k: Int, dim: Int): (DataFrame, DataFrame) = {
    // NOT overlapped (measured): racing the cheap payload pin against
    // the wide LSH-kernel init stole kernel slots inside callers that
    // already overlap this whole build (graph_insert_stream 5.3→5.6 s)
    val pay = withNorm(emb)
      .select(col("vec_id"), col("embedding"), col("nm")).localCheckpoint()
    (Dedup.knnGraph(emb, k, dim).select(col("vec_id").as("src"), col("nn_id").as("dst")), pay)
  }

  /** The SESSION-SHARED NND seed state for the FULL corpus: the pinned
    * norm'd payload and the min-collapsed LSH candidate frame at the
    * WIDEST construction degree. [[Dedup.knnCandGrouped]]'s per-bucket
    * top-kCut cut is a complete superset of any narrower cut under the
    * same strict order (cosine desc, nn_id asc) — a pair in a vector's
    * global top-k ranks ≤ k ≤ kCut inside every bucket containing it —
    * so `rank ≤ k` over THIS frame is row-identical to
    * [[Dedup.knnGraph]](emb, k)'s edge set for every k ≤ maxK
    * (spec-asserted in SimilaritySpec). The degree sweep used to pay
    * the bucket-grouped kernel once PER DEGREE for inits that differ
    * only in the cut; now the four builds (and [[graphIndex]]'s serving
    * build) share one kernel pass per corpus.
    */
  private[graft] def sharedNndSeed(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) =
    SharedFits.memo(spark, s"nnd_seed_kc${GRAPH_DEGREES.max}:$sfDir") {
      val base = withNorm(Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding"), col("nm")).localCheckpoint()
      val bits = Dedup.hypBitsFor(base.count())
      val cands = Dedup.knnCandGrouped(base, bits, Dedup.EMB_DIM,
          kCut = GRAPH_DEGREES.max)
        .groupBy(col("vec_id"), col("nn_id")).agg(min(col("cosine")).as("cosine"))
        .localCheckpoint()
      (base, cands)
    }

  /** `rank ≤ k` over the shared widest-cut candidate frame — the NND
    * init at degree `k`, row-identical to `knnGraph(emb, k)`'s edges
    * (see [[sharedNndSeed]]).
    */
  private[graft] def nndInitFor(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("nn_id"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("vec_id").as("src"), col("nn_id").as("dst"))
  }

  /** The NN-descent construction replayed as chained CTEs: init is the
    * already-gated LSH k-NN ranking, each round is und → hop → cand →
    * rescore → top-k. Returns (src, dst).
    */
  def nnDescentAdjSql(k: Int, whereSql: String): String = {
    // every multiply-referenced CTE is MATERIALIZED: DuckDB 1.0 inlines
    // CTEs at each reference site, and this chain references each round's
    // frames twice — inlining would re-evaluate the whole construction
    // exponentially in depth
    val roundCtes = (1 to NND_ITERS).map { r =>
      s"""und$r AS MATERIALIZED (
         |  SELECT src, dst FROM adj${r - 1}
         |  UNION SELECT dst AS src, src AS dst FROM adj${r - 1}),
         |hop$r AS (
         |  SELECT DISTINCT a.src, b.dst
         |  FROM und$r a JOIN und$r b ON a.dst = b.src
         |  WHERE a.src <> b.dst),
         |cand$r AS MATERIALIZED (
         |  SELECT src, dst FROM und$r UNION SELECT src, dst FROM hop$r),
         |sc$r AS (
         |  SELECT c.src, c.dst, sum(a.x * b.x) AS dot
         |  FROM cand$r c
         |  JOIN u a ON a.vec_id = c.src
         |  JOIN u b ON b.vec_id = c.dst AND a.i = b.i
         |  GROUP BY 1, 2),
         |co$r AS (
         |  SELECT s.src, s.dst, round(s.dot / (n1.nm * n2.nm), 6) AS cosine
         |  FROM sc$r s
         |  JOIN nrm n1 ON s.src = n1.vec_id
         |  JOIN nrm n2 ON s.dst = n2.vec_id),
         |adj$r AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT co.*, row_number() OVER (PARTITION BY src
         |                                    ORDER BY cosine DESC, dst) AS rn
         |    FROM co$r co) rk WHERE rn <= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS MATERIALIZED (
       |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE $whereSql),
       |nrm AS MATERIALIZED (
       |  SELECT vec_id, sqrt(sum(x * x)) AS nm FROM u GROUP BY 1),
       |buckets AS MATERIALIZED (
       |  SELECT * FROM (${Dedup.bucketUnionSql}) bu WHERE $whereSql),
       |icand AS (
       |  SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |  FROM buckets x JOIN buckets y
       |    ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id <> y.vec_id),
       |idots AS (
       |  SELECT c.src, c.dst, sum(a.x * b.x) AS dot
       |  FROM icand c
       |  JOIN u a ON a.vec_id = c.src
       |  JOIN u b ON b.vec_id = c.dst AND a.i = b.i
       |  GROUP BY 1, 2),
       |icos AS (
       |  SELECT d.src, d.dst, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM idots d
       |  JOIN nrm n1 ON d.src = n1.vec_id
       |  JOIN nrm n2 ON d.dst = n2.vec_id),
       |adj0 AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT ic.*, row_number() OVER (PARTITION BY src
       |                                    ORDER BY cosine DESC, dst) AS rn
       |    FROM icos ic) rk WHERE rn <= $k),
       |$roundCtes
       |SELECT src, dst FROM adj$NND_ITERS""".stripMargin
  }

  /** The serving GRAPH INDEX: the NN-descent-refined k-NN adjacency
    * ([[nnDescentAdj]], initialized from [[Dedup.knnGraph]] — the
    * construction primitive `simsearch_knn_graph` already gates)
    * with each neighbor's vector payload riding on the edge — so beam
    * expansion is ONE broadcast-frontier join against a static,
    * src-partitioned edge frame, never a join back into the corpus.
    * The adjacency persists through [[FitStore]] (pure (src, dst) rows,
    * fingerprint-keyed like every other fitted artifact); the payload
    * join is paid once per session and the assembled index is
    * [[SharedFits]]-memoized across the graph queries. At 100 TB this
    * is exactly the FAISS/HNSW storage split: adjacency ~ N·k longs,
    * vectors stay columnar beside it, and the per-query state is the
    * frontier — beam-width rows, never corpus rows.
    */
  private[graft] def graphIndex(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"graph_index:$sfDir") {
      val emb = Tables.embeddings(spark, sfDir)
      withPayload(emb, FitStore.frame(spark, s"knn_edges_nnd${NND_ITERS}_d$GRAPH_DEGREE",
          FitStore.embeddingsFp(spark, sfDir, None)) {
        // full-corpus build: init from the session-shared widest-cut
        // candidate frame (row-identical, one kernel pass shared with
        // the degree sweep)
        val (base, cands) = sharedNndSeed(spark, sfDir)
        nnDescentAdj(nndInitFor(cands, GRAPH_DEGREE), base, GRAPH_DEGREE, NND_ITERS)
      })
    }

  /** [[graphIndex]] over the standing (even-id) half — the index the
    * insert path serves arrivals against. It keeps its own narrower
    * kernel init: a lone consumer, nothing to share with.
    */
  private[graft] def evenHalfGraphIndex(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"graph_index_h0:$sfDir") {
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 0)
      withPayload(emb, FitStore.frame(spark, s"knn_edges_nnd${NND_ITERS}_d${GRAPH_DEGREE}_h0",
          FitStore.embeddingsFp(spark, sfDir, Some(0))) {
        val (init, pay) = nndSeedOf(emb, GRAPH_DEGREE, Dedup.EMB_DIM)
        nnDescentAdj(init, pay, GRAPH_DEGREE, NND_ITERS)
      })
    }

  /** The adjacency with each neighbor's payload riding on the edge,
    * src-partitioned and pinned.
    */
  private def withPayload(emb: DataFrame, adj: DataFrame): DataFrame = {
    val payload = withNorm(emb).select(col("vec_id").as("dst"),
      col("embedding").as("ed"), col("nm").as("nd"))
    adj.join(payload, Seq("dst"))
      .select(col("src"), col("dst"), col("ed"), col("nd"))
      .repartition(col("src"))
      .localCheckpoint()
  }

  /** Beam traversal: seed every query with its OWN LSH bucket mates —
    * the same [[Dedup.HYP_TABLES]] sign-projection tables the adjacency
    * was built from, so the entry heuristic ships with the index (this
    * is the NN-descent query path: LSH lands the beam in the right
    * region, the graph recovers what bucketing missed) — then for
    * [[GRAPH_ROUNDS]] rounds expand the current top-`beamW` of the
    * VISITED set through the adjacency and fold the expansions back in.
    * Returns the visited set — one row per (query, node) ever scored,
    * which is also the query's compute budget. All cosines round-pin to
    * 6 places and every rank breaks ties on node id, so DuckDB replays
    * the traversal decision-for-decision. The seed join is the
    * embedding-near-dup candidate shape (broadcast query buckets,
    * occupancy-bounded); the frontier is ≤ |Q|·beamW rows (broadcast
    * side of the expansion join); the edge frame never moves after its
    * one-time build.
    */
  /** Retained seeds per query after the LSH entry join. A seed ranked
    * below max(beamW, k) by (cosine desc, node) can NEVER enter any
    * round's beam nor the final top-k — at least that many better
    * visited nodes already exist — so a cap ≥ that bound changes no
    * answer; 32 leaves headroom over every width in [[GRAPH_BEAMS]].
    * Without the cap the pinned seed state is |Q| × bucket occupancy,
    * and occupancy grows WITH the corpus: the 30× rehearsal OOM'd the
    * insert path (arrivals ∝ N × mates ∝ N = quadratic pinned state)
    * before this bound; with it, seed state is |Q| × 32 flat. This is
    * the HNSW convention — entry points are a fixed budget, not a
    * bucket scan. Defined as max(32, widest beam, k) so the
    * inertness precondition (cap ≥ max(beamW, k)) is ENFORCED by
    * construction: raising GRAPH_BEAM/GRAPH_BEAMS/IVF_TOP_K past 32
    * widens the cap with them instead of silently changing answers
    * while this comment still claims it can't (round-11 advice).
    */
  val GRAPH_SEED_CAP: Int =
    math.max(32, math.max((GRAPH_BEAMS :+ GRAPH_BEAM).max, IVF_TOP_K))

  /** The beam-width-INDEPENDENT seed stage of [[beamTraverse]]: every
    * query scored against its LSH bucket mates, retained to the
    * [[GRAPH_SEED_CAP]] best. Hoisted so a multi-width sweep
    * ([[simsearchGraphRecall]]) computes the corpus-side bucket
    * explode + seed join ONCE and fans the widths out from the pinned
    * result — only the per-round top-beamW cut depends on the width.
    */
  private[graft] def beamSeeds(base: DataFrame, pin: DataFrame => DataFrame,
      isQuery: Column, isNode: Column): DataFrame = {
    // occupancy-pinned bucket geometry (Dedup.hypBitsFor): at fixed bits
    // the seed-scoring join fans |Q| × occupancy with occupancy ∝ N —
    // arrivals ∝ N made that quadratic in total, a hidden term inside the
    // insert/delete serving curves; pinning occupancy keeps the per-query
    // seed candidate pool at its gated design size (6 bits exactly at
    // every gated corpus, so the traversal-replay oracles are unaffected)
    val bits = Dedup.hypBitsFor(base.count())
    val withBuckets = base.select(col("vec_id"), col("embedding"), col("nm"),
        explode(array((0 until Dedup.HYP_TABLES).map(t =>
          struct(lit(t).as("t"),
            Dedup.bucketColBits(t, Dedup.EMB_DIM, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nm"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val qb = withBuckets.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"),
        col("nm").as("nq"), col("t"), col("bucket"))
    val nb = withBuckets.filter(isNode).select(col("vec_id").as("node"),
      col("embedding").as("ed"), col("nm").as("nd"), col("t"), col("bucket"))
    val cosine = round(vecDot(col("eq"), col("ed")) / (col("nq") * col("nd")), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("node"))
    pin(nb.join(broadcast(qb), Seq("t", "bucket"))
      .select(col("q_id"), col("node"), cosine.as("cosine"))
      .groupBy(col("q_id"), col("node")).agg(min(col("cosine")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GRAPH_SEED_CAP)
      .drop("rn"))
  }

  /** Beam traversal of the serving queries ([[N_QUERIES]]) over every node. */
  private[graft] def beamTraverse(edges: DataFrame, base: DataFrame,
      beamW: Int, rounds: Int, pin: DataFrame => DataFrame): DataFrame = {
    val isQuery = col("vec_id") < N_QUERIES
    beamLoop(edges, base.filter(isQuery),
      beamSeeds(base, pin, isQuery, lit(true)), beamW, rounds, pin)
  }

  /** [[beamTraverse]] with the query set given as an id FRAME (semi-join
    * membership) instead of a Column predicate — the micro-batch form:
    * a streaming `foreachBatch` names its arrivals as a frame, and an
    * `isin` literal list would put the whole batch into the expression
    * tree. Per-query results are identical to the predicate form
    * (traversal depends only on the query and the standing graph).
    */
  private[graft] def beamTraverseFor(edges: DataFrame, base: DataFrame,
      queryIds: DataFrame, beamW: Int, bits: Int,
      nodeBuckets: DataFrame): DataFrame = {
    val ids = queryIds.select(col("vec_id"))
    beamLoop(edges, base.join(ids, Seq("vec_id"), "left_semi"),
      beamSeedsFor(base, ids, bits, nodeBuckets),
      beamW, GRAPH_ROUNDS, _.localCheckpoint())
  }

  /** [[beamSeeds]]' frame-membership twin for [[beamTraverseFor]] —
    * same occupancy-pinned geometry (see [[beamSeeds]]). A
    * PER-MICRO-BATCH caller passes the standing base's bit geometry and
    * its [[seedNodeBuckets]] table, both computed once at stream build
    * instead of per batch (the base is the same frame every batch; it
    * cannot change mid-stream).
    */
  private def beamSeedsFor(base: DataFrame, queryIds: DataFrame,
      bits: Int, nb: DataFrame): DataFrame = {
    // query side: SEMI-JOIN FIRST, then explode — the bucket columns are
    // per-row projections, so filtering before the generate is identical
    // and keeps the per-batch explode at |batch| rows, not corpus rows
    val qb = base.join(queryIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("embedding"), col("nm"),
        explode(array((0 until Dedup.HYP_TABLES).map(t =>
          struct(lit(t).as("t"),
            Dedup.bucketColBits(t, Dedup.EMB_DIM, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"),
        col("nm").as("nq"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val cosine = round(vecDot(col("eq"), col("ed")) / (col("nq") * col("nd")), 6)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("node"))
    nb.join(broadcast(qb), Seq("t", "bucket"))
      .select(col("q_id"), col("node"), cosine.as("cosine"))
      .groupBy(col("q_id"), col("node")).agg(min(col("cosine")).as("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= GRAPH_SEED_CAP)
      .drop("rn").localCheckpoint()
  }

  /** The corpus-side LSH bucket table the per-batch seed join probes:
    * one row per (node, table, bucket) with the edge payload riding. A
    * streaming caller computes this ONCE at stream build (the standing
    * base cannot change mid-stream) and passes it into every
    * micro-batch's [[beamTraverseFor]] — [[beamSeedsFor]] used to
    * re-explode the full pinned base per trigger for a frame that never
    * changes.
    */
  private[graft] def seedNodeBuckets(base: DataFrame, bits: Int,
      isNode: Column): DataFrame =
    base.filter(isNode)
      .select(col("vec_id"), col("embedding"), col("nm"),
        explode(array((0 until Dedup.HYP_TABLES).map(t =>
          struct(lit(t).as("t"),
            Dedup.bucketColBits(t, Dedup.EMB_DIM, bits).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id").as("node"), col("embedding").as("ed"),
        col("nm").as("nd"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))

  /** The shared expansion loop of every traversal form, over the query
    * rows (vec_id, embedding, nm) of `queryBase`.
    */
  private def beamLoop(edges: DataFrame, queryBase: DataFrame,
      seedFrame: DataFrame, beamW: Int, rounds: Int,
      pin: DataFrame => DataFrame): DataFrame = {
    val queries = queryBase
      .select(col("vec_id").as("q_id"), col("embedding").as("eq"), col("nm").as("nq"))
    val cosine = round(vecDot(col("eq"), col("ed")) / (col("nq") * col("nd")), 6)
    var visited = seedFrame
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("node"))
    (1 to rounds).foreach { _ =>
      val beam = visited.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beamW)
        .join(queries, Seq("q_id"))
        .select(col("q_id"), col("node"), col("eq"), col("nq"))
      val expand = edges.join(broadcast(beam), col("src") === col("node"))
        .drop("node", "src")
        .select(col("q_id"), col("dst").as("node"), cosine.as("cosine"))
      // duplicate (q, node) hits carry identical cosines — min is a
      // partial-agg-friendly collapse, same convention as knnGraph
      visited = pin(visited.unionByName(expand)
        .groupBy(col("q_id"), col("node")).agg(min(col("cosine")).as("cosine")))
    }
    visited
  }

  /** Final answer from a visited set: top-k by cosine, self excluded
    * (the query node is reachable through the graph and legitimately
    * rides in the beam — expanding it IS how its true neighborhood gets
    * found — but it is not an answer).
    */
  private[graft] def graphTopkFrom(visited: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("node"))
    visited.filter(col("node") =!= col("q_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= IVF_TOP_K)
      .select(col("q_id"), col("node").as("n_id"), col("cosine"), col("rnk"))
  }

  /** Graph-served ANN top-k — the HNSW-family index next to IVF: greedy
    * beam search over the persisted k-NN adjacency at the serving width
    * [[GRAPH_BEAM]].
    */
  def simsearchGraphTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val base = withNorm(Tables.embeddings(spark, sfDir))
    graphTopkFrom(beamTraverse(graphIndex(spark, sfDir), base, GRAPH_BEAM,
      GRAPH_ROUNDS, _.localCheckpoint()))
  }

  /** The oracle's shared prelude: the k-NN edge list (the already-gated
    * [[Dedup.simsearchKnnGraphSql]] nested as a CTE, pagerank-style) and
    * `qcos`, the query-to-node cosine lookup the traversal scores from —
    * the oracle affords all |Q|·N cosines up front; the engine computes
    * only the visited ones from edge payloads, same values.
    */
  private def graphPrefixSql(querySql: String, nodeSql: String,
      adjSql: String): String =
    s"""knn AS MATERIALIZED ($adjSql),
       |edges AS MATERIALIZED (SELECT src, dst FROM knn),
       |gu AS MATERIALIZED (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |gn AS MATERIALIZED (
       |  SELECT vec_id, sqrt(sum(x * x)) AS nm FROM gu GROUP BY 1),
       |gq AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE $querySql),
       |gnode AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE $nodeSql),
       |qd AS (
       |  SELECT a.vec_id AS q_id, b.vec_id AS node, sum(a.x * b.x) AS dot
       |  FROM gu a JOIN gq q ON a.vec_id = q.vec_id
       |  JOIN gu b ON a.i = b.i
       |  GROUP BY 1, 2),
       |qcos AS MATERIALIZED (
       |  SELECT d.q_id, d.node, round(d.dot / (n1.nm * n2.nm), 6) AS cosine
       |  FROM qd d
       |  JOIN gn n1 ON d.q_id = n1.vec_id
       |  JOIN gn n2 ON d.node = n2.vec_id),
       |gb AS MATERIALIZED (
       |  ${Dedup.bucketUnionSql}),
       |seeds AS MATERIALIZED (
       |  SELECT DISTINCT x.vec_id AS q_id, y.vec_id AS node
       |  FROM gb x JOIN gq q ON x.vec_id = q.vec_id
       |  JOIN gb y ON x.t = y.t AND x.bucket = y.bucket
       |  JOIN gnode n ON y.vec_id = n.vec_id)""".stripMargin

  private val GRAPH_PREFIX_SQL: String =
    graphPrefixSql(s"vec_id < $N_QUERIES", "true", nnDescentAdjSql(GRAPH_DEGREE, "true"))

  /** Unrolled traversal CTEs for one beam width: v0 seeds from the fixed
    * entries, then per round (beam → expand → fold). `tag` keeps CTE
    * names unique when several widths share one statement.
    */
  /** Seed CTE body shared by every traversal tag — the width-independent
    * v0, the SQL twin of [[beamSeeds]] including its [[GRAPH_SEED_CAP]]
    * retention cut. */
  private val V0_SQL: String =
    s"""SELECT q_id, node, cosine FROM (
       |  SELECT s.q_id, s.node, c.cosine,
       |         row_number() OVER (PARTITION BY s.q_id
       |                            ORDER BY c.cosine DESC, s.node) AS rn
       |  FROM seeds s JOIN qcos c ON s.q_id = c.q_id AND s.node = c.node) sc
       |WHERE rn <= $GRAPH_SEED_CAP""".stripMargin

  private def beamSql(tag: String, beamW: Int, v0From: Option[String]): String = {
    val rounds = (1 to GRAPH_ROUNDS).map { r =>
      s"""b${r}_$tag AS (
         |  SELECT q_id, node FROM (
         |    SELECT v.*, row_number() OVER (PARTITION BY q_id
         |                                   ORDER BY cosine DESC, node) AS rn
         |    FROM v${r - 1}_$tag v) rb WHERE rn <= $beamW),
         |x${r}_$tag AS (
         |  SELECT DISTINCT b.q_id, e.dst AS node
         |  FROM b${r}_$tag b JOIN edges e ON b.node = e.src),
         |v${r}_$tag AS MATERIALIZED (
         |  SELECT q_id, node, min(cosine) AS cosine FROM (
         |    SELECT q_id, node, cosine FROM v${r - 1}_$tag
         |    UNION ALL
         |    SELECT x.q_id, x.node, c.cosine
         |    FROM x${r}_$tag x JOIN qcos c ON x.q_id = c.q_id AND x.node = c.node) vu
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val v0 = v0From match {
      // width sweep: every tag reads the ONE materialized shared seed
      case Some(src) => s"v0_$tag AS (SELECT * FROM $src)"
      case None => s"v0_$tag AS MATERIALIZED (\n  $V0_SQL)"
    }
    s"$v0,\n$rounds"
  }

  val simsearchGraphTopkSql: String =
    s"""WITH $GRAPH_PREFIX_SQL,
       |${beamSql("t", GRAPH_BEAM, None)}
       |SELECT q_id, node AS n_id, cosine, rnk FROM (
       |  SELECT v.*, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cosine DESC, node) AS rnk
       |  FROM v${GRAPH_ROUNDS}_t v WHERE node <> q_id) f
       |WHERE rnk <= $IVF_TOP_K""".stripMargin

  /** Graph-search quality at MEASURED budget, beside the IVF sweep:
    * recall@[[IVF_TOP_K]] vs the brute-force truth per beam width in
    * [[GRAPH_BEAMS]], with `n_candidates` — the distinct (query, node)
    * pairs the traversal ever scored — as the compute budget. The IVF
    * sweep's budget at nprobe=p is ≈ |Q|·p/K of the corpus; the graph
    * budget is entries + rounds·beam·degree per query, independent of
    * corpus size — the whole point of graph serving at high recall.
    */
  def simsearchGraphRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val base = withNorm(emb)
    val edges = graphIndex(spark, sfDir)
    val truth = bruteForceTopk(emb, col("vec_id") < N_QUERIES, IVF_TOP_K)
      .select(col("q_id"), col("n_id")).localCheckpoint()
    val denom = (N_QUERIES * IVF_TOP_K).toDouble
    val isQuery = col("vec_id") < N_QUERIES
    val seeds = beamSeeds(base, _.localCheckpoint(), isQuery, lit(true))
    // The per-width traversals are independent chains of blocking
    // checkpoint jobs over the SAME pinned seeds/edges; sequential
    // construction left the session idle during each chain's driver
    // latency (the degree-sweep overlap lesson, guide §2.6 — concurrent
    // job submission backfills the tails). Results are byte-identical:
    // each width's loop is deterministic and shares only read-only
    // checkpointed inputs.
    // (bounded dedicated pool per the round-15 verdict, Overlap.scala)
    val visitedByW = GRAPH_BEAMS.zip(Overlap.all(GRAPH_BEAMS.map { bw =>
      () => beamLoop(edges, base.filter(isQuery), seeds, bw, GRAPH_ROUNDS, _.localCheckpoint())
    }, Overlap.DEFAULT_CAP))
    visitedByW.map { case (bw, visited) =>
      val cand = visited.agg(count(lit(1)).as("n_candidates"))
      val hits = graphTopkFrom(visited).select(col("q_id"), col("n_id"))
        .join(truth, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      cand.crossJoin(hits)
        .select(lit(bw.toLong).as("beam_w"), col("n_candidates"), col("n_hits"),
          round(col("n_hits").cast("double") / lit(denom), 6).as("recall_at_k"))
    }.reduce(_.unionByName(_))
  }

  val simsearchGraphRecallSql: String = {
    val denom = N_QUERIES * IVF_TOP_K
    val beams = s"v0_shared AS MATERIALIZED (\n  $V0_SQL),\n" +
      GRAPH_BEAMS.map(bw => beamSql(s"b$bw", bw, Some("v0_shared"))).mkString(",\n")
    val rows = GRAPH_BEAMS.map { bw =>
      s"""final_b$bw AS (
         |  SELECT q_id, node FROM (
         |    SELECT v.*, row_number() OVER (PARTITION BY q_id
         |                                   ORDER BY cosine DESC, node) AS rnk
         |    FROM v${GRAPH_ROUNDS}_b$bw v WHERE node <> q_id) f
         |  WHERE rnk <= $IVF_TOP_K),
         |row_b$bw AS (
         |  SELECT CAST($bw AS BIGINT) AS beam_w,
         |         (SELECT count(*) FROM v${GRAPH_ROUNDS}_b$bw) AS n_candidates,
         |         h.n_hits,
         |         round(CAST(h.n_hits AS DOUBLE) / $denom, 6) AS recall_at_k
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |        FROM final_b$bw f JOIN truth t
         |          ON f.q_id = t.q_id AND f.node = t.n_id) h)""".stripMargin
    }.mkString(",\n")
    val union = GRAPH_BEAMS.map(bw => s"SELECT * FROM row_b$bw")
      .mkString("\nUNION ALL ")
    s"""WITH $GRAPH_PREFIX_SQL,
       |truth AS MATERIALIZED (
       |  SELECT q_id, node AS n_id FROM (
       |    SELECT q_id, node, row_number() OVER (PARTITION BY q_id
       |                                          ORDER BY cosine DESC, node) AS rnk
       |    FROM qcos WHERE node <> q_id) tr
       |  WHERE rnk <= $IVF_TOP_K),
       |$beams,
       |$rows
       |$union""".stripMargin
  }

  /** INCREMENTAL graph-index maintenance — the HNSW insert path, batch
    * style: the STANDING index is the NN-descent adjacency over the
    * even-half corpus (production: loaded from the FitStore — same
    * half-split convention as the index-drift and incremental-dedup
    * families), and each ARRIVING vector (odd half) finds its link set
    * by searching that graph — LSH-seeded beam traversal restricted to
    * standing nodes, exactly the serving search with the arrivals as
    * the query set. Output = each new vector's top-[[IVF_TOP_K]]
    * standing neighbors (the edges an insert would create; the
    * back-links are these rows transposed). No rebuild: per-arrival
    * cost is the traversal's corpus-independent beam budget, vs the
    * full NND reconstruction — the same absorb-without-rescan contract
    * as `text_bm25_incremental` and `dedup_clusters_incremental`. An
    * arrival whose LSH buckets hold no standing node yields no seeds
    * and no rows — visible in the output, the signal to widen probes
    * or rebuild.
    */
  def simsearchGraphInsert(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val edges = evenHalfGraphIndex(spark, sfDir)
    val base = withNorm(emb)
    val isQuery = col("vec_id") % 2 === 1
    val pin: DataFrame => DataFrame = _.localCheckpoint()
    val visited = beamLoop(edges, base.filter(isQuery),
      beamSeeds(base, pin, isQuery, col("vec_id") % 2 === 0), GRAPH_BEAM, GRAPH_ROUNDS, pin)
    graphTopkFrom(visited)
      .select(col("q_id").as("new_id"), col("n_id"), col("cosine"), col("rnk"))
  }

  val simsearchGraphInsertSql: String = {
    val prefix = graphPrefixSql("vec_id % 2 = 1", "vec_id % 2 = 0",
      nnDescentAdjSql(GRAPH_DEGREE, "vec_id % 2 = 0"))
    s"""WITH $prefix,
       |${beamSql("i", GRAPH_BEAM, None)}
       |SELECT q_id AS new_id, node AS n_id, cosine, rnk FROM (
       |  SELECT v.*, row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cosine DESC, node) AS rnk
       |  FROM v${GRAPH_ROUNDS}_i v WHERE node <> q_id) f
       |WHERE rnk <= $IVF_TOP_K""".stripMargin
  }

  /** Tombstone modulus for [[simsearchGraphDelete]] — every 10th vec_id
    * leaves the index, a realistic churn batch. */
  val DELETE_MOD = 10

  /** INCREMENTAL graph-index DELETE — the repair path that completes the
    * graph family's lifecycle (build → serve → insert → delete): a batch
    * of nodes tombstones out of the standing adjacency, and each
    * SURVIVING node that lost an edge re-links by BRIDGING through its
    * deleted neighbors — candidate set = its surviving edges ∪ the
    * deleted neighbors' own surviving out-edges (the HNSW repair rule:
    * a deleted node's neighborhood is exactly where its in-links should
    * re-attach), rescored exactly and re-cut to [[GRAPH_DEGREE]]. No
    * rebuild, no search: per affected node the fan-out is bounded by
    * k (lost edges) × k (each mid's degree) — degree constants, never
    * corpus² and never a traversal budget; unaffected nodes' rows are
    * untouched (not re-emitted here — the output is the REPAIR delta,
    * the rows a MERGE into the persisted adjacency would rewrite). A
    * node whose entire neighborhood died yields < k (possibly 0) rows —
    * visible in the output, the rebuild-this-region signal, same
    * convention as the insert path's empty-seed case.
    */
  def simsearchGraphDelete(spark: SparkSession, sfDir: String): DataFrame =
    deleteRepairDelta(spark, sfDir)

  /** The delete path's repair delta — shared by the gated delete query
    * and the [[simsearchGraphRepairHealth]] report that acts on its
    * rebuild signal.
    */
  private def deleteRepairDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = graphIndex(spark, sfDir)
    val delDst = col("dst") % DELETE_MOD === 0
    val aff = edges.filter(delDst && col("src") % DELETE_MOD =!= 0)
      .select(col("src")).distinct()
    val surv = edges.join(aff, Seq("src")).filter(!delDst)
      .select(col("src"), col("dst"))
    val bridges = edges.filter(delDst)
      .select(col("src"), col("dst").as("mid"))
      .join(aff, Seq("src"))
      .join(edges.select(col("src").as("mid"), col("dst").as("w")), Seq("mid"))
      .filter(col("w") % DELETE_MOD =!= 0 && col("w") =!= col("src"))
      .select(col("src"), col("w").as("dst"))
    val cand = surv.union(bridges).distinct()
    val base = withNorm(Tables.embeddings(spark, sfDir))
    val q = base.select(col("vec_id").as("src"),
      col("embedding").as("eq"), col("nm").as("nq"))
    val n = base.select(col("vec_id").as("dst"),
      col("embedding").as("ed"), col("nm").as("nd"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    cand.join(q, Seq("src")).join(n, Seq("dst"))
      .withColumn("cosine", round(vecDot(col("eq"), col("ed")) / (col("nq") * col("nd")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= GRAPH_DEGREE)
      .select(col("src"), col("dst"), col("cosine"), col("rnk"))
  }

  val simsearchGraphDeleteSql: String =
    s"""WITH knn AS MATERIALIZED (${nnDescentAdjSql(GRAPH_DEGREE, "true")}),
       |gu AS MATERIALIZED (
       |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |         generate_subscripts(embedding, 1) AS i
       |  FROM embeddings),
       |gn AS MATERIALIZED (
       |  SELECT vec_id, sqrt(sum(x * x)) AS nm FROM gu GROUP BY 1),
       |aff AS MATERIALIZED (
       |  SELECT DISTINCT src FROM knn
       |  WHERE dst % $DELETE_MOD = 0 AND src % $DELETE_MOD <> 0),
       |surv AS (
       |  SELECT k.src, k.dst FROM knn k JOIN aff a ON k.src = a.src
       |  WHERE k.dst % $DELETE_MOD <> 0),
       |bridge AS (
       |  SELECT e1.src, e2.dst
       |  FROM knn e1
       |  JOIN aff a ON e1.src = a.src
       |  JOIN knn e2 ON e1.dst = e2.src
       |  WHERE e1.dst % $DELETE_MOD = 0 AND e2.dst % $DELETE_MOD <> 0
       |    AND e2.dst <> e1.src),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM surv UNION ALL SELECT src, dst FROM bridge)),
       |cd AS (
       |  SELECT c.src, c.dst, sum(a.x * b.x) AS dot
       |  FROM cand c
       |  JOIN gu a ON a.vec_id = c.src
       |  JOIN gu b ON b.vec_id = c.dst AND a.i = b.i
       |  GROUP BY 1, 2)
       |SELECT src, dst, cosine, rnk FROM (
       |  SELECT d.src, d.dst,
       |         round(d.dot / (n1.nm * n2.nm), 6) AS cosine,
       |         row_number() OVER (PARTITION BY d.src
       |                            ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC,
       |                                     d.dst) AS rnk
       |  FROM cd d
       |  JOIN gn n1 ON d.src = n1.vec_id
       |  JOIN gn n2 ON d.dst = n2.vec_id) r
       |WHERE rnk <= $GRAPH_DEGREE""".stripMargin

  // --------------------------------------------------------------------
  // Post-repair adjacency health (acting on the delete path's signal)
  // --------------------------------------------------------------------

  /** A surviving node with fewer than this many post-repair out-edges is
    * STARVED: it cannot serve a top-[[IVF_TOP_K]] answer from its own
    * neighborhood, so traversals entering its region under-return.
    */
  val GRAPH_STARVE_DEGREE: Int = IVF_TOP_K

  /** A region (quantizer cell) whose starved fraction exceeds this
    * trips the rebuild flag — the same threshold-gated-refit convention
    * as [[simsearchIndexDrift]]'s `refit_flag`.
    */
  val GRAPH_STARVED_REBUILD_FRAC = 0.05

  /** Per-region health of an adjacency: every node (a (vec_id, cell)
    * row — nodes with ZERO surviving edges must still count, so the
    * node set is the input, not the edge list) left-joined to its
    * out-degree, rolled up per cell to (n_nodes, avg_degree, n_starved,
    * starved_frac, rebuild_flag). One degree aggregation on the edge
    * key + one cell rollup — both map-side-combinable; output is
    * K rows. Generic over the node/edge frames so the spec can plant a
    * dead neighborhood and watch the flag trip.
    */
  def adjacencyHealth(nodes: DataFrame, adj: DataFrame): DataFrame = {
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).cast("long").as("degree"))
    nodes.join(deg, nodes("vec_id") === deg("src"), "left")
      .select(col("cell"), coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        round(avg(col("degree")), 6).as("avg_degree"),
        sum((col("degree") < GRAPH_STARVE_DEGREE).cast("long")).as("n_starved"))
      .withColumn("starved_frac",
        round(col("n_starved").cast("double") / col("n_nodes").cast("double"), 6))
      .withColumn("rebuild_flag",
        (col("starved_frac") > GRAPH_STARVED_REBUILD_FRAC).cast("long"))
      .select(col("cell"), col("n_nodes"), col("avg_degree"),
        col("n_starved"), col("starved_frac"), col("rebuild_flag"))
  }

  /** ACTING on the delete path's rebuild signal
    * (round-11 worklist #4): the post-delete REPAIRED adjacency —
    * unaffected survivors keep their edges (an unaffected node by
    * definition lost none), affected survivors take their
    * [[deleteRepairDelta]] rows — is rolled up per REGION, where a
    * region is the shared corpus quantizer's cell (embedding-space
    * locality, the same regions the drift monitor watches). The output
    * names exactly which regions of the adjacency need rebuilding
    * after the churn batch: a cell whose starved fraction clears
    * [[GRAPH_STARVED_REBUILD_FRAC]] flags, and the flagged cells' node
    * lists are the rebuild work-list (re-run NN-descent restricted to
    * those cells' nodes — region-local cost, never a full
    * reconstruction).
    */
  def simsearchGraphRepairHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = graphIndex(spark, sfDir)
    val delDst = col("dst") % DELETE_MOD === 0
    val survSrc = col("src") % DELETE_MOD =!= 0
    val aff = edges.filter(delDst && survSrc).select(col("src")).distinct()
    val unaffected = edges.filter(survSrc)
      .join(aff, Seq("src"), "left_anti")
      .select(col("src"), col("dst"))
    val repaired = unaffected
      .unionByName(deleteRepairDelta(spark, sfDir).select(col("src"), col("dst")))
    val base = withNorm(Tables.embeddings(spark, sfDir)).localCheckpoint()
    val nodes = base.filter(col("vec_id") % DELETE_MOD =!= 0)
      .select(col("vec_id"), assignCol(corpusModel(spark, sfDir, base)).as("cell"))
    adjacencyHealth(nodes, repaired)
  }

  /** Oracle: the kmeans assignment chain + the delete repair chain,
    * composed; `unaff ∪ delta` is the repaired adjacency, `asgf`
    * restricted to survivors is the node set.
    */
  val simsearchGraphRepairHealthSql: String =
    s"""$kmeansCtePrefix,
       |knn AS MATERIALIZED (${nnDescentAdjSql(GRAPH_DEGREE, "true")}),
       |aff AS MATERIALIZED (
       |  SELECT DISTINCT src FROM knn
       |  WHERE dst % $DELETE_MOD = 0 AND src % $DELETE_MOD <> 0),
       |surv AS (
       |  SELECT k.src, k.dst FROM knn k JOIN aff a ON k.src = a.src
       |  WHERE k.dst % $DELETE_MOD <> 0),
       |bridge AS (
       |  SELECT e1.src, e2.dst
       |  FROM knn e1
       |  JOIN aff a ON e1.src = a.src
       |  JOIN knn e2 ON e1.dst = e2.src
       |  WHERE e1.dst % $DELETE_MOD = 0 AND e2.dst % $DELETE_MOD <> 0
       |    AND e2.dst <> e1.src),
       |rcand AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM surv UNION ALL SELECT src, dst FROM bridge)),
       |rcd AS (
       |  SELECT c.src, c.dst, sum(a.x * b.x) AS dot
       |  FROM rcand c
       |  JOIN u a ON a.vec_id = c.src
       |  JOIN u b ON b.vec_id = c.dst AND a.i = b.i
       |  GROUP BY 1, 2),
       |delta AS (
       |  SELECT src, dst FROM (
       |    SELECT d.src, d.dst,
       |           row_number() OVER (PARTITION BY d.src
       |                              ORDER BY round(d.dot / (n1.nm * n2.nm), 6) DESC,
       |                                       d.dst) AS rnk
       |    FROM rcd d
       |    JOIN nrm n1 ON d.src = n1.vec_id
       |    JOIN nrm n2 ON d.dst = n2.vec_id) r
       |  WHERE rnk <= $GRAPH_DEGREE),
       |unaff AS (
       |  SELECT k.src, k.dst FROM knn k
       |  WHERE k.src % $DELETE_MOD <> 0
       |    AND k.src NOT IN (SELECT src FROM aff)),
       |repaired AS (
       |  SELECT src, dst FROM unaff UNION ALL SELECT src, dst FROM delta),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
       |        FROM repaired GROUP BY 1),
       |hnodes AS (
       |  SELECT a.vec_id, a.cell, coalesce(d.degree, 0) AS degree
       |  FROM asgf a LEFT JOIN deg d ON a.vec_id = d.src
       |  WHERE a.vec_id % $DELETE_MOD <> 0),
       |hstat AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_nodes,
       |         round(avg(degree), 6) AS avg_degree,
       |         CAST(count(*) FILTER (WHERE degree < $GRAPH_STARVE_DEGREE) AS BIGINT)
       |           AS n_starved
       |  FROM hnodes GROUP BY 1)
       |SELECT cell, n_nodes, avg_degree, n_starved,
       |       round(CAST(n_starved AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
       |         AS starved_frac,
       |       CAST(round(CAST(n_starved AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
       |              > $GRAPH_STARVED_REBUILD_FRAC AS BIGINT) AS rebuild_flag
       |FROM hstat""".stripMargin
}
