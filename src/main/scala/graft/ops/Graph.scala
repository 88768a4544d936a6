package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Tables

/** Graph analytics over corpus-derived graphs — here PageRank over the
  * approximate k-NN similarity graph ([[Dedup.knnGraph]]): a centrality
  * score for every embedded document, the standard "how referenced /
  * how central is this item" signal used for corpus quality weighting
  * (harmonic/PageRank centrality over link graphs in CommonCrawl-scale
  * curation) and as a sampling prior.
  *
  * Determinism across engines: the rank update is computed in FIXED
  * POINT — ranks are parts-per-billion longs, contributions use integer
  * division — so the result is bit-identical regardless of the order
  * partial sums combine in. A double formulation would drift between
  * Spark and DuckDB (and between two Spark runs with different partition
  * counts) in the last bits, and rounding intermediate doubles leaves a
  * knife-edge probability per value per round; integers have no edge.
  *
  * Scale shape: the edge frame is joined per iteration pre-partitioned
  * on `src` (the static big side moves once, the ranks side — one row
  * per node — reshuffles per round), contributions aggregate with
  * map-side partial sums, and each round is localCheckpoint'ed so
  * lineage stays flat (the k-means/CC lesson). Dangling-node mass (no
  * out-edges) is dropped, the standard simplified variant — rank sums
  * stay below [[PR_SCALE]] by the leaked mass plus integer truncation.
  */
object Graph {

  /** Fixed-point scale: ranks are expressed in parts per billion. */
  val PR_SCALE = 1000000000L

  /** Damping factor as an exact rational (85/100). */
  val PR_DAMP_NUM = 85L
  val PR_DAMP_DEN = 100L

  /** Fixed iteration count — deterministic output shape; centrality
    * separates within a few rounds on bounded-degree graphs.
    */
  val PR_ITERS = 3

  /** PageRank over an arbitrary directed edge list. `nodes` carries one
    * `id` column; `edges` carries (src, dst). Returns (id, rank_ppb,
    * rank) with rank_ppb the exact fixed-point value.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("k"))
    // the static build side and the node frame are independent pinned
    // builds — overlap them (guide §2.6):
    // e: (src, dst, out-degree), moved once per run;
    // n0: node frame pre-partitioned on id, so the per-round left join
    // reshuffles only the contribution aggregate, never the node set
    val r = Overlap.all(Seq(
      () => edges.join(outDeg, Seq("src"))
        .select(col("src"), col("dst"), col("k"))
        .repartition(col("src"))
        .localCheckpoint(),
      () => nodes.select(col("id")).repartition(col("id")).localCheckpoint()), Overlap.DEFAULT_CAP)
    val (e, n0) = (r(0), r(1))
    val n = n0.count()
    require(n > 0, "pageRank needs a non-empty node set")
    val r0 = PR_SCALE / n
    val base = (PR_SCALE - PR_DAMP_NUM * PR_SCALE / PR_DAMP_DEN) / n
    var ranks = n0.select(col("id"), lit(r0).as("r"))
    (1 to PR_ITERS).foreach { _ =>
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"),
          expr(s"($PR_DAMP_NUM * r) div ($PR_DAMP_DEN * k)").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = n0
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(base) + coalesce(col("s"), lit(0L))).cast("long").as("r"))
        .localCheckpoint()
    }
    ranks.select(col("id"), col("r").as("rank_ppb"),
      round(col("r").cast("double") / lit(PR_SCALE.toDouble), 6).as("rank"))
  }

  /** PageRank over the k-NN similarity graph: each vector links to its
    * [[Dedup.KNN_K]] nearest LSH-bucketed neighbors; rank measures how
    * often a vector is someone ELSE's neighbor, weighted recursively —
    * hub documents in embedding space.
    */
  def graphPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    pageRank(
      emb.select(col("vec_id").as("id")),
      Dedup.sharedKnnGraph(spark, sfDir)
        .select(col("vec_id").as("src"), col("nn_id").as("dst")))
      .select(col("id").as("vec_id"), col("rank_ppb"), col("rank"))
  }

  // ── Triangle counting / clustering structure ───────────────────────────

  /** The k-NN graph as a unique undirected (u, v) edge frame (every edge
    * kept once: least/greatest collapse + distinct — mutual k-NN edges
    * merge) — the raw edge set both the cold queries and the incremental
    * maintenance decompose. Session-shared per corpus: all five
    * triangle-family consumers reuse one checkpointed frame over the
    * shared knn edges. Degree-ORIENTATION ([[orient]]/[[orientBy]]) is
    * THE scale device downstream (Schank/Wagner; the MapReduce form is
    * Suri & Vassilvitskii's MR-NodeIterator++): every triangle is found
    * exactly once from its lowest-ordered vertex, and a node's oriented
    * out-degree is O(√m) on ANY graph — a celebrity hub with millions of
    * undirected neighbors orients almost all of them INWARD, so the
    * wedge join fans out from the small side and the hub never
    * materializes its neighborhood². Here in-degree is the unbounded one
    * (k-NN out-degree is capped at [[Dedup.KNN_K]], but a hub vector can
    * be in everyone's top-k); orientation bounds exactly that.
    */
  private[graft] def sharedUnd(spark: SparkSession, sfDir: String): DataFrame =
    SharedFits.memo(spark, s"graph_und:$sfDir") {
      Dedup.sharedKnnGraph(spark, sfDir).select(
        least(col("vec_id"), col("nn_id")).as("u"),
        greatest(col("vec_id"), col("nn_id")).as("v")).distinct()
        .localCheckpoint()
    }

  /** The seam the spec drives with explicit embeddings. */
  private[graft] def undirectedKnn(emb: DataFrame): DataFrame =
    Dedup.knnGraph(emb, Dedup.KNN_K, Dedup.EMB_DIM).select(
      least(col("vec_id"), col("nn_id")).as("u"),
      greatest(col("vec_id"), col("nn_id")).as("v")).distinct()

  /** Per-node undirected degrees of a unique (u, v) edge frame. */
  private[graft] def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))

  /** Degree-orient a unique undirected (u, v) edge frame — the seam the
    * spec drives with planted graphs (K4, stars, pendants).
    */
  private[graft] def orient(und: DataFrame): (DataFrame, DataFrame) = {
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    (orientBy(und, deg), deg)
  }

  /** Orient `und` by a SUPPLIED strict total order (d, id) — the seam the
    * incremental delta needs: standing and arrival edge frames must share
    * ONE orientation (the merged-degree order, which — standing ∪ arrival
    * degrees being the full graph's — is exactly the cold pass's), or a
    * triangle straddling the split could be enumerated twice or lost.
    * `deg` joins are node-sized linear probes; the oriented frame is
    * localCheckpoint'ed because the triangle join probes it repeatedly.
    */
  private[graft] def orientBy(und: DataFrame, deg: DataFrame): DataFrame = {
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    und
      .join(deg.select(col("id").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("dv")), Seq("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"))
      .localCheckpoint()
  }

  /** Each triangle once, as (x, y, z) in orientation order: edges
    * (x→y), (y→z), (x→z) all exist in the oriented frame. Two equi-joins
    * — the wedge build (x→y→z) then the closing-edge probe — no
    * cartesian anywhere, wedge count bounded by Σ out-deg² ≤ O(m^1.5).
    */
  private[graft] def triangleSet(e: DataFrame): DataFrame =
    e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .select(col("x"), col("y"), col("z"))

  /** `graph_triangles`: per-node triangle membership + local clustering
    * coefficient over the k-NN similarity graph — the local-density
    * signal (a document whose neighbors are neighbors of each other sits
    * in a tight semantic cluster; a zero-coefficient node bridges).
    * Output (vec_id, degree, triangles, coeff_ppm) with coeff_ppm =
    * ⌊2·T·10⁶ / (d·(d−1))⌋ — exact integer arithmetic, no cross-engine
    * float (`div` ≡ DuckDB `//` on the non-negative operands here).
    */
  def graphTriangles(spark: SparkSession, sfDir: String): DataFrame =
    withCoeff(nodeStats(sharedUnd(spark, sfDir)))

  /** Per-node (id, d, t) over a unique undirected edge frame — degree and
    * triangle membership. This is BOTH the cold computation and the
    * standing state the incremental form persists (triangle membership is
    * orientation-independent, so standing counts computed under the
    * standing-only orientation merge exactly with delta counts computed
    * under the merged orientation).
    */
  private[graft] def nodeStats(und: DataFrame): DataFrame = {
    val (e, deg) = orient(und)
    val perNode = triangleSet(e)
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("id"), "left")
      .select(col("id"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
  }

  /** (id, d, t) → the gated output shape (vec_id, degree, triangles,
    * coeff_ppm) — shared by the cold and incremental forms so the
    * projection cannot drift.
    */
  private[graft] def withCoeff(stats: DataFrame): DataFrame =
    stats
      .select(col("id").as("vec_id"), col("d").as("degree"),
        col("t").as("triangles"))
      .withColumn("coeff_ppm",
        when(col("degree") >= 2,
          expr("(2 * triangles * 1000000) div (degree * (degree - 1))"))
          .otherwise(lit(0L)))

  /** `graph_transitivity`: the global clustering summary — triangle
    * count, wedge count (Σ d·(d−1)/2), and the transitivity ratio
    * 3·T/W in ppm. One row; the corpus-level "how clustered is the
    * embedding space" scalar that complements the per-node view.
    */
  def graphTransitivity(spark: SparkSession, sfDir: String): DataFrame = {
    val (e, deg) = orient(sharedUnd(spark, sfDir))
    val nt = triangleSet(e).agg(count(lit(1)).as("n_triangles"))
    val w = deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    nt.crossJoin(w) // two singleton rows — the adjudicated stitch shape
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          expr("(3 * n_triangles * 1000000) div n_wedges"))
          .otherwise(lit(0L)).as("transitivity_ppm"))
  }

  // ── Incremental triangle maintenance ────────────────────────────────────

  /** `graph_triangles_incremental`: the per-node triangle stats MAINTAINED
    * as the similarity graph grows — the incremental completion of
    * [[graphTriangles]], closing the last first-class family with no
    * incremental form. The graph-ANN insert path already defines how the
    * EDGE SET evolves (arrivals link in, standing–standing edges persist —
    * [[Similarity.simsearchGraphInsert]]); this operator consumes that
    * decomposition: standing per-node (degree, triangles) state — the
    * FitStore-persisted artifact a deployment carries between stats runs —
    * plus the arrival-incident edge delta, and produces the full updated
    * stats table without re-enumerating standing wedges.
    *
    * Odd vec_ids play the arriving nodes (the repo's split convention): an
    * edge is an ARRIVAL iff it touches an odd node, STANDING iff both
    * endpoints are even. Delta triangles (≥ 1 arrival edge) are enumerated
    * EXACTLY ONCE by splitting the cold oriented enumeration
    * (x→y, y→z, close x→z) into the three disjoint first-arrival-edge
    * classes — W1: x→y ∈ A (the other two anywhere); W2: x→y ∈ S,
    * y→z ∈ A; W3: x→y, y→z ∈ S, close ∈ A, driven FROM the arrival
    * closing edge so standing wedges are never built. Orientation uses the
    * MERGED degrees — which are the full graph's, so the enumeration is
    * the cold one restricted to arrival-touching triangles, and per-node
    * counts merge additively: t = t_standing + t_delta, d = d_standing +
    * d_arrival. Every join is an equi-join whose bounded side is the batch
    * (W3's standing probes fan Σ_{x ∈ A} outdeg_S(x) — the oriented
    * out-degree is O(√m), the same Schank–Wagner bound as cold); the
    * standing-side probes are UNHINTED (the round-13 broadcast lesson).
    * Oracle: the cold [[graphTrianglesSql]] VERBATIM — incremental ≡ cold
    * on the whole node set.
    */
  def graphTrianglesIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val und = sharedUnd(spark, sfDir)
    val undS = und.filter(col("u") % 2 === 0 && col("v") % 2 === 0)
    val undA = und.filter(col("u") % 2 === 1 || col("v") % 2 === 1)
    trianglesIncrementalOver(undA, sharedStandingTriStats(spark, sfDir, undS),
      orientBy(undS, _))
  }

  /** The standing half's per-node (id, d, t) — the artifact the stats
    * maintainer persists between runs, fingerprint-keyed like every fit.
    */
  private[graft] def sharedStandingTriStats(spark: SparkSession, sfDir: String,
      undS: => DataFrame): DataFrame =
    SharedFits.memo(spark, s"tri_stats_even:$sfDir") {
      FitStore.frame(spark, "tri_stats_even",
        FitStore.embeddingsFp(spark, sfDir, None)) {
        nodeStats(undS)
      }.localCheckpoint()
    }

  /** The split-agnostic core: arrival edges + persisted standing stats +
    * a function producing the standing edge frame oriented by a supplied
    * degree table (the seam — the gated query orients the true standing
    * edges; the spec drives planted graphs). Standing EDGES are read only
    * through `orientSt` (one linear pass to orient), never wedge-joined
    * to themselves.
    */
  private[graft] def trianglesIncrementalOver(undA: DataFrame,
      statsSt: DataFrame, orientSt: DataFrame => DataFrame): DataFrame = {
    val (degM, eS, eA) = mergedFrames(undA, statsSt, orientSt)
    val tDelta = triangleDelta(eS, eA)
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("td"))
    withCoeff(degM
      .join(statsSt.select(col("id"), col("t")), Seq("id"), "left")
      .join(tDelta, Seq("id"), "left")
      .select(col("id"), col("d"),
        (coalesce(col("t"), lit(0L)) + coalesce(col("td"), lit(0L))).as("t")))
  }

  /** Merged degree table + both edge frames oriented by it — shared by
    * the per-node and global incremental forms. Merged degrees = full-
    * graph degrees (standing ∪ arrival edge sets are disjoint and
    * exhaustive); arrival-only nodes enter at d_standing = 0.
    */
  private def mergedFrames(undA: DataFrame, statsSt: DataFrame,
      orientSt: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dA = degreesOf(undA)
    val degM = statsSt.select(col("id"), col("d"))
      .join(dA.select(col("id"), col("d").as("da")), Seq("id"), "full")
      .select(col("id"),
        (coalesce(col("d"), lit(0L)) + coalesce(col("da"), lit(0L))).as("d"))
      .localCheckpoint()
    (degM, orientSt(degM), orientBy(undA, degM))
  }

  /** `graph_transitivity_incremental`: the global clustering scalar
    * maintained from the SAME standing state as the per-node form —
    * standing triangle total recovered exactly from the persisted
    * per-node memberships (Σt = 3·T over a closed node set), the delta
    * counted once per arrival-touching triangle by [[triangleDelta]],
    * wedges re-derived from the merged (= full-graph) degrees at
    * |nodes| rows. Oracle: the cold [[graphTransitivitySql]] VERBATIM.
    */
  def graphTransitivityIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val und = sharedUnd(spark, sfDir)
    val undS = und.filter(col("u") % 2 === 0 && col("v") % 2 === 0)
    val undA = und.filter(col("u") % 2 === 1 || col("v") % 2 === 1)
    transitivityIncrementalOver(undA,
      sharedStandingTriStats(spark, sfDir, undS), orientBy(undS, _))
  }

  private[graft] def transitivityIncrementalOver(undA: DataFrame,
      statsSt: DataFrame, orientSt: DataFrame => DataFrame): DataFrame = {
    val (degM, eS, eA) = mergedFrames(undA, statsSt, orientSt)
    val ntS = statsSt.agg(expr("coalesce(sum(t), 0) div 3").as("ts"))
    val ntD = triangleDelta(eS, eA).agg(count(lit(1)).as("td"))
    val w = degM.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    ntS.crossJoin(ntD).crossJoin(w) // three singleton rows — the stitch shape
      .select((col("ts") + col("td")).as("n_triangles"), col("n_wedges"))
      .withColumn("transitivity_ppm",
        when(col("n_wedges") > 0,
          expr("(3 * n_triangles * 1000000) div n_wedges"))
          .otherwise(lit(0L)))
  }

  /** Each arrival-touching triangle once: the cold oriented enumeration
    * split by the FIRST arrival edge along (x→y, y→z, x→z). W1/W2/W3
    * partition the ≥1-arrival patterns (A**, SA*, SSA) — disjoint by the
    * leading-edge membership, complete by case exhaustion. Both frames
    * must share one strict orientation ([[orientBy]] under merged
    * degrees).
    */
  private[graft] def triangleDelta(eS: DataFrame, eA: DataFrame): DataFrame = {
    val eAll = eS.unionByName(eA)
    val w1 = eA.select(col("a").as("x"), col("b").as("y"))
      .join(eAll.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(eAll.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    val w2 = eS.select(col("a").as("x"), col("b").as("y"))
      .join(eA.select(col("a").as("y"), col("b").as("z")), Seq("y"))
      .join(eAll.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
    // driven from the arrival CLOSING edge: probe standing out-edges of x,
    // then the standing closing wedge — standing wedges never materialize
    val w3 = eA.select(col("a").as("x"), col("b").as("z"))
      .join(eS.select(col("a").as("x"), col("b").as("y")), Seq("x"))
      .join(eS.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
    Seq(w1, w2, w3).map(_.select(col("x"), col("y"), col("z")))
      .reduce(_ unionByName _)
  }

  // ── Streaming per-batch primitives (graph_tri_stream) ──────────────────

  /** The edges a micro-batch OWNS under last-arriving-endpoint emission:
    * edges of the batch-invariant full frame that touch a batch node and
    * whose other endpoint has already been seen (standing-even, arrived
    * in an earlier batch, or in this batch). An edge to a NOT-yet-arrived
    * odd node is excluded here and owned by that node's own batch — so
    * batch ownership partitions the arrival edge set however the stream
    * happens to batch. One linear probe of the full edge frame per batch
    * (the replay derives the delta the production insert path would emit
    * directly), batch/arrived sides are key-joined, unhinted.
    */
  private[graft] def batchEdges(und: DataFrame, nb: DataFrame,
      arrived: DataFrame): DataFrame = {
    val f = und
      .join(nb.select(col("id").as("u"), lit(true).as("fu")), Seq("u"), "left")
      .join(nb.select(col("id").as("v"), lit(true).as("fv")), Seq("v"), "left")
      .join(arrived.select(col("id").as("u"), lit(true).as("au")), Seq("u"), "left")
      .join(arrived.select(col("id").as("v"), lit(true).as("av")), Seq("v"), "left")
    def seen(n: Column, arr: Column, bat: Column): Column =
      n % 2 === 0 || coalesce(arr, lit(false)) || coalesce(bat, lit(false))
    f.filter((coalesce(col("fu"), lit(false)) || coalesce(col("fv"), lit(false))) &&
        seen(col("u"), col("au"), col("fu")) &&
        seen(col("v"), col("av"), col("fv")))
      .select(col("u"), col("v"))
  }

  /** One micro-batch's emission: per-node (id, dd, td) — the batch's
    * degree delta plus its triangle memberships, counted once each by
    * [[triangleDelta]] over the so-far graph (seen ∪ batch edges,
    * oriented by the so-far degrees — any per-batch-consistent strict
    * order is valid; ownership already guarantees each triangle lands in
    * exactly one batch). Emissions merge ADDITIVELY with the standing
    * stats at drain, so the sink is batchId-keyed and retry-idempotent.
    */
  private[graft] def triStreamEmit(seenEdges: DataFrame, aB: DataFrame): DataFrame = {
    val degB = degreesOf(seenEdges.unionByName(aB)).localCheckpoint()
    val td = triangleDelta(orientBy(seenEdges, degB), orientBy(aB, degB))
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("td"))
    degreesOf(aB).select(col("id"), col("d").as("dd"))
      .join(td, Seq("id"), "full")
      .select(col("id"), coalesce(col("dd"), lit(0L)).as("dd"),
        coalesce(col("td"), lit(0L)).as("td"))
  }

  /** Drain-side merge: standing (id, d, t) + summed per-batch (dd, td)
    * deltas → the full stats table, shared projection with the cold form.
    */
  private[graft] def triStreamMerge(statsSt: DataFrame, deltas: DataFrame): DataFrame =
    withCoeff(statsSt
      .join(deltas.groupBy(col("id"))
        .agg(sum(col("dd")).as("dd"), sum(col("td")).as("td")), Seq("id"), "full")
      .select(col("id"),
        (coalesce(col("d"), lit(0L)) + coalesce(col("dd"), lit(0L))).as("d"),
        (coalesce(col("t"), lit(0L)) + coalesce(col("td"), lit(0L))).as("t")))

  /** Shared oracle CTE chain: undirected-unique edges, degrees,
    * degree-oriented edges, and the triangle set — the same construction
    * the Spark side runs, over [[Dedup.simsearchKnnGraphSql]]'s edge
    * list.
    */
  private val TRI_CTES: String =
    s"""knn AS (${Dedup.simsearchKnnGraphSql}),
       |und AS (SELECT DISTINCT least(vec_id, nn_id) AS u, greatest(vec_id, nn_id) AS v FROM knn),
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d
       |        FROM (SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
       |        GROUP BY 1),
       |e AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
       |                  THEN und.u ELSE und.v END AS a,
       |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
       |                  THEN und.v ELSE und.u END AS b
       |      FROM und JOIN deg du ON und.u = du.id JOIN deg dv ON und.v = dv.id),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM e e1 JOIN e e2 ON e2.a = e1.b
       |                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)""".stripMargin

  val graphTrianglesSql: String =
    s"""WITH $TRI_CTES,
       |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS t
       |         FROM (SELECT x AS id FROM tri UNION ALL
       |               SELECT y AS id FROM tri UNION ALL
       |               SELECT z AS id FROM tri)
       |         GROUP BY 1)
       |SELECT deg.id AS vec_id, deg.d AS degree,
       |       CAST(coalesce(tcnt.t, 0) AS BIGINT) AS triangles,
       |       CAST(CASE WHEN deg.d >= 2
       |                 THEN (2 * coalesce(tcnt.t, 0) * 1000000) // (deg.d * (deg.d - 1))
       |                 ELSE 0 END AS BIGINT) AS coeff_ppm
       |FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id""".stripMargin

  val graphTransitivitySql: String =
    s"""WITH $TRI_CTES,
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri),
       |w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
       |SELECT n_triangles, n_wedges,
       |       CAST(CASE WHEN n_wedges > 0
       |                 THEN (3 * n_triangles * 1000000) // n_wedges
       |                 ELSE 0 END AS BIGINT) AS transitivity_ppm
       |FROM nt CROSS JOIN w""".stripMargin

  /** The oracle unrolls the fixed iteration count as chained CTEs over
    * the same k-NN edge list ([[Dedup.simsearchKnnGraphSql]] nested as a
    * CTE), replaying the identical integer arithmetic (`//` floor
    * division ≡ Spark `div` on non-negative operands; sums cast back to
    * BIGINT before reuse — DuckDB widens integer sums to HUGEINT).
    */
  val graphPagerankSql: String = {
    val iterCtes = (1 to PR_ITERS).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id,
         |         CAST(sum(($PR_DAMP_NUM * r.r) // ($PR_DAMP_DEN * e.k)) AS BIGINT) AS s
         |  FROM e JOIN r${i - 1} r ON e.src = r.id
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT n.id, CAST(b.base + coalesce(c.s, 0) AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN b LEFT JOIN c$i c ON n.id = c.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH knn AS (${Dedup.simsearchKnnGraphSql}),
       |edges AS (SELECT vec_id AS src, nn_id AS dst FROM knn),
       |outd AS (SELECT src, CAST(count(*) AS BIGINT) AS k FROM edges GROUP BY 1),
       |e AS (SELECT g.src, g.dst, o.k FROM edges g JOIN outd o ON g.src = o.src),
       |nodes AS (SELECT vec_id AS id FROM embeddings),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |b AS (SELECT CAST((CAST($PR_SCALE AS BIGINT)
       |                    - $PR_DAMP_NUM * CAST($PR_SCALE AS BIGINT) // $PR_DAMP_DEN) // n
       |               AS BIGINT) AS base,
       |             CAST(CAST($PR_SCALE AS BIGINT) // n AS BIGINT) AS r0 FROM nn),
       |r0 AS (SELECT id, b.r0 AS r FROM nodes CROSS JOIN b),
       |$iterCtes
       |SELECT id AS vec_id, r AS rank_ppb,
       |       round(CAST(r AS DOUBLE) / $PR_SCALE, 6) AS rank
       |FROM r$PR_ITERS""".stripMargin
  }

  /** Link-prediction center cap: wedge centers with undirected degree
    * above this are excluded from scoring (and auditable as shed mass) —
    * the capped-blocking discipline from entity resolution. With the cap,
    * the wedge space is Σ_{d(w)≤cap} d(w)² ≤ cap · Σ d(w) = 2·cap·|E| —
    * LINEAR in edges, where the uncapped form is quadratic at any hub.
    * The information cost is small by design: a hub's per-neighbor-pair
    * evidence weight is 1/d(w), so the shed centers are exactly the ones
    * contributing the weakest evidence. At the gated corpora the k-NN
    * graph's max undirected degree sits far below the cap, so the gate
    * exercises the uncapped semantics and the cap is the (stated,
    * oracle-shared) scale policy.
    */
  val LINK_CENTER_CAP = 64L

  /** Top-k cut for the link-prediction report. */
  val LINK_TOPK = 100

  /** Resource-Allocation scale: scores are Σ (10⁶ div d(w)) over common
    * neighbors w — exact integer arithmetic (the [[graphTriangles]]
    * coeff_ppm discipline), so the top-k cut never rides a cross-engine
    * float knife edge the way a Σ 1/ln(d) Adamic–Adar would.
    */
  val RA_SCALE = 1000000L

  /** `graph_link_predict`: missing-link scores over the k-NN similarity
    * graph — for every NON-adjacent pair (a, b) with at least one common
    * neighbor, the common-neighbor count and the Resource-Allocation
    * index Σ_w∈N(a)∩N(b) 1/d(w) (Zhou–Lü–Zhang 2009; the RA index is the
    * AA-family predictor whose per-term weight is RATIONAL, kept here as
    * exact integer ppm). On a document-similarity graph this is the
    * "these two documents should be near-duplicates / same cluster but
    * no edge was built" signal — the edge-repair complement to the
    * triangle family's density report.
    *
    * Shape: wedge enumeration at each center (one self-join of the
    * adjacency on the center column, a < b cutting each unordered pair
    * once), hash-agg to (a, b) scores, LEFT ANTI against the edge set to
    * keep non-edges, TakeOrdered on the exact integer key
    * (ra_ppm desc, a, b). No cartesian, no window; wedge space bounded
    * linear-in-edges by [[LINK_CENTER_CAP]].
    */
  def linkPredictFrom(und: DataFrame): DataFrame =
    linkFinish(linkScores(und), und)

  /** The maintainable grain: (a, b, cn, ra_ppm) for EVERY wedge pair at
    * centers within the cap — BEFORE the non-adjacency filter and the
    * top-k cut (both order-free final consumers, applied by
    * [[linkFinish]]). This is the per-pair table the incremental
    * maintainer persists and merges into additively.
    */
  private[graft] def linkScores(und: DataFrame): DataFrame = {
    val deg = degreesOf(und)
    val adj = und.select(col("u").as("w"), col("v").as("nb"))
      .unionByName(und.select(col("v").as("w"), col("u").as("nb")))
    val centers = adj.join(
      deg.filter(col("d") <= LINK_CENTER_CAP).select(col("id").as("w"), col("d")),
      Seq("w"))
    val wedges = centers.select(col("w"), col("d"), col("nb").as("a"))
      .join(centers.select(col("w"), col("nb").as("b")), Seq("w"))
      .filter(col("a") < col("b"))
    wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("cn"),
        sum(expr(s"$RA_SCALE div d")).cast("long").as("ra_ppm"))
  }

  /** Non-adjacency filter + deterministic top-k on the exact integer key. */
  private[graft] def linkFinish(scored: DataFrame, und: DataFrame): DataFrame =
    scored
      .join(und.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"), "left_anti")
      .orderBy(col("ra_ppm").desc, col("a"), col("b"))
      .limit(LINK_TOPK)
      .select(col("a"), col("b"), col("cn"), col("ra_ppm"))

  def graphLinkPredict(spark: SparkSession, sfDir: String): DataFrame =
    linkPredictFrom(sharedUnd(spark, sfDir))

  /** `graph_link_predict_incremental`: the per-pair link scores MAINTAINED
    * as the graph grows — the incremental completion of
    * [[graphLinkPredict]], riding the same standing/arrival edge split as
    * the triangle maintainer. The complication the triangle family does
    * not have: a center's per-pair weight 10⁶ div d(w) DEPENDS on its
    * final degree, so arrival edges at w change the value of wedges that
    * existed before. The delta algebra handles that exactly, in three
    * disjoint classes over centers:
    *
    *  - NEW wedges (≥1 arrival leg) at centers with merged degree ≤ cap:
    *    A×S and A×A neighbor pairs at w, weight 10⁶ div d_merged, cn +1 —
    *    each merged wedge with an arrival leg lands in exactly one class;
    *  - RE-WEIGHT: standing S×S pairs at TOUCHED centers (arrival-
    *    incident, 1 ≤ d_standing ≤ cap): ra += (w_merged − w_standing)
    *    where w_merged = 0 past the cap, and cn −1 exactly when the
    *    center crossed the cap (the standing wedge retracts entirely);
    *  - UNTOUCHED centers: d unchanged, no delta (their standing rows
    *    pass through the merge).
    *
    * Per-pair state then merges additively (standing ⊕ Σdeltas, rows at
    * cn = 0 drop), and [[linkFinish]] applies the merged-graph
    * non-adjacency filter — which also kills predictions that BECAME
    * edges. The touched-center S×S probe is bounded by cap² per touched
    * center; standing edges are never wedge-joined to themselves beyond
    * it; all standing-side probes unhinted. Oracle: the cold
    * [[graphLinkPredictSql]] VERBATIM — incremental ≡ cold on the whole
    * graph.
    */
  def graphLinkPredictIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val und = sharedUnd(spark, sfDir)
    val undS = und.filter(col("u") % 2 === 0 && col("v") % 2 === 0)
    val undA = und.filter(col("u") % 2 === 1 || col("v") % 2 === 1)
    linkIncrementalOver(undA, undS, sharedStandingLinkScores(spark, sfDir, undS))
  }

  /** The standing per-pair score table — the artifact the link maintainer
    * persists between runs, fingerprint-keyed like every fit.
    */
  private[graft] def sharedStandingLinkScores(spark: SparkSession, sfDir: String,
      undS: => DataFrame): DataFrame =
    SharedFits.memo(spark, s"link_scores_even:$sfDir") {
      FitStore.frame(spark, "link_scores_even",
        FitStore.embeddingsFp(spark, sfDir, None)) {
        linkScores(undS)
      }.localCheckpoint()
    }

  /** The split-agnostic core (the seam the spec drives with planted
    * graphs): arrival edges + standing edges + the persisted standing
    * score table. Standing edges feed only node-sized degree counts and
    * the touched-center adjacency probe.
    */
  private[graft] def linkIncrementalOver(undA: DataFrame, undS: DataFrame,
      scoredS: DataFrame): DataFrame = {
    val merged = linkMerge(scoredS, linkDeltas(undA, undS))
    linkFinish(merged, undS.unionByName(undA))
  }

  /** Merge per-pair state with (summed) deltas; rows at cn = 0 drop. */
  private[graft] def linkMerge(scoredS: DataFrame, deltas: DataFrame): DataFrame =
    scoredS
      .join(deltas.groupBy(col("a"), col("b"))
        .agg(sum(col("dcn")).as("dcn"), sum(col("dra")).as("dra")), Seq("a", "b"), "full")
      .select(col("a"), col("b"),
        (coalesce(col("cn"), lit(0L)) + coalesce(col("dcn"), lit(0L))).as("cn"),
        (coalesce(col("ra_ppm"), lit(0L)) + coalesce(col("dra"), lit(0L))).as("ra_ppm"))
      .filter(col("cn") > 0L)

  /** The per-pair delta rows (a, b, dcn, dra) an arrival edge set induces
    * against a standing graph — the unit both the one-shot incremental
    * and the streaming replay emit. Weight deltas TELESCOPE: composing
    * batches b₁…bₙ (each batch's "standing" = everything earlier) walks
    * every pair's weight to its final-degree value and every cap crossing
    * retracts exactly once, so Σ emissions ≡ the one-shot delta however
    * the arrivals are batched.
    */
  private[graft] def linkDeltas(undA: DataFrame, undS: DataFrame): DataFrame = {
    val cap = LINK_CENTER_CAP
    val dS = degreesOf(undS)
    val dA = degreesOf(undA)
    // merged = full-graph degrees (the split is disjoint and exhaustive)
    val degM = dS.select(col("id"), col("d").as("ds0"))
      .join(dA.select(col("id"), col("d").as("da0")), Seq("id"), "full")
      .select(col("id"),
        coalesce(col("ds0"), lit(0L)).as("ds"),
        (coalesce(col("ds0"), lit(0L)) + coalesce(col("da0"), lit(0L))).as("dm"))
    // per-center weights at both degrees; 0 past the cap (or absent)
    val cw = degM.select(col("id").as("w"), col("ds"), col("dm"),
        when(col("dm") <= cap, expr(s"$RA_SCALE div dm")).otherwise(lit(0L)).as("wm"),
        when(col("ds") >= 1L && col("ds") <= cap, expr(s"$RA_SCALE div ds"))
          .otherwise(lit(0L)).as("ws"))
      .localCheckpoint()
    val adjS = undS.select(col("u").as("w"), col("v").as("nb"))
      .unionByName(undS.select(col("v").as("w"), col("u").as("nb")))
    val adjA = undA.select(col("u").as("w"), col("v").as("nb"))
      .unionByName(undA.select(col("v").as("w"), col("u").as("nb")))
    // NEW wedges: arrival legs at centers still under the cap
    val aLeg = adjA.join(cw.filter(col("dm") <= cap).select(col("w"), col("wm")), Seq("w"))
    val axs = aLeg.select(col("w"), col("nb").as("x"), col("wm"))
      .join(adjS.select(col("w"), col("nb").as("y")), Seq("w"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"),
        lit(1L).as("dcn"), col("wm").as("dra"))
    val axa = aLeg.select(col("w"), col("nb").as("x"), col("wm"))
      .join(aLeg.select(col("w"), col("nb").as("y")), Seq("w"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"),
        lit(1L).as("dcn"), col("wm").as("dra"))
    // RE-WEIGHT / RETRACT: standing pairs at touched standing centers
    val touchedCw = cw
      .join(dA.select(col("id").as("w")), Seq("w"), "left_semi")
      .filter(col("ds") >= 1L && col("ds") <= cap)
    val sTouched = adjS.join(touchedCw, Seq("w"))
    val sxs = sTouched.select(col("w"), col("nb").as("x"), col("ws"), col("wm"), col("dm"))
      .join(sTouched.select(col("w"), col("nb").as("y")), Seq("w"))
      .filter(col("x") < col("y"))
      .select(col("x").as("a"), col("y").as("b"),
        when(col("dm") <= cap, lit(0L)).otherwise(lit(-1L)).as("dcn"),
        (col("wm") - col("ws")).as("dra"))
    axs.unionByName(axa).unionByName(sxs)
  }

  /** Oracle: the same wedge/score/anti-join chain over the shared k-NN
    * edge CTEs — integer `//` throughout, ORDER BY the exact integer key.
    */
  val graphLinkPredictSql: String =
    s"""WITH $TRI_CTES,
       |adj AS (SELECT u AS w, v AS nb FROM und UNION ALL
       |        SELECT v AS w, u AS nb FROM und),
       |ctr AS (SELECT adj.w, adj.nb, deg.d FROM adj
       |        JOIN deg ON adj.w = deg.id AND deg.d <= $LINK_CENTER_CAP),
       |wedge AS (SELECT x.nb AS a, y.nb AS b, x.d
       |          FROM ctr x JOIN ctr y ON x.w = y.w AND x.nb < y.nb),
       |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
       |                  CAST(sum($RA_SCALE // d) AS BIGINT) AS ra_ppm
       |           FROM wedge GROUP BY 1, 2)
       |SELECT s.a, s.b, s.cn, s.ra_ppm
       |FROM scored s ANTI JOIN und ON s.a = und.u AND s.b = und.v
       |ORDER BY s.ra_ppm DESC, s.a, s.b
       |LIMIT $LINK_TOPK""".stripMargin
}
