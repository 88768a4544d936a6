package graft

import org.apache.spark.sql.functions.col

import graft.ops.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("brute-force top-k ranks by cosine with id tie-break") {
    // query = (1,0); candidates at known angles
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(2.0f, 0.0f), 0),   // cosine 1.0
      (2L, Array(1.0f, 1.0f), 0),   // cosine ~0.7071
      (3L, Array(0.0f, 1.0f), 0),   // cosine 0
      (4L, Array(-1.0f, 0.0f), 0))  // cosine -1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.bruteForceTopk(emb, col("vec_id") === 0L, 3)
      .select("n_id", "cosine", "rnk").as[(Long, Double, Int)].collect()
      .sortBy(_._3)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0)._2 == 1.0)
    assert(math.abs(got(1)._2 - math.sqrt(0.5)) < 1e-6)
    assert(got(2)._2 == 0.0)
  }

  test("IVF restricts candidates to the query's cell") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(1.0f, 0.1f), 7),   // same cell, near
      (2L, Array(1.0f, 0.0f), 3))   // identical direction but other cell
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfTopk(emb, col("vec_id") === 0L, 5)
      .select("n_id").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("k-means cells: every vector assigned exactly once, directions cluster together") {
    // two tight direction clusters; 16 vectors, K=8 seeds
    val emb = (0 until 16).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.01f * i) else Array(0.01f * i, 1.0f)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val base = Similarity.withNorm(emb)
    val cells = Similarity.kmeansCells(base)
      .as[(Long, Long)].collect().toMap
    assert(cells.size == 16)
    // k-means never merges seeds, so each direction family may spread over
    // several cells — but no cell may MIX the two families
    val evens = (0 until 16 by 2).map(i => cells(i.toLong)).toSet
    val odds = (1 until 16 by 2).map(i => cells(i.toLong)).toSet
    assert(evens.intersect(odds).isEmpty)
  }

  test("semantic dedup drops the higher-id member of a near-identical within-cell pair") {
    // cluster A around (1,0): vectors 0, 2, 3 — 2 and 3 nearly identical;
    // cluster B around (0,1): vectors 1, 4. k=2 seeds = vectors 0 and 1.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.05f)),
      (3L, Array(1.0f, 0.051f)),
      (4L, Array(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    val base = Similarity.withNorm(emb)
    val got = Similarity.semanticDedupOn(base, 2, 1, 0.999)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t._3).toMap
    // pairs over tau within cell A: (0,2), (0,3), (2,3) all ~cos 0.999+ —
    // at tau 0.999 only the 2-3 pair qualifies, so 3 drops
    assert(got.size == 5)
    assert(!got(3L))
    assert(Seq(0L, 1L, 2L, 4L).forall(got))
  }

  test("semantic dedup never pairs across cells") {
    // two identical directions forced into different cells by the seeds:
    // with k=2 and seeds 0=(1,0), 1=(0,1), vectors 2=(1,0) and 3=(0,1)
    // are exact duplicates OF THE SEEDS but land in different cells from
    // each other, so the cross-cell (2,3) pair (cos 0) is never formed
    // and the within-cell (0,2) and (1,3) pairs (cos 1) both drop
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val base = Similarity.withNorm(emb)
    val got = Similarity.semanticDedupOn(base, 2, 1, 0.9)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t._3).toMap
    assert(got(0L) && got(1L) && !got(2L) && !got(3L))
  }

  test("truncation recall is 1.0 when all signal lives in the kept dimensions") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.truncationRecall(emb, Seq(2), col("vec_id") === 0L, 2)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((2L, 2L, 1.0)))
  }

  test("random projection: ±1 components on basis vectors, identical vectors stay identical") {
    // a basis vector's projection components are exactly the Rademacher
    // signs — each must be ±1; identical inputs project identically
    val e0 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val emb = Seq((0L, e0), (1L, e0), (2L, Array.fill(64)(0.25f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.rpProjected(emb, 8)
      .as[(Long, Array[Float])].collect().toMap
    assert(p(0L).forall(v => v == 1.0f || v == -1.0f))
    assert(p(0L).toSeq == p(1L).toSeq)
    assert(p(0L).length == 8)
    // projection is deterministic across invocations
    val again = Similarity.rpProjected(emb, 8).as[(Long, Array[Float])].collect().toMap
    assert(p.view.mapValues(_.toSeq).toMap == again.view.mapValues(_.toSeq).toMap)
  }

  test("rp recall: one row per width, recall within [0,1], perfect when geometry survives") {
    // 64-dim one-hot corpus: projections of DISTINCT basis vectors are
    // distinct sign patterns; recall is still a measured quantity in
    // [0, 1] with exactly one output row per requested width
    val emb = (0L until 12L).map(v =>
      (v, Array.tabulate(64)(i => if (i == v.toInt) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.rpRecall(emb, Seq(8, 32), col("vec_id") < 2L, 3)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(8L, 32L))
    assert(got.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // wider sketches can only help on this isotropic fixture
    assert(got.last._2 >= got.head._2 - 1)
  }

  test("semantic decontam: planted eval twin flags, orthogonal vector passes") {
    // 97 and 194 are eval ids (≡ 0 mod 97); 1 duplicates eval 97's
    // direction, 2 is orthogonal to both eval vectors
    val emb = Seq(
      (97L, Array(1.0f, 0.0f, 0.0f), 0),
      (194L, Array(0.0f, 1.0f, 0.0f), 0),
      (1L, Array(3.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDecontam(emb)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L)) // eval rows are not scored
    assert(got(1L) == ((1L, 97L, 1.0, true)))
    assert(got(2L)._3 == 0.0 && !got(2L)._4)
  }

  test("rrf fusion: a doc on both lists outranks single-list docs; ranks fuse reciprocally") {
    // query 0: dense list favors 1 then 2; sparse list favors 2 then 3
    // → doc 2 (on both) must fuse above 1 and 3 (each on one list)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(2.0f, 0.0f), 0),   // dense rank 1
      (2L, Array(1.0f, 0.2f), 0),   // dense rank 2
      (3L, Array(0.0f, 1.0f), 0))   // dense rank 3 (cos 0)
      .toDF("vec_id", "embedding", "label")
    val docs = Seq(
      (0L, "alpha beta", "en", "s"),
      (1L, "gamma delta", "en", "s"),        // no overlap → off sparse list
      (2L, "alpha beta epsilon", "en", "s"), // sparse rank 1
      (3L, "alpha zeta eta theta", "en", "s")) // sparse rank 2
      .toDF("doc_id", "text", "lang", "source")
    val got = Similarity.hybridRrf(docs, emb, nQueries = 1, k = 3)
      .select("id", "rrf", "rnk").as[(Long, Double, Long)].collect().sortBy(_._3)
    assert(got.head._1 == 2L) // both lists
    // doc 2's rrf is the sum of both reciprocal ranks
    assert(math.abs(got.head._2 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
    assert(got.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
  }

  test("ivf index stats: occupancies sum to the corpus, empty cells reported as 0") {
    // 6 vectors in 2 directions, k=4 seeds → at least one empty cell
    val emb = (0 until 6).map { i =>
      val v = if (i % 2 == 0) Array(1.0f, 0.01f * i) else Array(0.01f * i, 1.0f)
      (i.toLong, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfIndexStats(emb, k = 4, iters = 1)
      .select("cell", "n_vecs", "frac").as[(Long, Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L, 3L)) // every cell present
    assert(got.map(_._2).sum == 6L)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-4)
  }

  test("range search returns exactly the neighbors inside the radius, no k cap") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),   // query
      (1L, Array(2.0f, 0.0f), 0),   // cosine 1.0 — in
      (2L, Array(1.0f, 1.0f), 0),   // cosine ~0.707 — in
      (3L, Array(1.0f, 4.0f), 0),   // cosine ~0.243 — out at 0.25
      (4L, Array(-1.0f, 0.0f), 0))  // cosine -1 — out
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.rangeSearch(emb, col("vec_id") === 0L, 0.25)
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    assert(got.map(_._2).toSeq == Seq(1L, 2L))
    assert(got(0)._3 == 1.0)
  }

  test("cluster quality: covers every cell exactly, bounded cosines, deterministic") {
    val emb = graft.pipeline.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.clusterQuality(emb)
      .select("cell", "n_vecs", "avg_cos", "min_cos")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.map(_._2).sum == emb.count(), "every vector lands in exactly one cell")
    val cells = Similarity.kmeansCells(
      Similarity.withNorm(emb).localCheckpoint())
      .select("cell").distinct().as[Long].collect().toSet
    assert(got.map(_._1).toSet == cells, "one report row per non-empty cell")
    got.foreach { case (_, n, avg, mn) =>
      assert(n > 0 && mn <= avg && avg <= 1.0 && mn >= -1.0)
    }
    // members sit closer to their OWN centroid than a random vector does
    // to a random centroid on this isotropic fixture
    assert(got.map(_._3).min > 0.0, "mean cosine-to-own-centroid is positive")
    val again = Similarity.clusterQuality(emb)
      .select("cell", "n_vecs", "avg_cos", "min_cos")
      .as[(Long, Long, Double, Double)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("shared widest-cut NND seed: rank<=k over the kCut=max cands equals knnGraph(k) per degree") {
    // the prefix-pruning identity the degree sweep's shared init rests
    // on: per-bucket top-kCut at kCut = max degree is a complete
    // candidate superset for every k <= kCut, and the global rank<=k
    // prefix over it is row-identical to the per-degree kernel's
    val sfDir = "/root/testdata/sf0.001"
    val emb = graft.pipeline.Tables.embeddings(spark, sfDir)
    val (base, cands) = Similarity.sharedNndSeed(spark, sfDir)
    Similarity.GRAPH_DEGREES.foreach { k =>
      val shared = Similarity.nndInitFor(cands, k)
        .as[(Long, Long)].collect().toSet
      val direct = graft.ops.Dedup.knnGraph(emb, k = k, dim = graft.ops.Dedup.EMB_DIM)
        .select(col("vec_id"), col("nn_id")).as[(Long, Long)].collect().toSet
      assert(shared == direct, s"init at degree $k must match knnGraph($k)")
    }
    // and the full construction threaded through the shared seed is the
    // same adjacency the self-contained build produces
    val k = Similarity.GRAPH_DEGREES(1)
    val viaShared = Similarity.nnDescentAdj(Similarity.nndInitFor(cands, k), base,
        k = k, iters = Similarity.NND_ITERS)
      .as[(Long, Long)].collect().toSet
    val (init, pay) = Similarity.nndSeedOf(emb, k, graft.ops.Dedup.EMB_DIM)
    val selfContained = Similarity.nnDescentAdj(init, pay, k = k, iters = Similarity.NND_ITERS)
      .as[(Long, Long)].collect().toSet
    assert(viaShared == selfContained, "shared-seed NND must be row-identical")
  }

  test("index drift: standing fit on prior half, drift columns and refit flag behave") {
    val emb = graft.pipeline.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.indexDrift(emb)
      .select("cell", "n_prior", "n_new", "frac_prior", "frac_new",
        "occ_drift", "qerr_delta", "refit_flag")
      .as[(Long, Long, Long, Double, Double, Double, Option[Double], Long)]
      .collect()
    val nPrior = emb.filter(col("vec_id") % 2 === 0).count()
    val nNew = emb.filter(col("vec_id") % 2 === 1).count()
    assert(got.map(_._2).sum == nPrior, "every prior vector in exactly one cell")
    assert(got.map(_._3).sum == nNew, "every new vector in exactly one cell")
    // cell ids are the prior half's seed vec_ids (even, < 2K)
    assert(got.forall(r => r._1 % 2 == 0 && r._1 < 2L * Similarity.KMEANS_K))
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-4, "prior fracs sum to 1")
    assert(math.abs(got.map(_._5).sum - 1.0) < 1e-4, "new fracs sum to 1")
    got.foreach { r =>
      assert(math.abs(r._6 - (r._5 - r._4)) < 2e-6, "occ_drift = frac_new - frac_prior")
      val expectFlag = r._7.exists(_ > Similarity.DRIFT_QERR_THRESHOLD) ||
        math.abs(r._6) > Similarity.DRIFT_OCC_THRESHOLD
      assert((r._8 == 1L) == expectFlag, s"refit flag for cell ${r._1}")
    }
    val again = Similarity.indexDrift(emb)
      .select("cell", "n_prior", "n_new", "frac_prior", "frac_new",
        "occ_drift", "qerr_delta", "refit_flag")
      .as[(Long, Long, Long, Double, Double, Double, Option[Double], Long)]
      .collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq, "deterministic rerun")
  }

  test("index drift: a shifted new batch trips the refit flag, an identical one does not") {
    // prior (even ids): two tight orthogonal bundles -> 2 surviving cells.
    // new (odd ids): all land in bundle-0's cell AND sit farther from its
    // centroid -> that cell shows positive qerr_delta + occupancy gain,
    // the other shows pure occupancy loss.
    def bundle(i: Int): Array[Float] =
      if (i % 4 == 0) Array(1.0f, 0.001f * i, 0.0f)
      else Array(0.001f * i, 1.0f, 0.0f)
    val prior = (0 until 32 by 2).map(i => (i.toLong, bundle(i), 0))
    val drifted = (1 until 32 by 2).map(i =>
      (i.toLong, Array(1.0f, 0.0f, 0.8f + 0.001f * i), 0))
    val emb = (prior ++ drifted).toDF("vec_id", "embedding", "label")
    val got = Similarity.indexDrift(emb)
      .select("cell", "n_new", "occ_drift", "qerr_delta", "refit_flag")
      .as[(Long, Long, Double, Option[Double], Long)].collect()
    assert(got.map(_._2).sum == 16L)
    val gainers = got.filter(_._2 > 0)
    assert(gainers.nonEmpty && gainers.forall(_._5 == 1L),
      "cells absorbing the drifted batch must flag for refit")
    assert(gainers.forall(_._4.exists(_ > Similarity.DRIFT_QERR_THRESHOLD)),
      "drifted vectors sit measurably farther from the standing centroid")
    assert(got.filter(_._2 == 0).forall(r => r._3 <= 0.0),
      "cells the new batch avoids only lose occupancy share")
    // control: a new batch drawn from the SAME distribution stays quiet
    val calm = (prior ++ (1 until 32 by 2).map(i => (i.toLong, bundle(i - 1), 0)))
      .toDF("vec_id", "embedding", "label")
    val calmGot = Similarity.indexDrift(calm)
      .select("refit_flag").as[Long].collect()
    assert(calmGot.forall(_ == 0L), "no drift -> no refit flag")
  }

  test("diverse sample: caps every cell, covers every non-empty cell, reruns identically") {
    val emb = graft.pipeline.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Similarity.diverseSample(emb)
      .as[(Long, Long, Long)].collect()
    val perCell = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perCell.values.forall(_ <= Similarity.DIVERSE_PER_CELL))
    val cells = Similarity.kmeansCells(
      Similarity.withNorm(emb).localCheckpoint())
      .select("cell").distinct().as[Long].collect().toSet
    assert(perCell.keySet == cells, "every non-empty cell must contribute")
    assert(got.map(_._2).distinct.length == got.length, "no vector sampled twice")
    val again = Similarity.diverseSample(emb).as[(Long, Long, Long)].collect()
    assert(got.sortBy(r => (r._1, r._3)).toSeq == again.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("adaptive filtered probe closes the recall gap the fixed sweep measures") {
    val sf = "/root/testdata/sf0.001"
    val fixed = Similarity.simsearchFilteredRecall(spark, sf)
      .select("nprobe", "recall_at_k").as[(Long, Double)].collect().toMap
    val adaptive = Similarity.simsearchFilteredAdaptive(spark, sf)
      .select("nprobe", "n_probed", "recall_at_k")
      .as[(Long, Long, Double)].collect()
    assert(adaptive.length == Similarity.RECALL_NPROBES.length)
    adaptive.foreach { case (np, nProbed, r) =>
      assert(r >= fixed(np),
        s"adaptive recall at base nprobe=$np ($r) must be ≥ fixed (${fixed(np)})")
      assert(nProbed <= Similarity.N_QUERIES.toLong * Similarity.KMEANS_K,
        "probe rows are capped at queries × K cells")
    }
    // the ~10%-selective labels are more selective than 1/K, so the
    // widening saturates and restores FULL pre-filtered recall — the
    // index-design signal documented on the operator
    assert(adaptive.forall(_._3 == 1.0))
  }

  test("two-stage refine: recall non-decreasing in budget; R = k is exactly raw PQ") {
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.simsearchRerank(spark, sf)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Similarity.RERANK_BUDGETS.map(_.toLong))
    got.foreach { case (_, _, r) => assert(r >= 0.0 && r <= 1.0) }
    // exact re-ranking of MORE pq candidates can only add truth hits
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._3,
        s"recall must be non-decreasing: R=${a._1} ${a._3} > R=${b._1} ${b._3}")
      case _ =>
    }
    // at R = k the refine re-orders the PQ top-k among themselves — set
    // membership (and so truth hits) must equal the raw PQ search's
    val pqHits = Similarity.simsearchRecallQuant(spark, sf)
      .filter(col("method") === "pq")
      .select("n_hits").as[Long].head()
    assert(got.head._2 == pqHits,
      s"R=k hit count ${got.head._2} must equal raw PQ recall hits $pqHits")
  }

  test("NN-descent lands planted-cluster nodes on in-cluster neighbors") {
    // two tight angular clusters in 2-D: around (1, ε·i) and (ε·i, 1).
    // In-cluster cosines are ≈1, cross-cluster ≈0 — after refinement
    // every node's kept edges must stay inside its own cluster, whatever
    // the LSH init proposed.
    val emb = (0 until 6).map(i => (i.toLong, Array(1.0f, 0.01f * i), 0)) ++
      (6 until 12).map(i => (i.toLong, Array(0.01f * (i - 6), 1.0f), 0))
    def build() = {
      val (init, pay) = Similarity.nndSeedOf(emb.toDF("vec_id", "embedding", "label"), k = 2, dim = 2)
      Similarity.nnDescentAdj(init, pay, k = 2, iters = 2).as[(Long, Long)].collect()
    }
    val adj = build()
    assert(adj.nonEmpty)
    adj.foreach { case (src, dst) =>
      assert((src < 6) == (dst < 6),
        s"edge $src -> $dst crosses the planted clusters")
    }
    // refinement is deterministic: a rebuild is bit-identical
    val again = build()
    assert(adj.sorted.toSeq == again.sorted.toSeq)
  }

  test("graph beam search: serving-width results carry valid ranks and cosines") {
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.simsearchGraphTopk(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val ranked = rows.sortBy(_._4)
      assert(ranked.map(_._4).toSeq == (1 to ranked.length).toSeq,
        s"query $q ranks must be dense from 1")
      // ranks must agree with (cosine desc, n_id asc)
      assert(ranked.sortBy(r => (-r._3, r._2)).toSeq == ranked.toSeq)
      assert(rows.forall(r => r._2 != q), "self is never an answer")
    }
  }

  test("graph insert: arrivals link only into the standing half, ranked") {
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.simsearchGraphInsert(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._1 % 2 == 1), "every arrival is odd-half")
    assert(got.forall(_._2 % 2 == 0), "every link lands on a standing (even) node")
    got.groupBy(_._1).foreach { case (nid, rows) =>
      val ranked = rows.sortBy(_._4)
      assert(ranked.map(_._4).toSeq == (1 to ranked.length).toSeq,
        s"arrival $nid link ranks must be dense from 1")
      assert(ranked.sortBy(r => (-r._3, r._2)).toSeq == ranked.toSeq,
        "links ordered by (cosine desc, node)")
      assert(ranked.length <= Similarity.IVF_TOP_K)
    }
  }

  test("graph delete: repair links avoid tombstones; only affected nodes re-emitted") {
    val sf = "/root/testdata/sf0.001"
    val got = Similarity.simsearchGraphDelete(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall(r =>
      r._1 % Similarity.DELETE_MOD != 0 && r._2 % Similarity.DELETE_MOD != 0),
      "no tombstoned node may appear on either side of a repaired edge")
    val edges = Similarity.graphIndex(spark, sf)
      .select("src", "dst").as[(Long, Long)].collect()
    val affected = edges.filter(e =>
      e._2 % Similarity.DELETE_MOD == 0 && e._1 % Similarity.DELETE_MOD != 0)
      .map(_._1).toSet
    assert(got.map(_._1).toSet.subsetOf(affected),
      "only nodes that lost an edge are re-linked (the repair delta, not a rebuild)")
    got.groupBy(_._1).foreach { case (s, rows) =>
      val ranked = rows.sortBy(_._4)
      assert(ranked.map(_._4).toSeq == (1 to ranked.length).toSeq,
        s"node $s repair ranks must be dense from 1")
      assert(ranked.sortBy(r => (-r._3, r._2)).toSeq == ranked.toSeq)
      assert(ranked.length <= Similarity.GRAPH_DEGREE)
    }
  }

  test("repair health: a planted dead neighborhood trips the rebuild flag") {
    // region 0: ring of 10 nodes, each with GRAPH_STARVE_DEGREE out-edges
    // — healthy. region 1: 2 linked nodes + 8 whose whole neighborhood
    // died (zero surviving edges) — 80% starved, far past the 5% gate.
    val nodes = (0L until 20L).map(i => (i, if (i < 10) 0L else 1L))
      .toDF("vec_id", "cell")
    val k = Similarity.GRAPH_STARVE_DEGREE
    val healthy = for (s <- 0L until 10L; j <- 1 to k)
      yield (s, (s + j) % 10)
    val partial = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 10L))
    val adj = (healthy ++ partial).toDF("src", "dst")
    val got = Similarity.adjacencyHealth(nodes, adj).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .toMap
    val (n0, avg0, starved0, _, flag0) = got(0L)
    assert(n0 == 10 && avg0 == k.toDouble && starved0 == 0 && flag0 == 0L,
      "healthy ring: full degree, nothing starved, no flag")
    val (n1, _, starved1, frac1, flag1) = got(1L)
    // node 10 has degree k (=3) -> not starved; 11 has 1; 12..19 have 0
    assert(n1 == 10 && starved1 == 9 && frac1 == 0.9 && flag1 == 1L,
      s"dead neighborhood must trip the flag, got $got")
    // zero-degree nodes MUST be counted: they never appear in the edge list
    assert(starved1 > adj.filter($"src" >= 12L).count(),
      "starvation accounting must include nodes absent from the adjacency")
  }
}
