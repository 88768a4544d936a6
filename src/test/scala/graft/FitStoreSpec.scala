package graft

import org.apache.spark.sql.DataFrame

import graft.ops.{Dedup, FitStore, SharedFits, Similarity, TextAnalysis}

/** The FitStore contract: LOAD ≡ REFIT, exactly, for every persisted
  * artifact — and a changed corpus can never serve a stale artifact
  * (the fingerprint is part of the path, so it misses and refits).
  */
class FitStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Run `q` in three regimes — store off (pure refit), store cold
    * (fit + persist), store warm after a memo wipe (pure load) — and
    * assert all three collect to identical multisets.
    */
  private def roundTrip(name: String, q: () => DataFrame): Unit = {
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    SharedFits.clear(spark)
    val refit = rows(q())
    val dir = SparkSpec.tempDir(s"fitstore_$name").toString
    spark.conf.set("spark.graft.fitDir", dir)
    try {
      SharedFits.clear(spark)
      val cold = rows(q()) // fits, persists, serves the stored copy
      SharedFits.clear(spark)
      val warm = rows(q()) // pure load — no refit
      assert(cold == refit, s"$name: store-cold result differs from refit")
      assert(warm == refit, s"$name: store-warm result differs from refit")
      assert(new java.io.File(dir).listFiles().nonEmpty,
        s"$name: no artifact was persisted")
    } finally {
      spark.conf.unset("spark.graft.fitDir")
      SharedFits.clear(spark)
    }
  }

  test("dedup_clusters_incremental: standing assignment load ≡ refit") {
    roundTrip("prior_clusters",
      () => Dedup.dedupClustersIncremental(spark, sf))
  }

  test("kmeans centroids: the whole IVF family loads ≡ refits") {
    roundTrip("kmeans", () => Similarity.simsearchRecall(spark, sf))
  }

  test("index-drift prior-half quantizer: load ≡ refit") {
    roundTrip("drift", () => Similarity.simsearchIndexDrift(spark, sf))
  }

  test("pq per-subspace codebooks: load ≡ refit") {
    roundTrip("pq", () => Similarity.simsearchPq(spark, sf))
  }

  test("standing minhash band index: load ≡ refit") {
    roundTrip("minhash_bands", () => Dedup.dedupIncremental(spark, sf))
  }

  test("bm25 inverted index (doc postings): load ≡ refit") {
    roundTrip("bm25", () => TextAnalysis.textBm25(spark, sf))
  }

  test("bm25 chunk postings: load ≡ refit") {
    roundTrip("chunk_bm25", () => TextAnalysis.chunkBm25(spark, sf))
  }

  test("nn-descent graph adjacency: load ≡ refit") {
    roundTrip("knn_edges", () => Similarity.simsearchGraphTopk(spark, sf))
  }

  test("dsir buckets: load ≡ refit") {
    roundTrip("dsir", () => TextAnalysis.textDsir(spark, sf))
  }

  test("bpe merges: load ≡ refit") {
    roundTrip("bpe", () => TextAnalysis.textBpeTrain(spark, sf))
  }

  test("quality-classifier weights: load ≡ refit") {
    roundTrip("quality", () => TextAnalysis.textQualityTrain(spark, sf))
  }

  test("fingerprint keys the artifact: same fp loads, changed fp refits") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("fitstore_fp").toString
    spark.conf.set("spark.graft.fitDir", dir)
    try {
      var fits = 0
      def fit(): DataFrame = { fits += 1; Seq((1L, "a")).toDF("id", "v") }
      val fp1 = FitStore.Fp(10L, 0x1234L)
      val fp2 = FitStore.Fp(10L, 0x9999L) // same count, different content
      FitStore.frame(spark, "art", fp1)(fit()).collect()
      assert(fits == 1)
      FitStore.frame(spark, "art", fp1)(fit()).collect()
      assert(fits == 1, "same fingerprint must load, not refit")
      FitStore.frame(spark, "art", fp2)(fit()).collect()
      assert(fits == 2, "changed fingerprint must refit, never stale-load")
    } finally spark.conf.unset("spark.graft.fitDir")
  }

  test("fingerprint is order-independent but content- and dup-sensitive") {
    import spark.implicits._
    def fp(rows: Seq[(Long, String)]): FitStore.Fp =
      FitStore.fingerprint(
        rows.toDF("doc_id", "text").repartition(3), Seq("doc_id", "text"))
    val a = Seq(1L -> "x", 2L -> "y", 3L -> "z")
    assert(fp(a) == fp(a.reverse))
    assert(fp(a) != fp(Seq(1L -> "x", 2L -> "y", 3L -> "Z")))
    assert(fp(a) != fp(a :+ (1L -> "x")), "duplicate rows must change the fp")
  }

  test("doubles artifacts round-trip bit-exactly") {
    val dir = SparkSpec.tempDir("fitstore_d").toString
    spark.conf.set("spark.graft.fitDir", dir)
    try {
      val w = Array(0.1, -3.5e-12, math.Pi, 0.0, -0.0, 1e300)
      val fp = FitStore.Fp(1L, 1L)
      val stored = FitStore.doubles(spark, "w", fp)(w)
      val loaded = FitStore.doubles(spark, "w", fp)(
        sys.error("must not refit"): Array[Double])
      assert(stored.toSeq == w.toSeq)
      assert(loaded.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        w.map(java.lang.Double.doubleToRawLongBits).toSeq)
    } finally spark.conf.unset("spark.graft.fitDir")
  }
}
