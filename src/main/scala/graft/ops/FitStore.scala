package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent store for fitted model artifacts — the production half of
  * [[SharedFits]]. The session memo makes a fit compute ONCE per session;
  * this makes it compute once per CORPUS: each artifact is written as a
  * parquet directory keyed by a fingerprint of exactly the data it was
  * fitted on, and a later session (or another job on the cluster) loads
  * the artifact instead of refitting — the same lifecycle the reference
  * gives its one piece of job state, the persisted watermark
  * (/root/reference/updatescript.py:149-152), applied at model scale:
  * cluster assignments, k-means centroids, BPE merge tables, DSIR bucket
  * weights, classifier weight trajectories.
  *
  * Correctness contract: LOAD ≡ REFIT, exactly. Every producer routed
  * here is deterministic (integer/decimal arithmetic, seeded hashes,
  * round-pinned floats) and parquet round-trips every stored type
  * bit-exactly (long, double, float arrays, strings, decimals), so a hit
  * changes cost, never results — the FitStoreSpec round-trip tests assert
  * this artifact by artifact. Staleness is impossible by construction,
  * not by TTL: the fingerprint (row count + order-independent sum of
  * per-row xxhash64 over the fitted columns) is part of the artifact
  * path, so a changed corpus simply misses and refits; a changed fit
  * KEY (algorithm version bump) is a new `name`.
  *
  * Scale shape: the fingerprint is one map-side-combined aggregation over
  * the fitted columns (no shuffle wider than one row), memoized per
  * session in [[SharedFits]] — at 100 TB it costs one column scan, vs the
  * multi-pass fit it validates. Artifacts themselves are model-sized
  * (centroids, merges, weights) or assignment-sized (doc_id → cluster;
  * linear in the corpus, written once, partitioned by the writer) —
  * nothing here collects corpus-scale data to the driver.
  *
  * Off by default: with no store root configured every call is a
  * transparent pass-through to the fit, preserving the pure per-session
  * behavior the driver gates. Enable with the `spark.graft.fitDir`
  * runtime conf or the SPARK_GRAFT_FIT_DIR environment variable (the
  * serving mode `graft.Bench` exposes as SPARK_GRAFT_FIT_DIR).
  */
object FitStore {

  /** The store root, if persistence is enabled. */
  def root(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.fitDir")
      .orElse(sys.env.get("SPARK_GRAFT_FIT_DIR"))
      .filter(_.nonEmpty)

  /** Order-independent corpus identity: row count plus the Long-ring sum
    * of per-row xxhash64 over the fitted columns. Sum (not xor) so
    * duplicate-row multiplicity changes the fingerprint too.
    */
  final case class Fp(n: Long, h: Long) {
    def tag: String = s"n${n}_x${java.lang.Long.toHexString(h)}"
  }

  def fingerprint(df: DataFrame, cols: Seq[String]): Fp = {
    // Hash sums overflow Long almost immediately; under ANSI that's an
    // error, so sum in decimal(38,0) (overflow-free to ~10^28 rows) and
    // fold to the 64-bit ring on the driver — same value a wrapping
    // long sum would produce, in any row order.
    val r = df.agg(count(lit(1)).as("n"),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("h")).head()
    Fp(r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getDecimal(1).toBigInteger.longValue())
  }

  /** Fingerprint of a session's `documents` table (doc_id, text) —
    * session-memoized so the scan is paid once however many artifacts
    * validate against it. `half` keys the even/odd standing-vs-batch
    * split used by the incremental-dedup queries.
    */
  def documentsFp(spark: SparkSession, sfDir: String, half: Option[Int]): Fp =
    SharedFits.memo(spark, s"fp:documents:${half.getOrElse(-1)}:$sfDir") {
      val docs = graft.pipeline.Tables.documents(spark, sfDir)
      val sliced = half.fold(docs)(p => docs.filter(col("doc_id") % 2 === p))
      fingerprint(sliced, Seq("doc_id", "text"))
    }

  /** Fingerprint of a session's `embeddings` table (vec_id, embedding,
    * label) — xxhash64 hashes the float array structurally, so any
    * component change misses. `half` keys the even/odd standing-vs-batch
    * split (the index-drift family fits on the even half only).
    */
  def embeddingsFp(spark: SparkSession, sfDir: String, half: Option[Int]): Fp =
    SharedFits.memo(spark, s"fp:embeddings:${half.getOrElse(-1)}:$sfDir") {
      val emb = graft.pipeline.Tables.embeddings(spark, sfDir)
      val sliced = half.fold(emb)(p => emb.filter(col("vec_id") % 2 === p))
      fingerprint(sliced, Seq("vec_id", "embedding", "label"))
    }

  private def path(dir: String, name: String, fp: Fp): String =
    s"$dir/$name/${fp.tag}"

  /** A completed artifact only: the parquet committer writes _SUCCESS
    * last, so a crashed half-write is a miss, never a bad load.
    */
  private def exists(spark: SparkSession, p: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(p, "_SUCCESS")
    marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker)
  }

  /** Load `name` fitted at `fp`, or run `fit`, persist it, and return the
    * stored copy (so hit and miss serve byte-identical frames). `fp` is
    * by-name: with no store root the fingerprint scan is never paid.
    */
  def frame(spark: SparkSession, name: String, fp: => Fp)
      (fit: => DataFrame): DataFrame =
    root(spark) match {
      case None => fit
      case Some(dir) =>
        val p = path(dir, name, fp)
        if (!exists(spark, p))
          fit.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
    }

  /** Driver-held double-vector artifacts (DSIR bucket weights): stored as
    * (i, w) rows, reassembled in index order.
    */
  def doubles(spark: SparkSession, name: String, fp: => Fp)
      (fit: => Array[Double]): Array[Double] =
    root(spark) match {
      case None => fit
      case Some(dir) =>
        val p = path(dir, name, fp)
        if (!exists(spark, p)) {
          val w = fit
          spark.createDataFrame(w.toSeq.zipWithIndex.map(_.swap)).toDF("i", "w")
            .coalesce(1).write.mode("overwrite").parquet(p)
        }
        spark.read.parquet(p).collect()
          .map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1).map(_._2)
    }
}
