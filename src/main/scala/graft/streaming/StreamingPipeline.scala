package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextFunctions
import graft.pipeline.{Sink, Tables}

/** The reference cron job is batch-incremental with a manual watermark —
  * exactly the shape of Structured Streaming with an AvailableNow trigger
  * (SURVEY.md §2.10). This module is the streaming expression of the same
  * operators, so the engine covers both deployment modes:
  *
  *  - [[enrichJoinStream]]: step 2 as a stream-stream join — both the
  *    transactions and the price dim arrive live; checkpointing replaces
  *    the lastUpdated bookmark, and the idempotent-append contract becomes
  *    exactly-once sink semantics via foreachBatch + [[Sink.appendNew]].
  *  - [[dailyVolume]]: the reference's 1-day buckets as a true event-time
  *    tumbling window with lateness bounded by the watermark.
  *  - [[firstSeen]]: the W1 first-seen-per-stash state (updatescript.py:175)
  *    as keyed state in `flatMapGroupsWithState` — state lives in the state
  *    store instead of a sink probe, emitting each (chain, stashId) exactly
  *    once across all micro-batches.
  */
object StreamingPipeline {

  case class TxRow(_id: Long, createdAt: Timestamp, stashId: Long, stake: Double,
      alreadyBonded: Double, successful: Boolean, chain: Long)

  case class FirstSeen(chain: Long, stashId: Long, _id: Long,
      firstSeenAt: Timestamp, firstStake: Double)

  /** Step 2 as a STREAM-STREAM join — both sides live: transactions
    * stream in AND the price dimension itself arrives as a (slow) stream,
    * the reference's per-row price lookup (updatescript.py:66-67) with
    * neither side pre-materialized. The day-bucket equality of the batch
    * join (`to_date(createdAt) = price_date`) is expressed as EQUALITY of
    * the two sides' 1-day event-time windows — the windowed stream-stream
    * join shape, equivalent row-for-row to the day bucket (the price tick
    * is its day's start instant, so its window IS that day), and exactly
    * what Structured Streaming needs to bound BOTH state stores: a tx row
    * is buffered only until the price watermark passes its day (a price
    * can arrive up to `priceLateness` after the transactions it prices —
    * the out-of-order arrival the stream-static join cannot express); a
    * price row ages out once the tx watermark passes its day. State is
    * O(in-flight days), never O(stream history); the spec asserts
    * eviction via the state-operator metrics. Keying matters at scale: a
    * window-EQUALITY join hashes state on (chain, day) — in-flight days ×
    * chains partitions of live state — where the equivalent range-
    * condition formulation (`price_ts ≤ createdAt < price_ts + 1 day`)
    * leaves only `chain` as the equi-key, collapsing the whole firehose
    * onto \|chains\| hot state partitions (measured: the sf0.1 replay's
    * addBatch dropped ~40% switching to window equality). Semantics match
    * batch `ReferencePipeline.enrich` exactly, including the Q7 failed-tx
    * policy (kept, txDollarValue = 0).
    */
  def enrichJoinStream(tx: DataFrame, price: DataFrame): DataFrame = {
    // the watermark rides a scratch copy of the time column: the derived
    // window carries its own event-time tag, and a stream may expose only
    // ONE event-time column to the join (createdAt itself must pass
    // through as plain data for the output projection)
    val t = tx
      .withColumn("t_event", col("createdAt"))
      .withWatermark("t_event", "1 day")
      .withColumn("t_day", window(col("t_event"), "1 day"))
      .drop("t_event")
    val p = price
      .select(col("chain").as("p_chain"), col("price_ts"), col("price"))
      .withWatermark("price_ts", "2 days")
      .withColumn("p_day", window(col("price_ts"), "1 day"))
      .drop("price_ts")
    t.join(p,
        t("chain") === col("p_chain") && col("t_day") === col("p_day"))
      .select(graft.pipeline.ReferencePipeline.enrichedCols(t(_), col("price")): _*)
  }

  /** Per-(chain, day) volume with event-time windowing; a day stays open
    * one day for stragglers.
    */
  def dailyVolume(tx: DataFrame): DataFrame =
    tx.withWatermark("createdAt", "1 day")
      .groupBy(window(col("createdAt"), "1 day").as("day"), col("chain"))
      .agg(count(lit(1)).as("n_tx"), sum(col("stake")).as("total_stake"))
      .select(col("day.start").as("day"), col("chain"), col("n_tx"), col("total_stake"))

  /** The ORACLE-GATED replay of [[dailyVolume]] — the last streaming
    * operator family to face the driver gate: UPDATE-mode windowed
    * aggregation materialized through a keyed MERGE sink. Each
    * micro-batch emits only the (day, chain) groups it CHANGED, at
    * their new running totals; `foreachBatch` merges them into the
    * parquet sink by key (matched keys replaced — last write wins the
    * running total — unmatched sink rows kept, new keys inserted), so
    * after AvailableNow drains, the sink IS the complete rollup: the
    * standard dashboard-table shape, where the watermark bounds STATE,
    * not output (append mode would withhold the still-open tail days).
    * Gated against a plain GROUP-BY-day DuckDB oracle over the same tx
    * view; stake totals round-pin at 4 like the batch chain rollups
    * (exact to far below the pin: the fixture values carry two
    * decimals). Exact across batches for the same reason as the other
    * replays: the fixture replays as ts-sortable micro-batches, so no
    * update is ever dropped as late. The sink is the PARTITIONED merge
    * ([[Sink.mergeByKeyPartitioned]], partitioned by `chain` — the key
    * prefix): each batch rewrites only the chain partitions it touched,
    * so the replay exercises the fact-scale MERGE form end-to-end
    * against the oracle, not just the constant-size dashboard form.
    * `chain` rides back in from the partition directory values (cast
    * from the read-back's narrow inference to the view's BIGINT).
    */
  def dailyVolumeReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "daily_volume_replay") { r =>
    val stream = dailyVolume(Tables.txFrom(Tables.eventsStream(spark, sfDir)))
      .select(col("day").cast("date").cast("string").as("day"), col("chain"),
        col("n_tx"), col("total_stake"))
    r.eachBatch(stream, OutputMode.Update(), stream) { (batch, _) =>
      Sink.mergeByKeyPartitioned(batch, r.out, Seq("day", "chain"), "chain")
    }.select(col("day"), col("chain").cast("long").as("chain"), col("n_tx"),
      round(col("total_stake"), 4).as("total_stake"))
  }

  /** GROUP-BY-day twin of the [[dailyVolumeReplay]] sink. */
  val dailyVolumeStreamSql: String =
    s"""WITH ${Tables.TX_CTE}
       |SELECT CAST(CAST(createdAt AS DATE) AS VARCHAR) AS day, chain,
       |       CAST(count(*) AS BIGINT) AS n_tx,
       |       round(sum(stake), 4) AS total_stake
       |FROM tx GROUP BY 1, 2""".stripMargin

  case class DocArrival(doc_id: Long, ts: Timestamp, fp: String)
  case class FpGroup(fp: String, keep_id: Long, dup_count: Long)

  /** Streaming exact-dedup GROUPS with keyed state — the firehose twin of
    * `Dedup.exactGroups`, in the form that faces the oracle:
    * `dropDuplicatesWithinWatermark` keeps an ARBITRARY first row per fingerprint within a micro-batch
    * (partition order, not event order), which production dedup happily
    * accepts but an exact-hash differential cannot. Here the state per
    * fingerprint is (winner's event-time key, running count); each
    * batch's arrivals fold in under the uniform full-precision (ts,
    * nanos, doc_id) order, and the group's CURRENT row re-emits
    * whenever it changes (update mode) — so after the MERGE sink
    * drains, the table is `Dedup.exactGroups` exactly: the winner is
    * the globally EARLIEST (ts, doc_id) arrival regardless of which
    * micro-batch delivered it — keeping the winner's KEY, not just its
    * id, is what makes a multi-file out-of-order source safe: a
    * displacement re-emits the group and the MERGE sink replaces the
    * row — and dup_count ≡ group size. State = three longs per
    * distinct fingerprint (the `dropDuplicatesWithinWatermark`
    * footprint plus one long), without its winner nondeterminism
    * (production bounds it with the watermark timeout; the replay
    * needs every group's final count, so it keeps state to
    * end-of-drain the way the batch groupBy holds its hash table).
    */
  def dedupGroupsStream(docs: Dataset[DocArrival]): Dataset[FpGroup] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[(Long, Long, Long), FpGroup](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (fp, rows, state: GroupState[(Long, Long, Long)]) =>
          val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.doc_id))
          // winner = globally earliest (ts-µs, doc_id): the state keeps
          // the winner's KEY, not just its id, so an earlier event
          // arriving in a LATER micro-batch (a multi-file source
          // delivering out of order) still displaces it — update mode
          // re-emits the group and the MERGE sink replaces the row,
          // which is what makes displacement safe to express at all
          def keyOf(r: DocArrival): (Long, Long) = {
            val i = r.ts.toInstant
            (i.getEpochSecond * 1000000L + i.getNano / 1000L, r.doc_id)
          }
          val headKey = keyOf(batch.head)
          val (us0, id0, n0) = state.getOption
            .getOrElse((headKey._1, headKey._2, 0L))
          val displaces =
            headKey._1 < us0 || (headKey._1 == us0 && headKey._2 < id0)
          val (us1, id1) = if (displaces) headKey else (us0, id0)
          val out = FpGroup(fp, id1, n0 + batch.length)
          state.update((us1, id1, out.dup_count))
          Iterator(out)
      }
  }

  /** The ORACLE-GATED replay of the exact-dedup groups: documents arrive
    * through the file stream on a deterministic synthetic clock (the
    * crawl replays in doc_id order — there is no event time on the
    * documents table, and any monotone clock gives the same winner),
    * each micro-batch's changed groups MERGE into the keyed sink, and
    * the drained sink shares `Dedup.dedupExactSql` VERBATIM — the
    * streaming state formulation driver-checked against the batch
    * groupBy formulation, like first_seen_stream vs the window form.
    *
    * The sink is the PARTITION-PRUNED merge, partitioned by the
    * fingerprint's first hex nibble — unlike `daily_volume_stream`'s
    * |chains| partitions, this is the UNBOUNDED-key case the
    * partitioned MERGE exists for: the fingerprint space grows with
    * the corpus, the 16 hash-prefix partitions shard it evenly, and a
    * micro-batch rewrites only the prefixes it touched instead of the
    * whole standing group table.
    */
  def dedupGroupsReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "dedup_groups_replay") { r =>
    import spark.implicits._
    val arrivals = Tables.documentsStream(spark, sfDir)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        graft.ops.Dedup.exactFp(col("text")).as("fp"))
      .as[DocArrival]
    val stream = dedupGroupsStream(arrivals).toDF()
    r.eachBatch(stream, OutputMode.Update(), stream) { (batch, _) =>
      Sink.mergeByKeyPartitioned(
        batch.withColumn("fp_p", substring(col("fp"), 1, 1)),
        r.out, Seq("fp"), "fp_p")
    }.select(col("fp"), col("keep_id"), col("dup_count"))
  }

  case class BandRow(doc_id: Long, ts: Timestamp, band_no: Int, bucket: String)
  case class BandMatch(d1: Long, d2: Long, band_no: Int)

  /** Streaming NEAR-dup candidates — the firehose twin of
    * `Dedup.minhashPairs`: each arriving document computes its MinHash
    * signature with the same single-pass `minhash_sig` kernel (a
    * stateless projection, unchanged from batch) and its LSH band
    * buckets; keyed state holds the FIRST document seen per (band,
    * bucket) and every later arrival in that bucket emits a candidate
    * pair against it. State is bounded two ways: one long per occupied
    * bucket (never per document pair), aged out by the event-time
    * timeout once the watermark passes `lateness` — the only policy
    * that survives an unbounded crawl. A document matching on several
    * bands emits one candidate per band (the batch operator's
    * `n_bands` count is the same information aggregated); exact-verify
    * (Jaccard on the pair) remains a downstream batch step, as in the
    * batch pipeline.
    */
  def nearDupStream(docs: DataFrame, tsCol: String,
      lateness: String): Dataset[BandMatch] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = (0 until graft.ops.Dedup.NUM_BANDS).map { b =>
      val parts = (0 until graft.ops.Dedup.ROWS_PER_BAND).map(r =>
        element_at(col("sig"), b * graft.ops.Dedup.ROWS_PER_BAND + r + 1))
      struct(lit(b).as("band_no"), md5(concat_ws("|", parts: _*)).as("bucket"))
    }
    docs
      .select(col("doc_id"), col(tsCol).as("ts"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("ts"),
        TextFunctions.minhashSig(col("toks"), graft.ops.Dedup.NUM_HASHES).as("sig"))
      .select(col("doc_id"), col("ts"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("ts"),
        col("b.band_no").as("band_no"), col("b.bucket").as("bucket"))
      .withWatermark("ts", lateness)
      .as[BandRow]
      .groupByKey(r => (r.band_no, r.bucket))
      .flatMapGroupsWithState[Long, BandMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // earliest (ts, doc_id) is the bucket representative,
            // matching the batch pair orientation (d1 < d2 by arrival);
            // full-precision ordering (millis, nanos, id) — the same
            // uniform intra-batch rule as transitions/first-seen, so two
            // sub-millisecond arrivals can't swap representatives
            val batch = rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.doc_id))
            val (rep, later) =
              if (state.exists) (state.get, batch)
              else { state.update(batch.head.doc_id); (batch.head.doc_id, batch.tail) }
            // keep bucket state only while the watermark can still
            // deliver a matching document
            state.setTimeoutTimestamp(batch.map(_.ts.getTime).max, lateness)
            later.iterator.filter(_.doc_id != rep)
              .map(r => BandMatch(rep, r.doc_id, key._1))
          }
      }
  }

  /** The ORACLE-GATED replay of [[nearDupStream]]: documents arrive on
    * the same deterministic doc_id-ordered synthetic clock as
    * [[dedupGroupsReplay]], each bucket's first arrival becomes its
    * standing representative, and the sunk (rep, later, band) candidates
    * grouped to (d1, d2, n_bands) face `Dedup.nearDupStarSql` — the
    * star-form view of the SAME bucket geometry the batch clique oracle
    * uses (first-seen ≡ min doc_id under the ordered replay). Lateness
    * is DERIVED from the corpus — max doc_id seconds on the synthetic
    * 1 s/doc clock, plus a day of slack — so no bucket representative
    * can age out mid-drain at ANY SF: a fixed horizon (30 days, the
    * round-11 pin) silently breaks past ~2.59 M documents once a
    * multi-file layout replays as several micro-batches and the
    * advancing watermark starts evicting standing representatives
    * (round-11 advice). Production uses the short horizon; the gate
    * needs the whole corpus in one comparable frame, so the gate's
    * horizon must scale with the corpus it gates. The max() is one
    * column of one aggregate over the batch view of the same fixture —
    * a driver-side scalar, same cost class as the watermark singleton.
    */
  def nearDupReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "near_dup_replay") { r =>
    val horizonRow = Tables.documents(spark, sfDir)
      .agg(max(col("doc_id"))).head()
    require(!horizonRow.isNullAt(0),
      s"nearDupReplay: documents table at $sfDir is empty — no replay horizon")
    val horizonSec = horizonRow.getLong(0) + 86400L
    val docs = Tables.documentsStream(spark, sfDir)
      .select(col("doc_id"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"),
        col("text"))
    r.files(nearDupStream(docs, "ts", lateness = s"$horizonSec seconds").toDF())
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Streaming IVF ingest — the index-build twin of the batch
    * [[graft.ops.Similarity.kmeansCells]]: the coarse quantizer fits
    * once on the STANDING corpus (the model is K·dim driver-held
    * constants, exactly like the batch path) and arrives here as its
    * assignment column (`Similarity.cellAssigner`, or the FitStore-served
    * `sharedCellAssigner`); each arriving vector is routed to its cell by
    * a stateless codegen projection — no state store, any output mode.
    * This is how a vector index grows in production: the quantizer is
    * refit offline; ingest only assigns. Emits (vec_id, cell) plus the
    * vector for the downstream writer.
    */
  def ivfAssignStream(vectors: DataFrame,
      assign: org.apache.spark.sql.Column): DataFrame =
    graft.ops.Similarity.withNorm(vectors)
      .withColumn("cell", assign)
      .select(col("vec_id"), col("cell"), col("embedding"))

  /** The ORACLE-GATED replay of [[ivfAssignStream]]: the whole corpus
    * arrives as a file stream and is routed cell-by-cell by the
    * session-shared standing quantizer
    * ([[graft.ops.Similarity.sharedCellAssigner]] — the same
    * FitStore-persisted model every batch IVF query serves from). A
    * stateless projection, so plain append mode with no watermark and
    * no state store; after AvailableNow drains, the sink must equal the
    * batch k-means chain's final assignment
    * (`Similarity.ivfAssignStreamSql`) row-for-row — the streaming
    * ingest path and the batch index build landing on the same index.
    */
  def ivfAssignReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "ivf_assign_replay") { r =>
    val assign = graft.ops.Similarity.sharedCellAssigner(spark, sfDir)
    r.files(ivfAssignStream(Tables.embeddingsStream(spark, sfDir), assign)
      .select(col("vec_id"), col("cell")))
  }

  /** The ORACLE-GATED streaming GRAPH-INSERT twin — the vector-index
    * ingest path one level up from [[ivfAssignStream]]: arrivals (the
    * odd half) stream in, and each micro-batch finds its link sets by
    * LSH-seeded beam search over the STANDING even-half NN-descent
    * adjacency (FitStore-served, loaded once at query build; the batch
    * frame names the micro-batch's query set —
    * [[graft.ops.Similarity.beamTraverseFor]]'s semi-join form, because
    * an `isin` literal list would put the whole batch into the
    * expression tree). Per-arrival results depend only on (arrival,
    * standing graph), so batch boundaries are invisible and the drained
    * append sink must equal the batch `simsearch_graph_insert` rows
    * exactly. Per-batch cost = the corpus-independent beam budget ×
    * |batch|; no state store (the standing graph IS the state, owned by
    * the index, not the stream).
    */
  def graphInsertReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "graph_insert_replay") { r =>
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    // two independent stream-build chains (guide §2.6): the standing
    // even-half NND fit, and the pinned base → bit geometry → standing
    // bucket table chain (the bucket explode hides under the NND loop)
    val (edges, (base, baseBits, standingBuckets)) = graft.ops.Overlap.all2(
      Similarity.evenHalfGraphIndex(spark, sfDir),
      {
        val base = Similarity.withNorm(emb).localCheckpoint()
        // the seed-bucket bit geometry depends only on the pinned base —
        // one count at stream build, not one count JOB per micro-batch
        val baseBits = graft.ops.Dedup.hypBitsFor(base.count())
        // likewise the WHOLE standing-side bucket table: the base cannot
        // change mid-stream, so the corpus explode is stream-build work,
        // not per-trigger work (round-15 verdict ask #4)
        val standingBuckets = Similarity.seedNodeBuckets(
          base, baseBits, isNode = col("vec_id") % 2 === 0).localCheckpoint()
        (base, baseBits, standingBuckets)
      })
    def links(ids: DataFrame): DataFrame =
      Similarity.graphTopkFrom(Similarity.beamTraverseFor(
          edges, base, ids, Similarity.GRAPH_BEAM, baseBits, standingBuckets))
        .select(col("q_id").as("new_id"), col("n_id"), col("cosine"), col("rnk"))
    val stream = Tables.embeddingsStream(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"))
    r.eachBatch(stream, OutputMode.Append(), links(emb.select(col("vec_id")).limit(0))) {
      (batch, batchId) =>
        links(batch.select(col("vec_id")).localCheckpoint())
          .write.mode("overwrite").parquet(r.batchDir(batchId))
    }
  }

  /** Shared frozen-cap ER replay body (round 15, verdict ask #5 — the
    * ~25 lines [[erLinkageReplay]]/[[erGoldenReplay]] duplicated,
    * factored): odd-id documents replay through the file stream, each
    * micro-batch's kept records probe the STANDING record view ∪ the
    * accumulated earlier arrivals under the FROZEN-cap admission policy,
    * and the batch-decomposition-invariant pair emissions land in the
    * idempotent batchId-keyed sink. Cross-batch state is the arrival
    * record index, advanced per-batch-DELTA (see [[DeltaIndex]] — the
    * probe reads the whole index, the checkpoint writes only the batch).
    * The two twins differ only in the drain finish; this returns what
    * both need: (drained pairs, standing docs, kept standing records).
    */
  private def erFrozenReplay(r: Replay, spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.ops.EntityResolution
    val standing = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
    val rejected = EntityResolution.frozenRejectedBlocks(standing)
      .localCheckpoint()
    val rsKept = EntityResolution.keptFrozen(standing, rejected)
      .localCheckpoint()
    val seenKept = new DeltaIndex(
      EntityResolution.keptFrozen(standing.limit(0), rejected)
        .localCheckpoint())
    val stream = Tables.documentsStream(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    val pairs = r.eachBatch(stream, OutputMode.Append(),
        EntityResolution.erStreamProbe(rsKept.limit(0), rsKept.limit(0))) {
      (batch, batchId) =>
        val rb = EntityResolution.keptFrozen(batch, rejected)
          .localCheckpoint()
        EntityResolution.erStreamProbe(rb, rsKept.unionByName(seenKept.view))
          .write.mode("overwrite").parquet(r.batchDir(batchId))
        seenKept += rb
    }
    (pairs, standing, rsKept)
  }

  /** The ORACLE-GATED streaming ENTITY-LINKAGE twin — record linkage as
    * an ingest stream, completing the ER family's deployment-mode
    * coverage (batch → incremental → streaming): odd-id documents
    * arrive as micro-batches, and each batch's records probe the
    * STANDING record view plus every EARLIER arrival within blocks,
    * under the FROZEN-cap admission policy
    * ([[graft.ops.EntityResolution.frozenRejectedBlocks]]: cap
    * decisions pinned at index-build time — the production policy when
    * total arrival volume is unknowable mid-stream). Emission is
    * batch-decomposition-invariant ("the batch holding the
    * later-arriving member emits", x < y within a batch — see
    * [[graft.ops.EntityResolution.erStreamProbe]]), so the drained sink
    * equals the one-shot arrival-touching pair set EXACTLY however the
    * file stream happens to batch — single-file fixtures replay as one
    * batch, the 32-file rehearsal corpora as many. Cross-batch state is
    * the accumulated arrival record view (linear, the standing index's
    * append side); the sink is the idempotent batchId-keyed overwrite
    * (the graph-insert lesson). Per-batch cost: Σ_blocks |batch_b| ·
    * (standing_b + seen_b) — the batch probes indexes, never history
    * rescans.
    */
  def erLinkageReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame =
    Replay(spark, "er_linkage_replay")(erFrozenReplay(_, spark, sfDir)._1)

  /** The ORACLE-GATED streaming GOLDEN-RECORD twin — survivorship
    * maintained as mentions stream in, the audit-cadence completion of
    * the ER family (round-13 "What's missing" #2). The per-batch work IS
    * [[erLinkageReplay]]'s frozen-cap probe (cap decisions pinned at
    * standing-index-build time; emission batch-decomposition-invariant,
    * so the drained pair set equals the one-shot frozen set under ANY
    * batching), and the drain runs the SAME contracted-CC + algebraic
    * survivorship finish as the one-shot incremental
    * ([[graft.ops.EntityResolution.erGoldenFinish]]) — legal because a
    * frozen standing–standing pair is exactly a standing-linkage pair,
    * so the FitStore standing assignment is the frozen policy's own
    * cluster state. Oracle: [[graft.ops.EntityResolution
    * .erGoldenStreamSql]] — the cold golden records over the frozen pair
    * set, restricted to arrival-touching entities.
    */
  def erGoldenReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    import graft.ops.EntityResolution
    val arrivals = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
    // the standing-assignment fit reads only the even half and is
    // independent of the whole frozen-cap replay — build it while the
    // stream drains instead of serializing it behind the drain
    // (guide §2.6; bounded pool, Overlap.scala)
    val ((standing, drained), assignSt) = graft.ops.Overlap.all2(
      Replay(spark, "er_golden_replay") { r =>
        val (pairs, standing, _) = erFrozenReplay(r, spark, sfDir)
        (standing, pairs.select(col("a_id"), col("b_id")).localCheckpoint())
      },
      EntityResolution.sharedStandingAssignment(spark, sfDir))
    EntityResolution.erGoldenFinish(standing, assignSt, drained,
      EntityResolution.arrivalRecords(arrivals))
  }

  /** Accumulated-arrival index with LOG-STRUCTURED delta checkpointing
    * (round 15, two designs measured). The r14 replays advanced
    * cross-batch state as `seen = seen.unionByName(delta)
    * .localCheckpoint()` — each batch re-materializing EVERY accumulated
    * row, so a window of B batches writes ≈ B/2 × the window's index
    * bytes (a day at a 5-minute trigger: ~144× write amplification).
    * The first r15 cut kept every batch's delta as its own checkpointed
    * frame (write cost = the delta alone) — and the 32-micro-batch
    * rehearsal showed it REGRESSING every replay 20–65% (SCALING.md
    * r15): batch k's probes now scan a union of k tiny frames, so scan
    * fanout — tasks, per-scan setup, plan size — grows linearly in
    * batch count, and Σk = B²/2 of it beats the write amplification it
    * removed at any index size the box holds.
    *
    * This is the classic small-runs problem, and the classic answer:
    * Bentley–Saxe / LSM run merging. Deltas enter at level 0; two runs
    * of the same level merge into one checkpointed run one level up, so
    * the index is always ≤ log₂B+1 runs (probe fanout LOGARITHMIC in
    * batch count) and each row is re-materialized at most once per
    * level it rises through (amortized write cost log₂B × index bytes
    * per window — at B=144: ~8×, vs the r14 full re-checkpoint's ~72×).
    * Both failure modes bounded; neither end of the A/B table paid.
    * Mutated only from `foreachBatch`, whose micro-batches run
    * sequentially on the driver.
    */
  private[graft] final class DeltaIndex(zero: DataFrame) {
    /** (level, run): runs(i) holds a merged run of ~2^level batch
      * deltas, strictly decreasing levels from the head — merging only
      * equal-level neighbors preserves the invariant.
      */
    private val runs = scala.collection.mutable.ArrayBuffer[(Int, DataFrame)]()
    /** Standing run count — spec hook for the ≤ log₂B+1 fanout bound. */
    private[graft] def runCount: Int = runs.size
    private val base = zero
    /** The index view — lazy union of the ≤ log₂B+1 standing runs. */
    def view: DataFrame = runs.foldLeft(base) { case (a, (_, r)) => a.unionByName(r) }
    /** Append a batch's delta — a checkpointed frame, or one derived
      * NARROWLY from a checkpointed frame (re-running a map/explode off
      * a checkpointed RDD per probe is cheap). Equal-level runs merge
      * into a checkpointed union one level up, carrying the amortized
      * log-cost analysis above.
      */
    def +=(delta: DataFrame): Unit = {
      var lvl = 0
      var cur = delta
      while (runs.nonEmpty && runs.last._1 == lvl) {
        val top = runs.remove(runs.size - 1)._2
        cur = top.unionByName(cur).localCheckpoint()
        lvl += 1
      }
      runs += ((lvl, cur))
    }
  }


  /** The ORACLE-GATED streaming TRIANGLE-STATS twin — completing the
    * graph family's deployment-mode coverage (batch → incremental →
    * streaming): odd-id vectors arrive as micro-batches, each batch OWNS
    * the edges whose last-arriving endpoint it holds
    * ([[graft.ops.Graph.batchEdges]] — ownership partitions the arrival
    * edge set under ANY batching), and emits its per-node (degree delta,
    * triangle memberships) via the shared first-arrival-edge enumeration
    * ([[graft.ops.Graph.triStreamEmit]]) against the accumulated so-far
    * graph. A triangle is therefore counted by exactly one batch — the
    * one holding its last edge — and the drained sink merges ADDITIVELY
    * with the standing stats to the full cold table
    * ([[graft.ops.Graph.triStreamMerge]]; oracle = the cold triangle SQL
    * verbatim). Cross-batch state is the accumulated arrival edge frame
    * (the standing index's append side, as in [[erLinkageReplay]]); the
    * sink is the idempotent batchId-keyed overwrite.
    */
  def graphTriStatsReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "graph_tri_replay") { r =>
    import graft.ops.Graph
    val und = Graph.sharedUnd(spark, sfDir)
    val undS = und.filter(col("u") % 2 === 0 && col("v") % 2 === 0)
    val seenEdges = new DeltaIndex(undS.localCheckpoint())
    val arrived = new DeltaIndex(
      und.select(col("u").as("id")).limit(0).localCheckpoint())
    val stream = Tables.embeddingsStream(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"))
    // the standing triangle stats are read only at DRAIN — they build
    // while the stream runs (guide §2.6, join handle)
    val (emitted, statsSt) = r.eachBatchWith(stream, OutputMode.Append(),
        Graph.triStreamEmit(undS.limit(0), undS.limit(0)),
        graft.ops.Overlap.start(Graph.sharedStandingTriStats(spark, sfDir, undS))) {
      (batch, batchId) =>
        val nb = batch.localCheckpoint()
        val aB = Graph.batchEdges(und, nb, arrived.view).localCheckpoint()
        Graph.triStreamEmit(seenEdges.view, aB)
          .write.mode("overwrite").parquet(r.batchDir(batchId))
        seenEdges += aB
        arrived += nb
    }
    Graph.triStreamMerge(statsSt, emitted)
  }

  /** The ORACLE-GATED streaming LINK-PREDICTION twin — missing-link
    * scores maintained as the similarity graph streams in, completing
    * the operator's three deployment modes (batch → incremental →
    * streaming). Each micro-batch owns the arrival edges whose
    * last-arriving endpoint it holds ([[graft.ops.Graph.batchEdges]] —
    * ownership partitions the edge set under ANY batching) and emits the
    * per-pair (dcn, dra) delta rows of [[graft.ops.Graph.linkDeltas]]
    * against the so-far graph. Weight deltas TELESCOPE — each batch
    * re-weights so-far wedges at its touched centers from pre- to
    * post-batch degree, and a cap crossing retracts exactly once — so
    * the summed emissions equal the one-shot delta however the stream
    * batches, and the drain's merge + finish equals the cold query
    * EXACTLY. Sink is the idempotent batchId-keyed overwrite; cross-batch
    * state is the so-far edge frame the graph index owns anyway. Oracle:
    * the cold `graphLinkPredictSql` verbatim.
    */
  def graphLinkReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "graph_link_replay") { r =>
    import graft.ops.Graph
    val und = Graph.sharedUnd(spark, sfDir)
    val undS = und.filter(col("u") % 2 === 0 && col("v") % 2 === 0)
    val seenEdges = new DeltaIndex(undS.localCheckpoint())
    val arrived = new DeltaIndex(
      und.select(col("u").as("id")).limit(0).localCheckpoint())
    val stream = Tables.embeddingsStream(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"))
    // the standing link scores are read only at DRAIN — they build
    // while the stream runs (guide §2.6, join handle)
    val (deltas, scoredS) = r.eachBatchWith(stream, OutputMode.Append(),
        Graph.linkDeltas(undS.limit(0), undS.limit(0)),
        graft.ops.Overlap.start(Graph.sharedStandingLinkScores(spark, sfDir, undS))) {
      (batch, batchId) =>
        val nb = batch.localCheckpoint()
        val aB = Graph.batchEdges(und, nb, arrived.view).localCheckpoint()
        Graph.linkDeltas(aB, seenEdges.view)
          .write.mode("overwrite").parquet(r.batchDir(batchId))
        seenEdges += aB
        arrived += nb
    }
    Graph.linkFinish(Graph.linkMerge(scoredS, deltas), und)
  }

  /** The ORACLE-GATED streaming MULTIMODAL-ASSEMBLY twin — the media
    * ingest gauntlet as a stream, completing the multimodal family's
    * deployment modes (batch → incremental → streaming): arrival-decile
    * media items stream in, and each micro-batch runs the
    * batch-decomposition-INVARIANT half of the gauntlet
    * ([[graft.ops.Multimodal.gauntletFlags]] — structural gates, checksum
    * dup rank, perceptual band probe, raw clip score) against the
    * FitStore-persisted STANDING state UNIONED with the accumulated
    * earlier-arrival indexes. Dup/perceptual min-id semantics are exact
    * under the doc_id-ordered replay clock (the `dedup_neardup_stream`
    * convention: a smaller-id twin never arrives later). The feed-mean
    * margin is an END-OF-WINDOW statistic — the drain merges the emitted
    * flags' own per-source partials with the standing feed stats and
    * applies the margin through the SAME [[graft.ops.Multimodal
    * .finishAssembly]] the one-shot incremental uses (the CLIP-filter
    * batch-cadence reality: a sealed ingest window is scored once its
    * feed stats close). Sink is the idempotent batchId-keyed overwrite;
    * cross-batch state is the arrival checksum/band append side.
    */
  def multimodalAssemblyReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "mm_assembly_replay") { r =>
    import graft.ops.Multimodal
    val emb = Tables.embeddings(spark, sfDir)
    // the feed-stats fit is read only at DRAIN (finishAssembly) — a held
    // join handle, so it builds while the stream runs
    val (ck, bi, fsJ) = Multimodal.sharedStandingStateAsync(spark, sfDir)
    r.hold(fsJ)
    val seenCk = new DeltaIndex(ck.limit(0).localCheckpoint())
    val seenBands = new DeltaIndex(bi.limit(0).localCheckpoint())
    val stream = Tables.documentsStream(spark, sfDir)
      .filter(col("doc_id") % 10 >= Multimodal.ARRIVAL_DECILE)
    val flags = r.eachBatch(stream, OutputMode.Append(),
        Multimodal.gauntletFlags(Tables.documents(spark, sfDir).limit(0),
          emb, ck, bi)) { (batch, batchId) =>
      val arr = batch.localCheckpoint()
      // min-id re-group over the delta UNION is the probe's job (the
      // view holds one grouped row per (batch, checksum) — ckAll
      // collapses them); each batch checkpoints only its own slice
      val ckAll = ck.unionByName(seenCk.view)
        .groupBy(col("checksum")).agg(min(col("st_min_id")).as("st_min_id"))
      Multimodal.gauntletFlags(arr, emb, ckAll, bi.unionByName(seenBands.view))
        .write.mode("overwrite").parquet(r.batchDir(batchId))
      seenCk +=
        arr.select(md5(col("text")).as("checksum"), col("doc_id").as("st_min_id"))
          .groupBy(col("checksum")).agg(min(col("st_min_id")).as("st_min_id"))
          .localCheckpoint()
      seenBands +=
        Multimodal.signatureBands(Multimodal.sliceFrames(arr)).localCheckpoint()
    }
    Multimodal.finishAssembly(flags, fsJ())
  }

  /** The ORACLE-GATED streaming CORPUS-REJECTIONS twin — the assembly
    * audit as an ingest stream, completing the text capstone's
    * deployment modes (batch → incremental → streaming): top-fifth
    * arrivals stream in, each micro-batch runs the batch-decomposition-
    * INVARIANT audit half ([[graft.ops.TextAnalysis.rejStreamFlags]] —
    * quality, exact-dup vs the standing fp set ∪ accumulated arrival
    * fps + within-batch rank, near-dup via batch-local-order prefixes
    * vs the standing ∪ accumulated arrival postings + within-batch
    * AllPairs; both FINAL at batch close under the doc_id-ordered
    * replay clock) and APPENDS its own fp/postings/shingle-set/bench
    * slices to the accumulated arrival indexes — the stream IS the
    * index builder, the `text_bm25_incremental` lifecycle online.
    * Contamination, the standing burn correction, domain gating and mix
    * rates are END-OF-WINDOW statistics (the bench suite and corpus
    * stats seal with the window — an arriving benchmark doc burns
    * RETROACTIVELY across batches), applied at drain through the SAME
    * [[graft.ops.TextAnalysis.rejStreamFinish]] the one-shot
    * incremental composes — postings-bounded probes, never an arrival
    * rescan. Sink is the idempotent batchId-keyed overwrite.
    */
  def corpusRejectionsReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "rejections_replay") { r =>
    import graft.ops.{TextAnalysis => TA}
    val docs = Tables.documents(spark, sfDir)
    val t = TA.caThreshold(docs)
    // the bench-hash and doc-stats fits are read only at DRAIN — held
    // join handles, so they build while the stream runs instead of
    // delaying stream start behind fits no micro-batch touches
    val (sets, fpIdx, postings, benchHJ, docStatsJ) =
      TA.sharedCaStateAsync(spark, sfDir)
    r.hold(benchHJ)
    r.hold(docStatsJ)
    val isBench = col("doc_id") % lit(graft.ops.TextAnalysis.DECONTAM_MOD) === 0
    val seenFp = new DeltaIndex(fpIdx.limit(0).localCheckpoint())
    val seenPost = new DeltaIndex(postings.limit(0).localCheckpoint())
    val seenSets = new DeltaIndex(sets.limit(0).localCheckpoint())
    // schema-only init from benchH's own expression (benchH is still
    // building): the shingle hashes exploded off the set arrays
    val seenBench = new DeltaIndex(
      sets.limit(0).select(explode(col("shs")).as("h")).localCheckpoint())
    val stream = Tables.documentsStream(spark, sfDir)
      .filter(col("doc_id") >= t)
    val flags = r.eachBatch(stream, OutputMode.Append(),
        TA.rejFlags(docs.limit(0), TA.caShingleSets(docs.limit(0)),
          fpIdx, postings, sets, batchBounded = true)) { (batch, batchId) =>
      val arr = batch.localCheckpoint()
      val aSets = TA.caShingleSets(arr).localCheckpoint()
      TA.rejFlags(arr, aSets,
          fpIdx.unionByName(seenFp.view),
          postings.unionByName(seenPost.view),
          sets.unionByName(seenSets.view), batchBounded = true)
        .write.mode("overwrite").parquet(r.batchDir(batchId))
      seenFp +=
        arr.select(graft.ops.Dedup.exactFp(col("text")).as("fp")).distinct()
          .localCheckpoint()
      // postings/bench deltas stay LAZY off the checkpointed aSets —
      // a narrow re-explode per probe, vs. storing the posting index
      // twice; the set delta IS the checkpointed frame itself
      seenPost += aSets.select(col("doc_id"), explode(col("shs")).as("h"))
      seenSets += aSets
      // per-batch distinct dropped: the drain's own distinct() is the
      // single shuffle that collapses cross-batch repeats anyway
      seenBench += aSets.filter(isBench).select(explode(col("shs")).as("h"))
    }
    TA.rejStreamFinish(flags, seenPost.view, seenBench.view.distinct(),
      benchHJ(), postings, docStatsJ())
  }

  /** The ORACLE-GATED streaming PRIVACY-AUDIT twin — k-anonymity
    * maintained on a customer ingest stream, completing the privacy
    * family's deployment modes: odd-custkey arrivals stream in, a
    * streaming aggregation keeps the per-QI-class running counts
    * (UPDATE mode, state = one row per occupied class — the DQ-ledger
    * bound applied to the privacy grain) materialized through the keyed
    * MERGE sink (running totals, last write wins), and the drain merges
    * the drained class counts with the FitStore-persisted standing
    * table and rolls up the SAME k-histogram as the batch audit.
    * Oracle = the cold [[graft.ops.Privacy.kAnonymitySql]] VERBATIM
    * (k-anonymity is a corpus-level property — no arrival restriction).
    */
  def privacyKAnonReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "privacy_kanon_replay") { r =>
    import graft.ops.Privacy
    val stream = Tables.customerStream(spark, sfDir)
      .filter(col("c_custkey") % 2 === 1)
      .groupBy(Privacy.qiK: _*)
      .agg(count(lit(1)).as("k"))
    // the standing fit reads only the static even half — it builds while
    // the stream drains instead of behind it (guide §2.6, join handle)
    val (counts, standing) = r.eachBatchWith(stream, OutputMode.Update(), stream,
        graft.ops.Overlap.start(Privacy.sharedClassCounts(spark, sfDir,
          "privacy_qik_st", Privacy.qiK,
          Tables.customer(spark, sfDir).filter(col("c_custkey") % 2 === 0)))) { (batch, _) =>
      Sink.mergeByKey(batch, r.out, Seq("qi"))
    }
    Privacy.kHistogram(
      Privacy.mergeCounts(standing, counts).select(col("qi"), col("k")))
  }

  /** The ORACLE-GATED streaming L-DIVERSITY twin — the homogeneity
    * audit on the same customer ingest stream as [[privacyKAnonReplay]],
    * at the audit's MERGEABLE grain: `count_distinct(segment)` does not
    * merge from per-class counts, so the streaming aggregation (and the
    * MERGE sink) runs one level finer, on (qi, segment) running counts
    * (UPDATE mode, state = one row per occupied (class, segment) cell —
    * still class-bounded, never per-record). The drain merges the
    * drained cell counts with the FitStore-persisted standing table and
    * derives k/l through the SAME [[graft.ops.Privacy.lHistogram]]
    * rollup the incremental uses. Oracle = the cold
    * [[graft.ops.Privacy.lDiversitySql]] VERBATIM.
    */
  def privacyLDivReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "privacy_ldiv_replay") { r =>
    import graft.ops.Privacy
    val stream = Tables.customerStream(spark, sfDir)
      .filter(col("c_custkey") % 2 === 1)
      .groupBy(Privacy.qiSeg: _*)
      .agg(count(lit(1)).as("k"))
    // standing fit is stream-independent — overlap with the drain
    val (counts, standing) = r.eachBatchWith(stream, OutputMode.Update(), stream,
        graft.ops.Overlap.start(Privacy.sharedClassCounts(spark, sfDir,
          "privacy_qiseg_st", Privacy.qiSeg,
          Tables.customer(spark, sfDir).filter(col("c_custkey") % 2 === 0)))) { (batch, _) =>
      Sink.mergeByKey(batch, r.out, Seq("qi", "seg"))
    }
    Privacy.lHistogram(Privacy.mergeCounts(standing, counts))
  }

  /** The ORACLE-GATED streaming GENERALIZATION-LADDER twin — k-anonymity
    * at every ladder level maintained on the customer ingest stream. The
    * melt is per-record and level-local (a stateless projection after
    * the broadcast stream-static nation join), so the streaming
    * aggregation keys (level, qi) running counts — UPDATE mode, state ≤
    * |levels| rows per occupied class — through the keyed MERGE sink.
    * The drain unions the drained counts with the FitStore-persisted
    * standing ladder table and rolls up through the SAME
    * [[graft.ops.Privacy.ladderRollup]] the cold and incremental forms
    * use. Oracle = [[graft.ops.Privacy.generalizationLadderSql]]
    * VERBATIM.
    */
  def privacyLadderReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "privacy_ladder_replay") { r =>
    import graft.ops.Privacy
    val stream = Privacy.ladderCounts(
      Tables.customerStream(spark, sfDir).filter(col("c_custkey") % 2 === 1),
      Tables.nation(spark, sfDir))
    // standing ladder fit is stream-independent — overlap with the drain
    val (counts, standing) = r.eachBatchWith(stream, OutputMode.Update(), stream,
        graft.ops.Overlap.start(Privacy.sharedLadderCounts(spark, sfDir))) { (batch, _) =>
      Sink.mergeByKey(batch, r.out, Seq("level", "qi"))
    }
    Privacy.ladderRollup(
      standing.unionByName(counts)
        .groupBy(col("level"), col("qi")).agg(sum(col("k")).as("k")))
  }

  /** Streaming index-drift monitor — the online half of the batch
    * [[graft.ops.Similarity.indexDrift]]: the drift quantizer fits once
    * on the STANDING corpus (same fit rule as the batch report's
    * prior-half fit; the model is K·dim driver-held constants) and
    * arrives here as (cell, cos) scorer columns
    * (`Similarity.driftScorerCols`, or the FitStore-served
    * `sharedDriftScorer`); each arriving vector is assigned and scored by
    * stateless codegen projections, and the arriving stream's per-cell
    * occupancy and tightness is a streaming aggregation whose state is
    * bounded at K rows — emits exactly the (cell, n_new, avg_cos_new)
    * numbers the batch report sets against the standing index's own.
    * This is how drift monitoring runs in production: refit offline,
    * watch the ingest firehose online, alarm when a cell's numbers walk.
    */
  def indexDriftStream(vectors: DataFrame,
      cellCol: org.apache.spark.sql.Column,
      cosCol: org.apache.spark.sql.Column): DataFrame =
    graft.ops.Similarity.withNorm(vectors)
      .withColumn("cell", cellCol)
      .withColumn("cos", cosCol)
      .groupBy(col("cell"))
      .agg(count(lit(1)).cast("long").as("n_new"),
        round(avg(col("cos")), 6).as("avg_cos_new"))

  /** The ORACLE-GATED replay of [[indexDriftStream]]: the odd-id half
    * of the embeddings arrives as a file stream (the "new traffic") and
    * is scored against the standing even-half quantizer — exactly the
    * frozen prior-half fit the batch [[graft.ops.Similarity.indexDrift]]
    * report uses (session-shared, FitStore-persisted). The per-cell
    * (n_new, avg_cos_new) aggregation is the twin's only stateful
    * stage, bounded at K rows, so COMPLETE output mode through a
    * per-batch overwrite is the natural sink: after AvailableNow
    * drains, the sink is the monitor's final per-cell report and must
    * equal the batch report's new-half columns
    * (`Similarity.indexDriftStreamSql`).
    */
  def indexDriftReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "index_drift_replay") { r =>
    val (cellCol, cosCol) = graft.ops.Similarity.sharedDriftScorer(spark, sfDir)
    val arrivals = Tables.embeddingsStream(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
    val stream = indexDriftStream(arrivals, cellCol, cosCol)
    r.eachBatch(stream, OutputMode.Complete(), stream) { (batch, _) =>
      batch.write.mode("overwrite").parquet(r.out)
    }.select(col("cell"), col("n_new"), col("avg_cos_new"))
  }

  /** The ORACLE-GATED streaming DSIR scoring — the online half of the
    * batch [[graft.ops.TextAnalysis.dsirScores]]: the whole corpus
    * arrives as a file stream and every document is scored by the
    * session-shared standing importance model (the same
    * FitStore-persisted 64 doubles the batch `text_dsir` selection
    * serves from). Zero-shuffle stateless projection → plain append
    * mode, no state store; after AvailableNow drains, the sink must
    * equal the batch scoring stage without the top-k cut
    * (`TextAnalysis.dsirScoreStreamSql`) — the firehose-scoring half of
    * DSIR, with selection left to the downstream consumer.
    */
  def dsirScoreReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "dsir_score_replay") { r =>
    val model = graft.ops.TextAnalysis.sharedDsirModel(spark, sfDir)
    r.files(graft.ops.TextAnalysis.dsirScored(Tables.documentsStream(spark, sfDir), model))
  }

  /** Streaming anomaly flags — the monitoring twin of the batch
    * [[graft.ops.Relational.eventAnomaly]]: each closed event-time day
    * window's count is z-scored against a per-type history profile from
    * the STANDING corpus (a stream cannot know its own history; the
    * profile is exact integer sums, tiny, and broadcasts). The windowed
    * count is the only stateful stage; the scoring join and flag are
    * stateless per emitted row, so alerts fire as soon as the watermark
    * closes a day.
    */
  def anomalyStream(events: DataFrame, history: DataFrame,
      lateness: String): DataFrame = {
    // the per-type z profile is STATIC — pinned at stream build, so the
    // stream-static join never re-aggregates the history per trigger
    // (|types| rows; the standing history cannot change mid-stream)
    val stats = graft.ops.Relational.typeStats(
      history.groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).cast("long").as("n_events"))).localCheckpoint()
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day").as("day"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("day.start").cast("date").cast("string").as("day"),
        col("event_type"), col("n_events"))
      .join(broadcast(stats), Seq("event_type"))
      .filter(col("n_days") > 1)
      .withColumn("z_score", graft.ops.Relational.anomalyZ)
      .select(col("event_type"), col("day"), col("n_events"), col("z_score"),
        (abs(col("z_score")) > 2.0).as("is_anomaly"))
  }

  /** The ORACLE-GATED replay of [[anomalyStream]]: the events table
    * arrives as a file stream, each closed (or still-filling) day
    * window's count is z-scored against the per-type profile of the
    * standing history — here the SAME events table, so after the drain
    * the alert stream must land exactly on the batch
    * [[graft.ops.Relational.eventAnomaly]] report
    * (`Relational.eventAnomalySql`). UPDATE mode through the keyed
    * MERGE sink, like [[dailyVolumeReplay]]: each micro-batch re-emits
    * only the (type, day) groups it changed, at their new running count
    * and z; last write wins, so the sink converges to the final counts
    * — the watermark bounds STATE, not output (append would withhold
    * every still-open tail day). Exact across batches for the same
    * reason as the other replays: the fixture replays as ts-sortable
    * micro-batches, so no update is dropped as late.
    */
  def anomalyReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "anomaly_replay") { r =>
    val stream = anomalyStream(Tables.eventsStream(spark, sfDir),
      Tables.events(spark, sfDir), "1 day")
    r.eachBatch(stream, OutputMode.Update(), stream) { (batch, _) =>
      Sink.mergeByKey(batch, r.out, Seq("event_type", "day"))
    }.select(col("event_type"), col("day"), col("n_events"),
      col("z_score"), col("is_anomaly"))
  }

  case class SessionAssign(user_id: Long, event_id: Long, us: Long,
      session_start_us: Long)

  /** Streaming sessionization with KEYED STATE — per-EVENT emission,
    * the form that faces the oracle where a `session_window` stream
    * cannot: session windows support neither update
    * mode nor a final flush under an AvailableNow trigger (the watermark
    * is always `gap` short of the last session's end, so append mode
    * withholds every user's final session forever). Here each arrival
    * is assigned its session's START instantly and immutably — with a
    * ts-ordered replay an assignment can never be revised, because a
    * later event only ever extends or follows the current session — so
    * the append sink needs no close, no flush, and no watermark, and
    * grouping the sink by (user_id, session_start_us) reconstructs the
    * exact sessions of the batch lag+running-sum islands
    * ([[graft.ops.Relational.userSessions]], same strict `> gap`
    * boundary). State is two longs per user (last event, current
    * session start) — smaller than `session_window`'s per-open-session
    * row, and the smallest sessionizer state possible. Epoch micros are
    * computed from the Instant (epochSecond·1e6 + nano/1000), exactly
    * `unix_micros`/DuckDB `epoch_us`, so the oracle compares integers.
    */
  def sessionizeStream(events: Dataset[TypedEvent]): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    val gapUs = graft.ops.Relational.SESSION_GAP_US
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          // Full-precision intra-batch order, as everywhere: getTime is
          // millis-truncated, getNanos carries the sub-ms part.
          val ordered =
            rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          var (lastUs, startUs) =
            state.getOption.getOrElse((Long.MinValue, Long.MinValue))
          val out = ordered.map { r =>
            val i = r.ts.toInstant
            val us = i.getEpochSecond * 1000000L + i.getNano / 1000L
            if (startUs == Long.MinValue || us - lastUs > gapUs) startUs = us
            lastUs = us
            SessionAssign(user, r.event_id, us, startUs)
          }
          state.update((lastUs, startUs))
          out.iterator
      }
  }

  /** The ORACLE-GATED replay of the keyed-state sessionizer: events
    * arrive through the file stream, per-event session assignments
    * append to a parquet sink, and the sink grouped by (user,
    * session start) IS the session table — gated against the same
    * DuckDB islands CTE as the batch `user_sessions`, projected
    * per-session. Exact across batches for the same reason as the
    * other replays: the fixture replays as ts-sortable micro-batches,
    * so the state's (last, start) pair always describes the true
    * latest session when the next batch arrives.
    */
  def userSessionsReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "sessions_replay") { r =>
    import spark.implicits._
    r.files(sessionizeStream(
        Tables.eventsStream(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
          .as[TypedEvent]).toDF())
      .groupBy(col("user_id"), col("session_start_us"))
      .agg(max(col("us")).as("session_last_us"),
        count(lit(1)).as("session_events"))
      .select(col("user_id"), col("session_start_us"),
        col("session_last_us"), col("session_events"))
  }

  val userSessionsStreamSql: String =
    s"""WITH numbered AS (
       |  SELECT user_id, epoch_us(ts) AS us, event_id,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
       |                                 ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |flagged AS (
       |  SELECT user_id, us, event_id,
       |         CASE WHEN prev_us IS NULL OR
       |                   us - prev_us > ${graft.ops.Relational.SESSION_GAP_US}
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM numbered),
       |sessions AS (
       |  SELECT user_id, us,
       |         sum(new_session) OVER (PARTITION BY user_id
       |                                ORDER BY us, event_id
       |                                ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM flagged)
       |SELECT user_id, CAST(min(us) AS BIGINT) AS session_start_us,
       |       CAST(max(us) AS BIGINT) AS session_last_us,
       |       count(*) AS session_events
       |FROM sessions GROUP BY user_id, session_id""".stripMargin

  /** First event per (chain, stashId) across the whole stream, emitted
    * exactly once. Within a micro-batch the earliest (createdAt, _id) wins,
    * matching the batch window's ordering.
    */
  def firstSeen(tx: Dataset[TxRow]): Dataset[FirstSeen] = {
    import tx.sparkSession.implicits._
    tx.groupByKey(r => (r.chain, r.stashId))
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            // Full-precision order (getTime is millis-truncated; getNanos
            // carries the sub-ms part) so a same-millisecond pair picks
            // the same winner as the batch window's (createdAt, _id) sort.
            val first = rows.minBy(r =>
              (r.createdAt.getTime, r.createdAt.getNanos, r._id))
            state.update(true)
            Iterator(FirstSeen(key._1, key._2, first._id, first.createdAt, first.stake))
          }
      }
  }

  case class TypedEvent(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String)
  case class Transition(user_id: Long, prev_type: String, cur_type: String)

  /** Streaming event-type transitions — the online twin of the batch
    * [[graft.ops.Relational.eventTransitions]] lag window: keyed state is
    * the user's LAST event type (one string per user — the smallest
    * possible path-analysis state), each arrival emits its (prev, cur)
    * pair and becomes the new state. Arrivals are ordered by
    * (ts, event_id) WITHIN a micro-batch; across batches the feed's
    * arrival order stands in for event time (an out-of-order feed puts a
    * watermark+sort front end before this stage, as with the SCD2
    * maintainer). The transition-matrix rollup (counts, probabilities)
    * composes downstream as a normal streaming aggregation.
    */
  def transitionsStream(events: Dataset[TypedEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[String]) =>
          // Full-precision order: getTime is millis-truncated, but the
          // fixture timestamps originate as micros/nanos, and the batch lag
          // window orders by the full ts column — getNanos carries the
          // sub-ms part so same-millisecond events pair identically.
          val ordered =
            rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Transition]
          var prev = state.getOption
          ordered.foreach { r =>
            prev.foreach(p => out += Transition(user, p, r.event_type))
            prev = Some(r.event_type)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  case class ValuedEvent(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class AttributedPurchase(user_id: Long, touch_type: String, cents: Long)

  private val TOUCH_TYPES = Set("view", "click", "signup")

  /** Streaming last-touch attribution — the online twin of the batch
    * [[graft.ops.Relational.attribution]] carry window: keyed state is
    * the user's LAST touch type (one string per user, exactly the
    * transitions-monitor footprint), each arriving purchase emits its
    * credit immediately (cents exact), each arriving touch becomes the
    * new state. Same ordering contract as [[transitionsStream]]:
    * (ts-with-nanos, event_id) within a micro-batch, arrival order
    * across batches.
    */
  def attributionStream(events: Dataset[ValuedEvent]): Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[String]) =>
          val ordered =
            rows.toSeq.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributedPurchase]
          var touch = state.getOption
          ordered.foreach { r =>
            if (r.event_type == "purchase")
              out += AttributedPurchase(user, touch.getOrElse("none"),
                // HALF_UP like the batch twin's round(value*100) and the
                // oracle (math.round is half-toward-+inf: wrong on refunds)
                java.math.BigDecimal.valueOf(r.value * 100)
                  .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact)
            if (TOUCH_TYPES(r.event_type)) touch = Some(r.event_type)
          }
          touch.foreach(state.update)
          out.iterator
      }
  }

  /** The ORACLE-GATED replay of [[attributionStream]]: events arrive
    * through the file stream, per-purchase credits land in a parquet
    * sink, and the sink rolls up to the same (touch_type, n, cents)
    * report as the batch carry window — gated against the SAME DuckDB
    * SQL as `event_attribution`.
    */
  def eventAttributionReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "attribution_replay") { r =>
    import spark.implicits._
    r.files(attributionStream(
        Tables.eventsStream(spark, sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[ValuedEvent]).toDF())
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("cents")).as("revenue_cents"))
  }

  /** The ORACLE-GATED replay of [[enrichJoinStream]]: the tx side arrives
    * through the events file stream (watermark filter applied on the
    * projected view), the price side replays the daily dim as its own
    * file stream of day-start ticks, both meet in the watermark-bounded
    * stream-stream join, and the parquet sink is read back as the query
    * result — gated against the SAME DuckDB SQL as the batch `tx_enrich`,
    * so the join's row-for-row equivalence to the broadcast batch plan is
    * driver-checked exact-hash, not just spec'd.
    */
  def txEnrichStreamJoin(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "ss_enrich_replay") { r =>
    val priceDir = r.path("price_feed")
    val priceFeed = Tables.dailyPrice(spark, sfDir)
      .select(col("chain"), col("price_date").cast("timestamp").as("price_ts"),
        col("price"))
    priceFeed.write.parquet(priceDir)
    // the feed's schema is known from the frame just written — re-reading
    // the directory for it paid a listing + footer job per run
    val priceStream = spark.readStream
      .schema(priceFeed.schema).parquet(priceDir)
    val tx = Tables.txFrom(Tables.eventsStream(spark, sfDir))
      .filter(col("createdAt") > lit(java.sql.Timestamp.valueOf(Tables.WM)))
    r.files(enrichJoinStream(tx, priceStream))
  }

  /** The ORACLE-GATED replay of [[transitionsStream]]: the events table
    * arrives through the file-stream source (an AvailableNow trigger — the
    * reference's cron shape), the online operator emits its (prev, cur)
    * pairs into a parquet sink, and the sink rolls up through the SAME
    * matrix arithmetic as the batch lag window — end to end distributed
    * (no driver-side corpus collect; keyed state is one string per
    * user). Against the DuckDB oracle this is exact because the fixture
    * replays as ts-sortable micro-batches (one file here; a multi-file
    * feed whose per-user events cross batch boundaries out of ts order
    * would need the watermark+sort front end documented on
    * [[transitionsStream]]).
    */
  def eventTransitionsReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "transitions_replay") { r =>
    import spark.implicits._
    graft.ops.Relational.transitionMatrix(
      r.files(transitionsStream(
          Tables.eventsStream(spark, sfDir)
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
            .as[TypedEvent]).toDF())
        .select(col("prev_type"), col("cur_type")))
  }

  /** The ORACLE-GATED replay of [[firstSeen]]: the events table arrives
    * through the file stream as the tx view, the keyed state emits each
    * (chain, stashId) exactly once into a parquet sink, and the sink is
    * read back as the query result — gated against the SAME DuckDB SQL
    * as the batch `first_seen_stash` ranking query, so the state-store
    * formulation of W1 is driver-checked exact-hash against the window
    * formulation, not just spec-equivalent. Exact for the same reason as
    * [[eventTransitionsReplay]]: the fixture replays as ts-sortable
    * micro-batches, and within a batch the earliest full-precision
    * (createdAt, _id) wins, matching the batch sort.
    */
  def firstSeenReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "first_seen_replay") { r =>
    import spark.implicits._
    r.files(firstSeen(
        Tables.txFrom(Tables.eventsStream(spark, sfDir)).as[TxRow]).toDF())
      .select(col("chain"), col("stashId"), col("_id"),
        col("firstSeenAt"), col("firstStake"))
  }

  /** The ORACLE-GATED streaming scrub: documents arrive through the
    * file stream and each micro-batch runs the JOIN-form scrub against
    * the STANDING benchmark suite (`foreachBatch` — per-batch cost is
    * each document's own shingle count, never O(|bench|) per row), then
    * the parquet sink is read back — against the SAME DuckDB SQL as the
    * batch `text_decontam_scrub`. This is the form that survives a
    * LARGE suite: the literal-set form
    * ([[graft.ops.TextAnalysis.scrubAgainstSet]]) measurably goes
    * linear-in-suite when the suite grows with the corpus (SCALING.md
    * round 10 — the 10× rehearsal grows the suite by construction and
    * the literal probe hit exponent 1.0, while this join form stays flat). No state store;
    * exactly-once through [[Sink.appendNew]]: foreachBatch is
    * at-least-once, so the append is guarded by a doc_id anti-join
    * against the sink — a replayed batch is a no-op.
    */
  def decontamScrubReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "scrub_replay") { r =>
    import graft.ops.TextAnalysis
    // the standing suite's shingle set is built and materialized ONCE —
    // per-batch work must never include re-shingling the whole suite
    val benchShingles = TextAnalysis.benchShinglesOf(
        Tables.documents(spark, sfDir)
          .filter(col("doc_id") % TextAnalysis.DECONTAM_MOD === 0))
      .localCheckpoint()
    r.eachBatch(Tables.documentsStream(spark, sfDir), OutputMode.Append(),
        TextAnalysis.decontamScrubAgainstShingles(
          Tables.documents(spark, sfDir).limit(0), benchShingles)) { (batch, _) =>
      val scrubbed = TextAnalysis.decontamScrubAgainstShingles(
        batch.filter(col("doc_id") % TextAnalysis.DECONTAM_MOD =!= 0),
        benchShingles)
      Sink.appendNew(scrubbed, r.out, Seq("doc_id"), None, None)
    }
  }

  /** `seq` is the event-order tiebreaker within a day (event_id /
    * offset / ts-micros — anything monotone in event order): the batch
    * rule is last-event-wins per day, and without an explicit order the
    * post-shuffle group iterator would pick an arbitrary winner.
    */
  /** `seq` orders events within a (user, day); `tie` breaks seq ties —
    * the replay maps (ts-µs, event_id) onto them UNPACKED, because no
    * fixed-width packing of an unbounded id under a 51-bit µs clock can
    * reproduce the batch (ts DESC, event_id DESC) winner exactly. */
  case class StateChange(user_id: Long, d: java.sql.Date, state: String,
      seq: Long, tie: Long)
  /** `prevTo` remembers the observed day BEFORE the last extension so a
    * same-day revision (a later event changes an already-seen day's
    * state — the batch rule is last-event-wins) can retract exactly that
    * day instead of emitting overlapping intervals.
    */
  case class OpenInterval(state: String, from: java.sql.Date, to: java.sql.Date,
      prevTo: java.sql.Date, days: Long)
  case class ClosedInterval(user_id: Long, state: String, valid_from: String,
      valid_to: String, n_days: Long)
  /** Keyed state for [[scd2Stream]]: the open interval plus at most ONE
    * pending closed interval — the most recently closed one, held back
    * until a strictly later day proves it final. Still constant state
    * per key.
    */
  case class Scd2State(pending: Option[ClosedInterval], open: OpenInterval)

  /** Streaming SCD2 maintenance — the CDC twin of the batch
    * [[graft.ops.Relational.userStateScd2]]: keyed state holds ONE open
    * interval per user plus at most one PENDING closed interval
    * (constant state per key — never per event). Each arriving daily
    * state either extends the open interval or closes it and opens the
    * next. A closed interval is NOT emitted at close time: under the
    * per-user in-order contract the only mutable day is the newest one,
    * so the just-closed interval is final exactly when a strictly LATER
    * day arrives — it waits in `pending` until then. That one-day delay
    * is what makes a cross-batch wholesale retraction exact: if a later
    * event revises the single-day open interval BACK to the pending
    * interval's state (…A | B, then B→A), the two merge into one open
    * interval, matching the batch twin's single island, instead of the
    * stream having emitted an A-interval batch never produces. Emitted
    * rows are therefore exactly the batch operator's non-final intervals
    * MINUS the per-user most-recent close when no later day has arrived
    * yet; the open and pending tail lives in the state store (production
    * drains both with an event-time timeout at retention age). Within a
    * micro-batch each day resolves to its final event first (batch rule:
    * last event wins the day); cross-batch exactness assumes per-user
    * event-time order across batches — the same contract every CDC
    * consumer states. A SAME-day revision (a later event flips a day
    * already absorbed) retracts that day from the open interval rather
    * than emitting overlapping rows.
    */
  def scd2Stream(changes: Dataset[StateChange]): Dataset[ClosedInterval] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, ClosedInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, st: GroupState[Scd2State]) =>
          val out = scala.collection.mutable.ListBuffer[ClosedInterval]()
          var cur = st.getOption
          def closed(o: OpenInterval): ClosedInterval =
            ClosedInterval(user, o.state, o.from.toString, o.to.toString, o.days)
          // resolve each day to its FINAL event first (batch rule:
          // last event wins the day) so an intra-batch revise-away-and-
          // back never emits an interval the batch twin doesn't have,
          // then fold the per-day states in day order
          val daily = rows.toSeq
            .groupBy(_.d.toLocalDate.toEpochDay).toSeq.sortBy(_._1)
            .map { case (_, evs) => evs.maxBy(r => (r.seq, r.tie)) }
          daily.foreach { r =>
            cur match {
              case None =>
                cur = Some(Scd2State(None, OpenInterval(r.state, r.d, r.d, r.d, 1L)))
              case Some(Scd2State(pending, o)) =>
                if (r.d.toLocalDate.isAfter(o.to.toLocalDate)) {
                  // a strictly later day: every earlier day is now
                  // immutable, so the pending interval is final — flush it
                  pending.foreach(out += _)
                  cur =
                    if (r.state == o.state)
                      Some(Scd2State(None,
                        o.copy(to = r.d, prevTo = o.to, days = o.days + 1L)))
                    else
                      Some(Scd2State(Some(closed(o)),
                        OpenInterval(r.state, r.d, r.d, r.d, 1L)))
                } else if (r.state != o.state) {
                  // same-day revision: the later event wins the day (the
                  // batch rule), so retract it from the open interval
                  if (o.days > 1L) {
                    // partial retraction: the surviving prefix proves any
                    // pending interval final (defensive — extension
                    // already flushed it), and itself becomes pending
                    pending.foreach(out += _)
                    cur = Some(Scd2State(
                      Some(ClosedInterval(user, o.state, o.from.toString,
                        o.prevTo.toString, o.days - 1L)),
                      OpenInterval(r.state, r.d, r.d, r.d, 1L)))
                  } else pending match {
                    // wholesale retraction of a single-day interval that
                    // reopens the prior state: MERGE with the pending
                    // interval — the batch twin sees one island here
                    case Some(p) if p.state == r.state =>
                      cur = Some(Scd2State(None, OpenInterval(r.state,
                        java.sql.Date.valueOf(p.valid_from), r.d,
                        java.sql.Date.valueOf(p.valid_to), p.n_days + 1L)))
                    case _ =>
                      cur = Some(Scd2State(pending,
                        OpenInterval(r.state, r.d, r.d, r.d, 1L)))
                  }
                } // same day, same state: the day's final state already holds
            }
          }
          cur.foreach(st.update)
          out.iterator
      }
  }

  /** The ORACLE-GATED replay of the streaming data-quality ledger: the
    * events ledger ([[graft.ops.DataQuality]]'s events slice) maintained
    * as a STREAMING aggregation — rules melted to (rule, bad) rows per
    * event ([[graft.ops.DataQuality.dqEventMelt]]; the referential rule
    * rides a stream-static broadcast join against the customer key set),
    * then an update-mode groupBy(rule) running total materialized
    * through the keyed MERGE sink. State is |rules| counters — O(1) in
    * the corpus, the smallest state of any twin — so no watermark is
    * needed or set: nothing ever ages out of a four-key ledger. After
    * AvailableNow drains, the sink IS the cold full-table ledger; gated
    * against the same DuckDB SQL as the incremental merge
    * ([[graft.ops.DataQuality.dqEventsLedgerSql]]).
    */
  def dqLedgerReplay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "dq_ledger_replay") { r =>
    val stream = graft.ops.DataQuality.dqEventMelt(
        Tables.eventsStream(spark, sfDir), Tables.customer(spark, sfDir))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("checked"), sum(col("bad")).as("violations"))
    r.eachBatch(stream, OutputMode.Update(), stream) { (batch, _) =>
      Sink.mergeByKey(batch, r.out, Seq("rule"))
    }.select(col("rule"), lit("events").as("tbl"), col("checked"),
      col("violations"), (col("violations") === 0).cast("int").as("pass"))
  }

  /** The ORACLE-GATED replay of [[scd2Stream]]: the events table arrives
    * as a change feed (per-day state = the day's final event, ranked by
    * (seq, tie) = (ts-µs, event_id) — the batch (ts DESC, event_id
    * DESC) winner rule, carried unpacked), closed
    * intervals append to the sink, and the sink faces the BATCH
    * `events_scd2` oracle minus exactly the rows the emission contract
    * holds back: each user's LAST interval (still open), and the
    * second-to-last IFF the last spans a single day (its close is still
    * pending — no strictly later day ever arrived to prove it final).
    * That subtraction is a two-window SQL view over the shared batch
    * CTEs, so the state machine's flush rule itself is driver-checked,
    * not just spec'd.
    */
  def scd2Replay(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = Replay(spark, "scd2_replay") { r =>
    import spark.implicits._
    val changes = Tables.eventsStream(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type").as("state"),
        unix_micros(col("ts")).as("seq"),
        col("event_id").as("tie"))
      .as[StateChange]
    r.files(scd2Stream(changes).toDF())
      .select(col("user_id"), col("state"), col("valid_from"),
        col("valid_to"), col("n_days"))
  }

  /** Batch SCD2 CTEs shared verbatim, minus the held-back tail. */
  val scd2StreamSql: String =
    s"""WITH iv AS (
       |  SELECT * FROM (${graft.ops.Relational.eventsScd2Sql})),
       |ranked AS (
       |  SELECT *,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY valid_from DESC) AS rk,
       |         first_value(n_days) OVER (PARTITION BY user_id
       |                                   ORDER BY valid_from DESC) AS last_days
       |  FROM iv)
       |SELECT user_id, state, valid_from, valid_to, n_days
       |FROM ranked
       |WHERE rk > CASE WHEN last_days = 1 THEN 2 ELSE 1 END""".stripMargin

}
