package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** How a parquet sink dir takes a batch idempotently — the one place the
  * cron ([[PipelineRunner]]) and the streaming twins decide it:
  *
  *  - [[appendNew]]: insert-if-absent, the reference's existence-checked
  *    inserts (updatescript.py:62,87,166). Re-running a window, or a
  *    `foreachBatch` retrying a micro-batch (at-least-once), appends
  *    nothing twice — together exactly-once in the sink.
  *  - [[replace]]: a whole new generation (singletons, keyed merges),
  *    swapped in only after it is completely written.
  *  - [[mergeByKey]] / [[mergeByKeyPartitioned]]: the update-mode MERGE
  *    a streaming aggregation needs to materialize a dashboard table.
  *
  * Every existence check goes through the Hadoop FileSystem API, so the
  * guards hold for any scheme the cluster mounts (file://, hdfs://,
  * s3a://); a java.io.File probe would report "missing" for every
  * non-local sink and silently skip the anti-join.
  */
object Sink {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean =
    fsOf(spark, dir).exists(new Path(dir))

  /** The sink's current generation. A missing live dir beside a `.old`
    * one is [[replace]]'s crash window (live renamed away, staging not
    * yet in): `.old` is restored first, so a reader never restarts from
    * nothing while a complete prior generation sits beside it.
    * A live dir with no data (only `_*`/`.*` children: a first append
    * that died before its commit) is no sink, so the next append writes
    * the whole batch. Not in [[exists]], which guards the heal: a rename
    * onto a live dir would nest `.old` inside it. A known `schema` spares
    * the inference job.
    */
  def read(spark: SparkSession, dir: String, schema: Option[StructType]): Option[DataFrame] = {
    val found = exists(spark, dir) || {
      val old = dir + ".old"
      exists(spark, old) && fsOf(spark, dir).rename(new Path(old), new Path(dir)) // heal
    }
    val hasData = found && fsOf(spark, dir).listStatus(new Path(dir))
      .exists { f => val n = f.getPath.getName; !n.startsWith("_") && !n.startsWith(".") }
    if (hasData) Some(schema.fold(spark.read)(spark.read.schema).parquet(dir)) else None
  }

  /** Idempotent append: anti-join on `key` against current sink content,
    * checkpoint the delta (cuts lineage so the append never scans the very
    * files it is writing; writing the anti-join straight to parquet ran a
    * cron day 7.6 % slower and writes an empty file for an all-duplicate
    * unpartitioned append), append, return the count observed on the
    * checkpoint. The sink is read as its key columns under the incoming
    * schema (no inference job; a drifted sink, whose files lack a key the
    * user schema would read as nulls, fails on one footer read on the
    * driver), without `distinct`: LEFT ANTI ignores duplicates on its right.
    *
    * `partitionDate` (an expression over the incoming rows) makes the sink
    * date-partitioned (`p_date=.../`), and `prune` restricts the anti-join's
    * sink scan to the partitions a replay could collide with. Every incoming
    * row satisfies `createdAt > wm`, and a key can only collide with the
    * row that originally carried it (same key ⇒ same row ⇒ same date), so
    * scanning `p_date >= date(wm)` is exhaustive — at 100 TB the dedup
    * probe reads days-since-watermark, not years of sink history.
    */
  def appendNew(incoming: DataFrame, dir: String, key: Seq[String],
      partitionDate: Option[Column], prune: Option[Column]): Long = {
    val withPart = partitionDate match {
      case Some(d) => incoming.withColumn("p_date", d)
      case None => incoming
    }
    val keyCols = key ++ partitionDate.map(_ => "p_date")
    val delta = read(incoming.sparkSession, dir, Some(StructType(keyCols.map(withPart.schema(_))))) match {
      case Some(existing0) =>
        existing0.inputFiles.headOption.foreach { f => // the drift guard: one footer
          val footer = ParquetFileReader.open(HadoopInputFile.fromPath(
            new Path(new java.net.URI(f)), incoming.sparkSession.sparkContext.hadoopConfiguration))
          val lost = try key.filterNot(footer.getFileMetaData.getSchema.containsField) finally footer.close()
          if (lost.nonEmpty) throw new IllegalStateException(
            s"sink $dir has drifted: its files lack key column(s) ${lost.mkString(", ")}")
        }
        val existing = prune.foldLeft(existing0)((df, p) => df.filter(p))
        withPart.join(existing, key, "left_anti")
      case None => withPart
    }
    val rows = Observation()
    val materialized = delta.observe(rows, count(lit(1)).as("n")).localCheckpoint(true)
    // the eager checkpoint has run or thrown: `get`, which waits unbounded, returns at once
    val n = rows.get("n").asInstanceOf[Long]
    if (n > 0) {
      val w = materialized.write.mode(SaveMode.Append)
      (if (partitionDate.isDefined) w.partitionBy("p_date") else w).parquet(dir)
    }
    n
  }

  /** GENERATION SWAP, never delete-in-place: `df` writes to a staging dir
    * (it may read the live one, as [[mergeByKey]]'s does, so writing over
    * it would both need a pre-materialization and — worse — a failure
    * mid-overwrite would lose the previous generation while leaving the
    * dir present, so the next reader would silently trust partial
    * remains). The staged write can fail harmlessly: once its tasks have
    * ended its debris is removed, and the live generation is untouched.
    * Only after it commits does the swap retire the live generation
    * (live → .old, staging → live, drop .old). The one crash window — after live is renamed away,
    * before staging lands — is healed by the next [[read]], which
    * restores `.old`.
    *
    * FILESYSTEM ASSUMPTION: the crash-safety argument above requires
    * `FileSystem.rename` to be an atomic directory move — true on HDFS
    * and local/POSIX, FALSE on object stores (s3a rename is a per-file
    * copy+delete), where a failure mid-"rename" can leave a PARTIAL live
    * dir that the next call would trust as a complete generation. On an
    * object store, point the sink at a table format whose commit is a
    * metadata swap (Iceberg/Delta) or front the swap with a commit-marker
    * protocol — do not rely on this rename. ([[appendNew]]'s guard holds
    * for any sink scheme; this one is rename-atomicity-scoped.)
    */
  def replace(df: DataFrame, dir: String): Unit = {
    val fs = fsOf(df.sparkSession, dir)
    val live = new Path(dir)
    val staging = new Path(dir + ".staging")
    val old = new Path(dir + ".old")
    fs.delete(staging, true) // leftover of a failed staged write
    val sc = df.sparkSession.sparkContext
    val tag = s"graft-sink-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    catch { case e: Throwable =>
      try awaitTasks(sc, tag) catch { case f: Throwable => e.addSuppressed(f) }
      fs.delete(staging, true)
      throw e
    } finally sc.removeJobTag(tag)
    fs.delete(old, true)
    if (fs.exists(live)) fs.rename(live, old)
    fs.rename(staging, live)
    fs.delete(old, true)
  }

  /** Block until every task of the jobs tagged `tag` has ended. A failed
    * job's other tasks keep running after the job has failed, and would
    * write under a staging dir already deleted. The status store is fed
    * by the listener bus, so a tagged one-task fence job runs first: once
    * the store shows it (the newest tagged job) succeeded, it holds every
    * earlier task's start.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    sc.parallelize(Seq(0), 1).count()
    val st = sc.statusTracker
    def settled = {
      val jobs = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo)
      jobs.nonEmpty && jobs.maxBy(_.jobId).status == JobExecutionStatus.SUCCEEDED &&
        jobs.flatMap(_.stageIds).flatMap(st.getStageInfo).forall(_.numActiveTasks == 0)
    }
    while (!settled) Thread.sleep(10)
  }

  /** MERGE an update-mode micro-batch into a keyed parquet sink:
    * matched keys replaced by the batch's rows (an update-mode
    * aggregation emits each changed group at its NEW running total, so
    * last write wins is the correct semantics), unmatched sink rows
    * kept, new keys inserted — [[graft.ops.Relational.keyedMergeUpsert]]
    * (the property-tested MERGE shape) written as a new generation by
    * [[replace]], so `foreachBatch`'s at-least-once retry always merges
    * against a complete prior generation.
    *
    * SCALE CAVEAT: each call rewrites the WHOLE sink — correct and
    * constant-cost for a dashboard-sized sink (|days×chains| rows), the
    * scale-killer form for a fact-scale keyed sink. At fact scale use
    * [[mergeByKeyPartitioned]], which rewrites only the key-prefix
    * partitions the batch touches.
    */
  def mergeByKey(batch: DataFrame, dir: String, key: Seq[String]): Unit =
    replace(read(batch.sparkSession, dir, None)
      .fold(batch)(graft.ops.Relational.keyedMergeUpsert(_, batch, key)), dir)

  /** PARTITION-PRUNED streaming MERGE — the fact-scale form of
    * [[mergeByKey]]: the sink is laid out as parquet partitioned by
    * `partCol` (a key prefix — here `chain`; at fact scale a
    * day-or-hash bucket of the key), and each micro-batch rewrites ONLY
    * the partitions it touches, via dynamic partition overwrite:
    *
    *  1. the batch's distinct `partCol` values name the touched
    *     partitions (driver-side, bounded by touched-partition count —
    *     an update-mode batch touches few);
    *  2. only those partitions are read back (the `isin` filter prunes
    *     at the directory level — `PartitionFilters`, zero bytes read
    *     from untouched partitions);
    *  3. [[graft.ops.Relational.keyedMergeUpsert]] merges batch into
    *     the subset (schema re-aligned: partition-value read-back
    *     infers narrow integer types);
    *  4. `partitionOverwriteMode=dynamic` overwrite writes back ONLY
    *     the partitions present in the merged frame — untouched
    *     partitions' files stay byte-identical on disk
    *     (spec-asserted in StreamingSinkSpec).
    *
    * So per-batch cost is O(touched partitions), not O(sink) — the
    * difference between a dashboard-table merge and a 100 TB keyed
    * fact sink where full-generation rewrite is the scale-killer.
    * Crash safety: Spark's dynamic overwrite DELETES a touched
    * partition's existing contents during commit before moving the
    * staged files in — a crash inside that delete-then-commit window
    * loses the old generation even on HDFS/local (weaker than
    * [[replace]]'s .old backup-and-restore protocol). The recovery
    * story is the checkpoint, not the filesystem: foreachBatch's
    * at-least-once retry re-reads the SAME batch from the checkpointed
    * offsets and re-derives the whole touched partition from
    * (surviving sink state ∪ batch), and replace-on-match with
    * identical rows is a fixpoint — so the sink converges on retry;
    * only a crash with no subsequent retry leaves a partition torn.
    * Deployments needing the stronger single-commit guarantee should
    * front this with a metadata-commit table format (which also lifts
    * the [[replace]] s3a non-atomic-rename caveat).
    */
  def mergeByKeyPartitioned(batch: DataFrame, dir: String, key: Seq[String],
      partCol: String): Unit = {
    val sp = batch.sparkSession
    val live = new Path(dir)
    val fs = fsOf(sp, dir)
    val exists = fs.exists(live) &&
      fs.listStatus(live).exists(_.getPath.getName.startsWith(s"$partCol="))
    val merged =
      if (exists) {
        val touched = batch.select(col(partCol)).distinct()
          .collect().map(_.get(0)).toSeq
        val subset = sp.read.parquet(dir)
          .filter(col(partCol).isin(touched: _*))
        val aligned = subset.select(batch.schema.fields
          .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        graft.ops.Relational.keyedMergeUpsert(aligned, batch, key)
      } else batch
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(dir)
  }
}
