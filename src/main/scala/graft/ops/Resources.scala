package graft.ops

import org.apache.spark.sql.SparkSession

/** Executor-resource model behind the size-dispatched kernels' pins
  * (round 14). The dispatch boundaries used to be absolute doc counts
  * calibrated to THIS box; on a cluster the survivable boundary is the
  * stage's payload against PER-DEPLOYMENT resources, which shift with
  * executor memory and scratch disk — a 32 GB-executor fleet hits the
  * wall earlier than these constants and would run the dying branch.
  * Each pin is therefore DERIVED: estimated stage payload bytes against
  * a configured resource budget, with this box's measured numbers as the
  * documented default instantiation. Both regimes of every dispatch face
  * the DuckDB oracle (forced-kernel twins), so moving a pin is plan-only
  * — it moves cost, never rows.
  *
  * Two budgets, because the measured failure modes differ:
  *
  *  - PAYLOAD budget: execution memory + page cache the in-memory side
  *    of a candidate join can occupy before it goes super-linear (the
  *    AllPairs verify's 20-GB-at-300k-docs crack; the banded self-join
  *    rung-0 knees). This box: 8 g heap + ~5 GB effective cache ≈
  *    13.4 GB — the bracket center of the measured [150k, 300k]-doc
  *    crack at ≈67 KB/doc.
  *  - SCRATCH budget: shuffle spill disk, the resource whose exhaustion
  *    is fatal rather than slow ("No space left on device" at 1.5 M
  *    SimHash sigs / ~300 GB of candidate spill). This box: 78 GB.
  *
  * Budgets are cluster-wide in-flight totals (on local[*] the box IS the
  * cluster). A deployment sets them per its fleet:
  * `spark.graft.payloadBudgetBytes` ≈ Σ executors × (execution memory +
  * usable cache), `spark.graft.scratchBudgetBytes` ≈ Σ executors ×
  * local-disk headroom.
  */
object Resources {

  /** This box's measured payload ceiling: the AllPairs verify join is
    * fast at 10 GB in-flight (150k docs), super-linear at 20 GB (300k)
    * — the boundary sits at the 200k-doc bracket center, i.e. ≈13.4 GB
    * of execution memory + page cache. Round 15: no longer the live
    * default (that now derives from the running JVM — see
    * [[payloadBudget]]) — kept as the documented box instantiation and
    * the fallback when the runtime reports nothing usable.
    */
  val PAYLOAD_BUDGET_BOX = 13_400_000_000L

  /** This box's shuffle scratch: 78 GB of /tmp disk, the measured hard
    * ceiling of the rung-1 SimHash candidate spill (SCALING.md r13).
    * Round 15: documented box instantiation / fallback only — the live
    * default derives from the scratch dir's usable space
    * ([[scratchBudget]]).
    */
  val SCRATCH_BUDGET_BOX = 78_000_000_000L

  /** Page-cache headroom the measured payload ceiling carries beyond
    * the heap: the r13 bracket center (≈13.4 GB) decomposes as the 8 g
    * driver heap + ≈5 GB of effective OS cache the in-flight join
    * leaned on before going super-linear. The heap term moves with the
    * deployment's JVM; the cache term is kept as the measured constant
    * (the one resource `Runtime` cannot see).
    */
  val CACHE_HEADROOM_BYTES = 5_000_000_000L

  /** Effective bytes per spilled/shuffled candidate row (lz4-compressed
    * (id, id, sig, sig) longs), measured: the 1.5 M-sig rung-1 run
    * spilled ≈300 GB over ≈8.24e9 candidate rows → ≈36 B/row.
    */
  val CAND_ROW_BYTES = 36L

  private def confBytes(spark: SparkSession, key: String, dflt: => Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** Runtime-DERIVED payload default (round 15, verdict ask): the live
    * JVM's max heap — what `-Xmx` actually granted this process, the
    * term that made the r13 ceiling a BOX constant — plus the measured
    * cache headroom. On this box (`-Xmx8g`) it instantiates to ≈13.6 GB,
    * within 2% of the measured 13.4 GB bracket center; a 32 GB-driver
    * deployment inherits a proportionally higher knee instead of this
    * box's number. Snapshotted once (heap size is fixed at JVM start).
    */
  lazy val derivedPayloadDefault: Long = {
    val heap = Runtime.getRuntime.maxMemory
    if (heap <= 0 || heap == Long.MaxValue) PAYLOAD_BUDGET_BOX
    else heap + CACHE_HEADROOM_BYTES
  }

  /** Runtime-DERIVED scratch default (round 15): usable space across the
    * configured shuffle-spill dirs (`spark.local.dir`, else the JVM tmp
    * dir) — the exact resource whose exhaustion was the measured rung-1
    * failure ("No space left on device" at ≈300 GB of candidate spill
    * against 78 GB of /tmp). Multiple local dirs add their space
    * (distinct paths only — Spark stripes spill across them). Probed
    * per call, not snapshotted: a filling disk SHOULD pull the pins in.
    * Falls back to the documented box constant if the dirs report
    * nothing usable (nonexistent path, exotic FS).
    */
  def derivedScratchDefault(spark: SparkSession): Long = {
    val dirs = spark.conf.getOption("spark.local.dir")
      .orElse(Option(System.getProperty("java.io.tmpdir")))
      .getOrElse("/tmp")
      .split(",").map(_.trim).filter(_.nonEmpty).distinct
    scratchDefault(dirs.map(d => new java.io.File(d).getUsableSpace).sum)
  }

  /** The scratch default for `usable` bytes across the spill dirs. */
  def scratchDefault(usable: Long): Long = if (usable > 0L) usable else SCRATCH_BUDGET_BOX

  def payloadBudget(spark: SparkSession): Long =
    confBytes(spark, "spark.graft.payloadBudgetBytes", derivedPayloadDefault)

  def scratchBudget(spark: SparkSession): Long =
    confBytes(spark, "spark.graft.scratchBudgetBytes", derivedScratchDefault(spark))

  /** Hamming-ball size Σ_{i≤r} C(bits, i) — the probe fan-out of a
    * banded rung at radius r.
    */
  private[graft] def ballSize(bits: Int, radius: Int): Long =
    (0 to radius).map { r =>
      (0 until r).foldLeft(1L)((acc, i) => acc * (bits - i) / (i + 1))
    }.sum

  /** Corpus size where a banded self-join rung's estimated byte volume
    * crosses `budgetBytes`. Two terms, the binding one wins:
    * candidate mass blocks·ball(bandBits, radius)·N²/2^bandBits rows
    * (quadratic — the within-bucket pair space) and the probe band-row
    * explode blocks·ball·N rows (linear — what the shuffle itself
    * carries); both at [[CAND_ROW_BYTES]]. Returns the N at which the
    * first term crosses, i.e. the pin BELOW which this rung's plan fits
    * the budget.
    */
  private[ops] def bandedRungCeiling(budgetBytes: Long, blocks: Int,
      bandBits: Int, radius: Int): Long = {
    val ball = ballSize(bandBits, radius).toDouble
    val rowsPerN2 = blocks * ball / math.pow(2.0, bandBits)
    val quad = math.sqrt(budgetBytes / (CAND_ROW_BYTES * rowsPerN2)).toLong
    val lin = budgetBytes / (CAND_ROW_BYTES * blocks * ball).toLong
    math.min(quad, math.max(lin, 1L))
  }
}
