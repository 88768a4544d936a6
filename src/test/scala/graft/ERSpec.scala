package graft

import graft.ops.EntityResolution

/** Entity-resolution family: fixture behavior + the plan shapes that keep
  * the linkage pipeline linear-in-N at 100 TB (capped blocked self-join as
  * the ONLY pair generator, equi-joins everywhere downstream).
  */
class ERSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("er_pairs: matches are exactly the 2-of-3 agreement combos, oriented a<b") {
    val rows = EntityResolution.erPairs(spark, sf).collect()
    assert(rows.nonEmpty, "fixture must produce matched pairs")
    rows.foreach { r =>
      val (a, b) = (r.getLong(r.fieldIndex("a_id")), r.getLong(r.fieldIndex("b_id")))
      assert(a < b, s"pair orientation must be a<b, got ($a,$b)")
      val agrees = Seq("agree_name", "agree_source", "agree_len")
        .map(c => r.getInt(r.fieldIndex(c))).sum
      assert(agrees >= 2, s"τ=${EntityResolution.ER_SCORE_TAU} must admit only 2-of-3 combos")
      val score = r.getInt(r.fieldIndex("score"))
      assert(Set(45, 34, 18, 15).contains(score), s"unreachable matched score $score")
    }
  }

  test("er_golden: every document resolves to exactly one entity; members sum back") {
    val golden = EntityResolution.erGolden(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = docs.count()
    val sums = golden.selectExpr("sum(n_members)", "count(*)", "sum(total_chars)").head
    assert(sums.getLong(0) == nDocs, "entity membership must partition the corpus")
    assert(sums.getLong(1) < nDocs, "fixture must merge at least one pair of records")
    val chars = docs.selectExpr("cast(sum(n_chars) as long)").head.getLong(0)
    assert(sums.getLong(2) == chars, "additive survivorship must conserve total volume")
  }

  test("er_golden: multi-member entities obey rep-wins name and deterministic mode source") {
    val golden = EntityResolution.erGolden(spark, sf)
    val multi = golden.filter("n_members > 1").collect()
    assert(multi.nonEmpty, "fixture must contain a multi-member entity")
    // rep-wins: the golden name equals the minimum member's name — rebuild
    // the rep's name independently from the raw text
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", s"array_join(slice(split(text, '\\\\s+'), 1, ${EntityResolution.NAME_TOKENS}), ' ') as nm")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    multi.foreach { r =>
      val eid = r.getLong(r.fieldIndex("entity_id"))
      assert(r.getString(r.fieldIndex("name")) == docs(eid), "golden name must be the rep's")
    }
  }

  test("er_blocking_audit: histogram covers all blocks; nothing skipped at fixture scale") {
    val audit = EntityResolution.erBlockingAudit(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    val mass = audit.map(r => r.getLong(r.fieldIndex("block_sz")) * r.getLong(r.fieldIndex("n_blocks"))).sum
    assert(mass == nDocs, "block-size histogram must account for every record")
    assert(audit.forall(_.getInt(3) == 0), "no fixture block may exceed the cap")
    assert(audit.forall { r =>
      val s = r.getLong(r.fieldIndex("block_sz"))
      r.getLong(r.fieldIndex("candidate_pairs")) ==
        s * (s - 1) / 2 * r.getLong(r.fieldIndex("n_blocks"))
    }, "pair mass must be the exact blocked-pair count")
  }

  test("er_pairs_incremental: ≡ the cold linkage restricted to arrival-touching pairs") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row): (Long, Long, Int, Int, Int, Int) =
      (r.getLong(r.fieldIndex("a_id")), r.getLong(r.fieldIndex("b_id")),
        r.getInt(r.fieldIndex("agree_name")), r.getInt(r.fieldIndex("agree_source")),
        r.getInt(r.fieldIndex("agree_len")), r.getInt(r.fieldIndex("score")))
    val incr = EntityResolution.erPairsIncremental(spark, sf).collect().map(key)
    assert(incr.nonEmpty, "fixture must produce arrival-touching matches")
    assert(incr.distinct.length == incr.length,
      "arrival–arrival pairs are reachable from both ends and must emit once")
    val cold = EntityResolution.erPairs(spark, sf)
      .filter(col("a_id") % 2 === 1 || col("b_id") % 2 === 1)
      .collect().map(key)
    assert(incr.toSet == cold.toSet,
      "incremental run must equal the cold linkage on its responsibility set")
    // and every emitted pair touches an arrival — standing×standing never re-scores
    assert(incr.forall { case (a, b, _, _, _, _) => a % 2 == 1 || b % 2 == 1 })
  }

  test("plan: incremental probe side is arrivals-only — the parity filter reaches the scan") {
    val p = EntityResolution.erPairsIncremental(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "incremental pairing must stay a blocked equi-join")
    // the arrival restriction must survive into the physical plan as a
    // filter on the probe branch (parity is an expression predicate, so it
    // lands in a Filter above the scan, not in PushedFilters) — otherwise
    // the standing×standing space regrows
    assert(raw"\(doc_id#\d+L? % 2\) = 1".r.findFirstIn(p).isDefined,
      s"arrivals parity filter must appear as a probe-side predicate:\n$p")
  }

  test("er_golden_incremental: contracted CC merges two standing entities through an arrival bridge") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // two standing records (ids 0, 2) agree ONLY on name (score 7 < τ):
    // sources differ and lengths differ by 60 > ER_LEN_MAXDIFF, so the
    // standing run leaves them as separate entities. Arrival 1 agrees
    // with 0 on all three fields (score 45) and with 2 on name+len
    // (score 18) — the bridge must merge everything into entity 0
    val near = "alpha beta gamma delta epsilon zeta " // shared 6-token name
    def doc(id: Long, src: String, chars: Long) =
      (id, near + "x", "en", src, chars)
    val rows = Seq(
      doc(0L, "s1", 100L),
      doc(2L, "s2", 160L),
      doc(1L, "s1", 130L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val standing = rows.filter(col("doc_id") % 2 === 0)
    val arrivals = rows.filter(col("doc_id") % 2 === 1)
    val assignSt = EntityResolution.standingAssignmentOf(standing)
    assert(assignSt.select("entity_id").distinct().count() == 2,
      "standing records must start as separate entities")
    val golden = EntityResolution
      .erGoldenIncrementalOver(standing, arrivals, assignSt).collect()
    assert(golden.length == 1, s"bridge must merge everything: ${golden.toSeq}")
    val g = golden.head
    assert(g.getLong(g.fieldIndex("entity_id")) == 0L, "min-id label survives contraction")
    assert(g.getLong(g.fieldIndex("n_members")) == 3L)
    assert(g.getString(g.fieldIndex("source")) == "s1")
  }

  test("er_golden_incremental: volume conservation over the emitted (arrival-touching) slice") {
    import org.apache.spark.sql.functions.col
    // the full inc ≡ restricted-cold equivalence is the driver's DuckDB
    // gate; here assert the algebraic-merge invariant the decomposition
    // must conserve: emitted members = arrivals + standing members of
    // touched entities, chars likewise
    val inc = EntityResolution.erGoldenIncremental(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nArr = docs.filter(col("doc_id") % 2 === 1).count()
    val sums = inc.selectExpr("sum(n_members)", "sum(total_chars)").head
    assert(sums.getLong(0) >= nArr,
      "every arrival must resolve into exactly one emitted entity")
    val emitted = sums.getLong(0) - nArr // standing members pulled in
    val nSt = docs.filter(col("doc_id") % 2 === 0).count()
    assert(emitted >= 0 && emitted <= nSt)
  }

  test("er stream probe: emission is batch-decomposition-invariant (3-way split ≡ one-shot)") {
    import org.apache.spark.sql.functions.col
    // the streaming replay's correctness rests on this invariant: however
    // arrivals are batched, "the batch holding the later-arriving member
    // emits (x<y within a batch)" yields each qualifying pair exactly
    // once. Drive the probe by hand through an arbitrary 3-way split and
    // demand the drained union equals the single-batch run.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 === 1)
    val rejected = EntityResolution.frozenRejectedBlocks(standing)
    val rs = EntityResolution.keptFrozen(standing, rejected)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val oneShot = rows(EntityResolution.erStreamProbe(
      EntityResolution.keptFrozen(arrivals, rejected), rs))
    var seen = EntityResolution.keptFrozen(arrivals.limit(0), rejected)
    var drained = Set.empty[Seq[Any]]
    (0 to 2).foreach { g =>
      val rb = EntityResolution.keptFrozen(
        arrivals.filter(col("doc_id") % 3 === g), rejected).localCheckpoint()
      val emitted = rows(EntityResolution.erStreamProbe(rb, rs.unionByName(seen)))
      assert(emitted.intersect(drained).isEmpty,
        s"batch $g re-emitted pairs already drained")
      drained ++= emitted
      seen = seen.unionByName(rb).localCheckpoint()
    }
    assert(drained == oneShot,
      s"missing=${(oneShot -- drained).take(3)} extra=${(drained -- oneShot).take(3)}")
    assert(oneShot.nonEmpty)
  }

  test("er golden stream: replayed drain ≡ one-shot frozen golden finish") {
    import org.apache.spark.sql.functions.col
    // the DuckDB oracle gates stream ≡ cold-frozen-golden; here assert the
    // replay plumbing (micro-batch probe emissions → drain → contracted-CC
    // finish) equals the ONE-SHOT composition over the same frozen pair set
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 === 1)
    val rejected = EntityResolution.frozenRejectedBlocks(standing)
    val oneShot = EntityResolution.erGoldenFinish(standing,
      EntityResolution.sharedStandingAssignment(spark, sf),
      EntityResolution.erStreamProbe(
          EntityResolution.keptFrozen(arrivals, rejected),
          EntityResolution.keptFrozen(standing, rejected))
        .select(col("a_id"), col("b_id")),
      EntityResolution.arrivalRecords(arrivals))
    val streamed = graft.streaming.StreamingPipeline.erGoldenReplay(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(streamed) == rows(oneShot))
    assert(streamed.count() > 0)
  }

  test("privacy incrementals: merged partials equal the cold audits exactly") {
    val kInc = graft.ops.Privacy.kAnonymityIncremental(spark, sf)
    val kCold = graft.ops.Privacy.kAnonymity(spark, sf)
    assert(kInc.collect().map(_.toSeq).toSet == kCold.collect().map(_.toSeq).toSet)
    val lInc = graft.ops.Privacy.lDiversityIncremental(spark, sf)
    val lCold = graft.ops.Privacy.lDiversity(spark, sf)
    assert(lInc.collect().map(_.toSeq).toSet == lCold.collect().map(_.toSeq).toSet)
  }

  test("plan: er pair space is the blocked equi-self-join — no cartesian, no nested loop") {
    val p = EntityResolution.erPairs(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the only pair generator must be the capped blocked self-join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "pairing must be an equi-join on the block key")
  }
}
