package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.pipeline.Routing

/** Hand-computed expectations for the step-5 routing semantics, including
  * the quirks catalogued in SURVEY.md §2.12 (Q1 kusama asymmetry, Q2
  * per-sink volume, the sequential first-seen AUM contract).
  */
class RoutingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (_id, createdAt, stashId, stake, alreadyBonded, successful, chain)
  private def batch(rows: (Long, String, Long, Double, Double, Boolean, Long)*): DataFrame =
    rows.toSeq
      .map { case (id, t, st, sk, ab, su, ch) => (id, ts(t), st, sk, ab, su, ch) }
      .toDF("_id", "createdAt", "stashId", "stake", "alreadyBonded", "successful", "chain")

  private def volumes(df: DataFrame): Map[Long, Double] =
    df.select("_id", "volume").as[(Long, Double)].collect().toMap

  test("nominations takes only equal-stake rows, volume = stake") {
    val b = batch(
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 5.0, true, 0L),
      (2L, "2024-01-11 00:01:00", 11L, 7.0, 3.0, true, 0L))
    assert(volumes(Routing.nominationsRows(b)) == Map(1L -> 5.0))
  }

  test("amountstaked takes only increased-stake rows, volume = delta") {
    val b = batch(
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 5.0, true, 0L),
      (2L, "2024-01-11 00:01:00", 11L, 7.0, 3.0, true, 0L),
      (3L, "2024-01-11 00:02:00", 12L, 2.0, 6.0, true, 0L)) // decreased: excluded
    assert(volumes(Routing.amountStakedRows(b)) == Map(2L -> 4.0))
  }

  test("Q1: kusama nominations receives BOTH equal and increased branches") {
    val b = batch(
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 5.0, true, 1L),
      (2L, "2024-01-11 00:01:00", 11L, 7.0, 3.0, true, 1L),
      (3L, "2024-01-11 00:02:00", 12L, 2.0, 6.0, true, 1L)) // decreased: excluded
    assert(volumes(Routing.kusamaNominationsRows(b)) == Map(1L -> 5.0, 2L -> 4.0))
  }

  test("AUM: first row per stash always lands with volume=stake; later rows only when stake≠bonded, signed delta") {
    val b = batch(
      // stash 10: first row equal-stake -> insert(5); second equal -> skip;
      //           third delta -> insert(-4) (signed, reference has no abs here)
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 5.0, true, 0L),
      (2L, "2024-01-11 00:01:00", 10L, 6.0, 6.0, true, 0L),
      (3L, "2024-01-11 00:02:00", 10L, 2.0, 6.0, true, 0L),
      // stash 11: first row is a delta row -> insert(stake=7 as first-seen)
      (4L, "2024-01-11 00:03:00", 11L, 7.0, 3.0, true, 0L),
      (5L, "2024-01-11 00:04:00", 11L, 9.0, 8.0, true, 0L))
    assert(volumes(Routing.aumRows(b, None)) ==
      Map(1L -> 5.0, 3L -> -4.0, 4L -> 7.0, 5L -> 1.0))
  }

  test("AUM first-seen ordering is (createdAt, _id), not input order") {
    val b = batch(
      (9L, "2024-01-11 05:00:00", 10L, 3.0, 1.0, true, 0L), // later in time
      (8L, "2024-01-11 01:00:00", 10L, 5.0, 2.0, true, 0L)) // earlier -> first seen
    assert(volumes(Routing.aumRows(b, None)) == Map(8L -> 5.0, 9L -> 2.0))
  }

  test("AUM with prior-run state: known stash never gets first-seen volume") {
    val b = batch(
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 5.0, true, 0L), // known + equal -> skip
      (2L, "2024-01-11 00:01:00", 10L, 7.0, 3.0, true, 0L), // known + delta -> 4
      (3L, "2024-01-11 00:02:00", 11L, 6.0, 2.0, true, 0L)) // new stash -> 6
    val prior = Seq((0L, 10L)).toDF("chain", "stashId")
    assert(volumes(Routing.aumRows(b, Some(prior))) == Map(2L -> 4.0, 3L -> 6.0))
  }

  test("chains are partitioned independently in AUM first-seen") {
    val b = batch(
      (1L, "2024-01-11 00:00:00", 10L, 5.0, 2.0, true, 0L),
      (2L, "2024-01-11 00:01:00", 10L, 7.0, 3.0, true, 1L)) // same stash, other chain
    assert(volumes(Routing.aumRows(b, None)) == Map(1L -> 5.0, 2L -> 7.0))
  }
}
