package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.pipeline.Routing

/** Property-based invariants of the routing semantics (SURVEY.md §5.2.4),
  * over randomized batches with deliberately small key domains so stash
  * collisions, equal-stake rows, and both chains all occur.
  */
object RoutingProps extends Properties("Routing") {

  // few, larger batches: every property evaluation runs real Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val genRow: Gen[(Long, Long, Int, Int, Boolean, Long)] = for {
    id <- Gen.choose(0L, 10000L)
    stash <- Gen.choose(0L, 5L)          // tiny domain -> collisions
    stake <- Gen.choose(1, 4)
    bonded <- Gen.choose(1, 4)           // equal / greater / less all likely
    ok <- Gen.prob(0.8)
    chain <- Gen.oneOf(0L, 1L)
  } yield (id, stash, stake, bonded, ok, chain)

  private val genBatch = Gen.listOfN(40, genRow).map { rows =>
    rows.zipWithIndex.map { case ((id, stash, stake, bonded, ok, chain), i) =>
      (id * 100 + i, // unique ids
        Timestamp.valueOf(f"2024-01-11 ${i / 60}%02d:${i % 60}%02d:00"),
        stash, stake.toDouble, bonded.toDouble, ok, chain)
    }
  }

  private def toBatchDF(rows: List[(Long, Timestamp, Long, Double, Double, Boolean, Long)]) =
    rows.toDF("_id", "createdAt", "stashId", "stake", "alreadyBonded", "successful", "chain")

  property("conservation: every successful tx lands in >=1 routed sink") =
    forAll(genBatch) { rows =>
      val b = toBatchDF(rows).filter(col("successful"))
      val routed =
        Routing.nominationsRows(b.filter(col("chain") === 0)).select("_id")
          .union(Routing.amountStakedRows(b.filter(col("chain") === 0)).select("_id"))
          .union(Routing.kusamaNominationsRows(b.filter(col("chain") === 1)).select("_id"))
          .union(Routing.aumRows(b, None).select("_id"))
          .distinct().as[Long].collect().toSet
      val successful = b.select("_id").as[Long].collect().toSet
      routed == successful
    }

  property("AUM: exactly one first-seen row per (chain, stash) with volume = its stake") =
    forAll(genBatch) { rows =>
      val b = toBatchDF(rows).filter(col("successful"))
      val aum = Routing.aumRows(b, None)
        .select("chain", "stashId", "_id", "volume", "stake", "alreadyBonded")
        .as[(Long, Long, Long, Double, Double, Double)].collect()
      val byKey = aum.groupBy(r => (r._1, r._2))
      // rows whose volume is NOT the delta formula must be the unique
      // first-seen row of their (chain, stash) group
      byKey.values.forall(rs => rs.count(r => r._4 != r._5 - r._6) <= 1)
    }

  property("anti-join re-run appends nothing") =
    forAll(genBatch) { rows =>
      val b = toBatchDF(rows)
      val sinkIds = Routing.aumRows(b.filter(col("successful")), None).select("_id")
      val rerun = Routing.aumRows(b.filter(col("successful")), None)
        .join(sinkIds, Seq("_id"), "left_anti")
      rerun.count() == 0L
    }

  property("amountstaked volumes are strictly positive; nominations volume equals stake") =
    forAll(genBatch) { rows =>
      val b = toBatchDF(rows).filter(col("successful") && col("chain") === 0)
      val as = Routing.amountStakedRows(b).select("volume").as[Double].collect()
      val nom = Routing.nominationsRows(b).select("volume", "stake")
        .as[(Double, Double)].collect()
      as.forall(_ > 0) && nom.forall(r => r._1 == r._2)
    }
}
