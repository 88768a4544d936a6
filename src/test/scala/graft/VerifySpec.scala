package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** The correctness dump must surface a broken query as a visible failure
  * (an entry in `_errors.json`), never as a silent absence — the r8
  * NTZ regression hid for a full round because Verify only stderr-logged.
  */
class VerifySpec extends SparkSpec {

  test("verify dump records a failing query in _errors.json instead of dropping it") {
    val out = SparkSpec.tempDir("graft-verify").toString
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok" -> ((s, _) => s.range(3).toDF("x")),
      "boom" -> ((_, _) => throw new RuntimeException("deliberate failure")))
    val errors = Verify.dump(spark, qs, "unused", out)
    assert(errors.keySet == Set("boom"), "only the failing query may error")
    assert(errors("boom").contains("deliberate failure"))
    assert(Files.exists(Paths.get(s"$out/ok")), "healthy query still dumps")
    val errJson = Files.readString(Paths.get(s"$out/_errors.json"))
    assert(errJson.contains("\"boom\"") && errJson.contains("deliberate failure"))
    assert(!errJson.contains("\"ok\""))
  }

  test("verify dump writes an EMPTY _errors.json when all queries pass") {
    val out = SparkSpec.tempDir("graft-verify").toString
    val qs: Map[String, (SparkSession, String) => DataFrame] =
      Map("ok" -> ((s, _) => s.range(3).toDF("x")))
    assert(Verify.dump(spark, qs, "unused", out).isEmpty)
    assert(Files.readString(Paths.get(s"$out/_errors.json")) == "{}",
      "sentinel must exist even with zero failures, proving the accounting ran")
  }
}
