package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; Spark
  * sessions are expensive to start and ScalaTest runs suites serially
  * under `Test / fork`).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The one dir this JVM's specs make their temp dirs under, deleted at
    * JVM exit (tests fork, so the hook runs when the suite ends).
    */
  private lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-specs")
    sys.addShutdownHook(FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** A fresh dir named after `prefix`, under the per-JVM root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
