package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared per-JVM SparkSession for all specs (fork := true gives the test run
  * its own JVM; one session amortizes startup across suites).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Smallest scale factor — plenty for unit-level assertions. */
  val sfDir = "/root/testdata/sf0.001"

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** Seeded ScalaCheck runner for property-law tests (each sample runs
    * Spark jobs, so sample counts stay small; the fixed seed reproduces).
    */
  def checkProp(name: String, p: org.scalacheck.Prop, seed: Long, samples: Int): Unit = {
    import org.scalacheck.{Test => SCTest}
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(samples)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)), p)
    withClue(s"$name: ${res.status}") { assert(res.passed) }
  }
}
