package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke of the driver contract: entry() rows > 0; every query runs and
  * returns rows at sf0.001; every oracleSql key exists in queries.
  */
class EntrySpec extends AnyFunSuite with SparkSuite {

  test("entry() returns rows (driver smoke contract)") {
    spark.sparkContext.setLogLevel("WARN")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query returns rows at sf0.001; oracle keys are valid") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned no rows")
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
