package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one test session: `local[4]`, 4 shuffle partitions, UTC, no UI;
  * stopped after the suite's last test.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()
}
