package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Shared plumbing for the ad-hoc evidence mains in this package: one
  * session config, one BENCH.md append and one recursive delete.
  * Nothing outside `graft.tools` imports this package.
  */
package object tools {

  /** A `local[cores]` session under the config [[graft.Bench]] measures
    * with: AQE, 4 MiB scan splits, 1 MiB file open cost, zstd parquet,
    * UTC session time zone, no UI; shuffle partitions = `cores`.
    */
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Appends `line` as its own paragraph to `BENCH.md` in the working
    * directory (the checkout root under `sbt run`), creating the file if
    * absent. A failed write only warns: every caller prints the line too.
    */
  def appendBenchMd(line: String): Unit =
    try Files.writeString(Paths.get("BENCH.md"), "\n" + line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    catch { case e: java.io.IOException =>
      System.err.println(s"BENCH.md not appended: ${e.getMessage}") }

  /** Deletes a file or directory tree (a tool's scratch input/output). */
  def deleteRec(p: java.io.File): Unit = {
    if (p.isDirectory) p.listFiles.foreach(deleteRec)
    p.delete(): Unit
  }
}
