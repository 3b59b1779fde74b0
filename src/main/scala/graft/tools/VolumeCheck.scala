package graft.tools

import graft.pipeline.ExtractJob
import java.nio.file.Files

/** Volume check: run the full extraction job at 10x the bench corpus on
  * all cores — evidence that throughput holds as data grows (appends a
  * line to BENCH.md). Not part of the per-round bench (wall-time budget);
  * run ad hoc: `sbt "runMain graft.tools.VolumeCheck [nDocs]"`.
  */
object VolumeCheck {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = session(32)
    import spark.implicits._

    val in = Files.createTempDirectory("graft-vol-in").toString
    graft.gen.CorpusGen.dataset(spark, n, 42L)
      .repartition(256).write.mode("overwrite").parquet(in)
    val docs = spark.read.parquet(in).as[graft.core.InputDoc]
    val out = Files.createTempDirectory("graft-vol-out").toString
    val t0 = System.nanoTime()
    val rep = ExtractJob.run(spark, docs, ExtractJob.Config(
      out, runId = "volume", groups = 4, partitions = 128))
    val sec = (System.nanoTime() - t0) / 1e9
    val rows = ExtractJob.readOutput(spark, out).count()
    val m = spark.read.json(s"$out/metrics")
    import org.apache.spark.sql.functions._
    val stats = m.agg(sum("doc_count"), max("duration_ms"),
      expr("percentile(duration_ms, 0.5)")).collect()(0)
    val line =
      f"| volume check | $n docs end-to-end in $sec%.1f s = ${n / sec}%.0f docs/s @ local[32]; " +
      f"$rows output rows; metrics: ${stats.getLong(0)} docs, " +
      f"task p50 ${stats.getDouble(2)}%.0f ms / max ${stats.getLong(1)} ms (skew bound) |"
    println("[volume] " + line)
    appendBenchMd(line)
    deleteRec(new java.io.File(in)); deleteRec(new java.io.File(out))
    spark.stop()
  }
}
