package graft.tools

import graft.ops.CorpusPipeline
import org.apache.spark.sql.functions._

/** End-to-end corpus-cleaning demo over a testdata documents table plus
  * injected near-duplicates: runs [[CorpusPipeline.clean]] at local[32]
  * and appends the per-stage retention line to BENCH.md — the composed
  * evidence that the individually-oracled operators chain into the real
  * pipeline shape. `sbt "runMain graft.tools.CleanDemo [sfDir]"`.
  */
object CleanDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session(32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dups = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    val corpus = docs.union(dups)

    // deterministic "held-out eval set": every 101st doc's text — those
    // corpus docs leak all their windows and must fall in decontamination
    val evalSet = docs.where(col("doc_id") % 101 === 0).select("text")

    val t0 = System.nanoTime()
    val (cleaned, stages) = CorpusPipeline.clean(corpus, "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.5, cutWindowTokens = 8,
        contaminationW = 8,
        // the round-5 opt-in stages: normalization pass + corpus-trained
        // Stupid-Backoff LM gate (floor generous — the demo corpus is
        // uniform, the evidence is the stage running at sf scale)
        normalize = true, minLmScore = Some(-6.0), lmTrainDocs = 1000),
      evalSet = Some(evalSet))
    val outN = cleaned.count()
    val sec = (System.nanoTime() - t0) / 1e9

    val line = f"| corpus-clean pipeline ($sfDir + 1/7 injected dups) | " +
      stages.map(s => s"${s.stage}=${s.docs}").mkString(" → ") +
      f" → final=$outN in $sec%.1f s @ local[32] |"
    println("[clean-demo] " + line)
    appendBenchMd(line)
    spark.stop()
  }
}
