package graft.tools

import graft.functions.BpeTokenize
import graft.ops.TextOps
import org.apache.spark.sql.functions._

/** Volume evidence for the trainable byte-level BPE: learns a merge
  * table from a bounded sample (distributed word counting, driver merge
  * loop), then tokenizes `nDocs` deterministic ~60-word paragraphs with
  * the native expression and aggregates the corpus token budget —
  * the token-accounting job a training-data pipeline runs at 100 TB.
  * `sbt "runMain graft.tools.BpeBench [nDocs]"`; appends to BENCH.md.
  */
object BpeBench {

  /** Deterministic word-salad paragraph over a 997-stem vocabulary with
    * shared morphological suffixes — the merge loop learns the suffixes
    * and frequent stems while rare stems stay multi-token, so the
    * subwords/pre-token ratio is meaningful.
    */
  private val Suffix =
    Array("ing", "ed", "ly", "tion", "er", "est", "s", "")
  private[graft] def paragraph(i: Long): String =
    (0 until 60).map { k =>
      val j = (i * 31 + k * k * 7 + k) % 997
      s"w$j${Suffix((j % 8).toInt)}"
    }.mkString(" ")

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(2000000)
    val spark = session(32)
    import spark.implicits._

    def docs(n: Long) = spark.range(n)
      .map(i => (i, paragraph(i))).toDF("id", "text")

    val tTrain0 = System.nanoTime()
    val merges = TextOps.trainBpe(docs(5000), "text",
      numMerges = 500, maxWords = 5000)
    val trainSec = (System.nanoTime() - tTrain0) / 1e9

    val t0 = System.nanoTime()
    val Array(totalTokens, totalPre) = docs(nDocs)
      .select(
        sum(size(BpeTokenize.tokenize(col("text"), merges))).as("bpe"),
        sum(TextOps.bpeTokenCount(col("text"))).as("pre"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val sec = (System.nanoTime() - t0) / 1e9

    val line = f"| trainable BPE volume | ${merges.size} merges learned " +
      f"from 5000 docs in $trainSec%.1f s; $nDocs ~60-word docs " +
      f"tokenized+summed in $sec%.1f s = ${nDocs / sec}%.0f docs/s = " +
      f"${totalTokens / sec}%.0f tokens/s @ local[32]; corpus budget " +
      f"$totalTokens BPE tokens vs $totalPre pre-tokens " +
      f"(${totalTokens.toDouble / totalPre}%.2f subwords/pre-token) |"
    println("[bpe-bench] " + line)
    appendBenchMd(line)
    spark.stop()
  }
}
