package graft.tools

import org.apache.spark.sql.functions._

/** Volume evidence for the native trigram language-ID expression:
  * classifies `nDocs` deterministic mixed-language paragraphs (one of
  * the 21 seed languages per doc, ~60 words each) at local[32] and
  * reports docs/s plus the per-language assignment counts — the
  * corpus-routing job shape a training-data pipeline runs at 100 TB.
  * `sbt "runMain graft.tools.LangIdBench [nDocs]"`; appends to BENCH.md.
  */
object LangIdBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(2000000)
    val spark = session(32)
    import spark.implicits._

    val nLangs = graft.functions.TrigramLangId.Seeds.all.size
    val docs = spark.range(nDocs).map { i =>
      val li = (i % nLangs).toInt
      // 5 chained seed sentences = a ~60-word paragraph, doc-unique
      (i, (0 until 5).map(k =>
        graft.functions.TrigramLangId.seedSentence(li, (i / nLangs + k).toInt % 977))
        .mkString(" "))
    }.toDF("id", "text")

    val wantCode = array(
      graft.functions.TrigramLangId.Seeds.all.map(p => lit(p._1)): _*)
    val t0 = System.nanoTime()
    val byLang = docs.select(
        graft.functions.TrigramLangId.langId(col("text")).as("lang"),
        element_at(wantCode,
          (col("id") % nLangs).cast("int") + 1).as("want"))
      .groupBy("lang", "want").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sec = (System.nanoTime() - t0) / 1e9

    val correct = byLang.filter { case (l, w, _) => l == w }.map(_._3).sum
    val accuracy = correct.toDouble / nDocs
    val line = f"| trigram lang-ID volume | $nDocs docs (~60 words, " +
      f"per-language round-robin) classified+grouped in $sec%.1f s = " +
      f"${nDocs / sec}%.0f docs/s @ local[32]; per-doc accuracy vs " +
      f"generator language ${accuracy * 100}%.2f%% |"
    println("[langid-bench] " + line)
    println("[langid-bench] counts: " + byLang.sortBy(t => (t._2, t._1))
      .map { case (l, w, c) => s"$w->$l=$c" }.mkString(" "))
    appendBenchMd(line)
    spark.stop()
  }
}
