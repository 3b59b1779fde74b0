package perfbench

import org.apache.spark.sql.SparkSession

/** Seeded stand-in for the `documents` and `embeddings` tables that the
  * query workload reads, in the schema of the repo's scale-factor test
  * tables and fitted to the shape measured on sf0.1 (see the README):
  * `documents(doc_id, text, lang, source, n_chars)` with 10–100 words
  * drawn uniformly from a 30-word vocabulary, one doc in 20 ending in a
  * `dup` token, one in 600 repeating an earlier doc's text, `lang` `en`
  * for 41% of docs and one of `fr de zh es` otherwise, `source` the doc
  * id mod 20; and `embeddings(vec_id, embedding float[64], label)` with
  * two vectors for every five docs, each of unit length, labels 0–9.
  * Each row is a pure function of (seed, id).
  */
object SfGen {
  private val Vocab = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val OtherLangs = Array("fr", "de", "zh", "es")

  private def text(seed: Long, i: Long): String = {
    val r = new java.util.Random(seed * 7919L + i)
    if (i > 0 && r.nextInt(600) == 0) text(seed, r.nextInt(i.toInt).toLong)
    else {
      val words = Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
      (if (r.nextInt(20) == 0) words :+ "dup" else words).mkString(" ")
    }
  }

  def write(spark: SparkSession, dir: String, nDocs: Int, seed: Long): Unit = {
    import spark.implicits._
    spark.range(nDocs).map { i =>
      val r = new java.util.Random(seed * 6151L + i)
      val lang = if (r.nextInt(100) < 41) "en"
        else OtherLangs(r.nextInt(OtherLangs.length))
      val t = text(seed, i)
      (i, t, lang, s"src${i % 20}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(nDocs * 2L / 5).map { i =>
      val r = new java.util.Random(seed * 104729L + i)
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
