package graft.tools


/** Volume evidence for table reconstruction: builds `nPages` synthetic
  * pages of positioned runs (a title, an R×C grid table with per-page
  * R ∈ 3..5 / C ∈ 2..3, and a footer — generated distributed, straight
  * from `spark.range`), runs [[graft.ops.TableExtract.cells]] at
  * local[32], and checks the recovered cell count against the exact
  * generator-predicted total — the page-structure recovery job shape a
  * training-data pipeline runs over scanned corpora at 100 TB.
  * `sbt "runMain graft.tools.TableBench [nPages]"`; appends to BENCH.md.
  */
object TableBench {
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toInt).getOrElse(500000)
    val spark = session(32)
    import spark.implicits._

    def dims(i: Long): (Int, Int) = ((3 + i % 3).toInt, (2 + i % 2).toInt)
    val runs = spark.range(nPages).flatMap { i =>
      val (nr, nc) = dims(i)
      val doc = s"bdoc_$i"
      val title = Iterator(
        (doc, 1, 72.0, 760.0, 272.0, 774.0, s"Report $i"))
      val footer = Iterator(
        (doc, 1, 72.0, 40.0, 232.0, 52.0, s"Footer $i"))
      val cells = for {
        r <- (0 until nr).iterator; c <- (0 until nc).iterator
      } yield {
        val x0 = 72.0 + c * 130; val y0 = 700.0 - r * 20
        (doc, 1, x0, y0, x0 + 80.0 - ((r + c) % 3) * 6, y0 + 12,
         s"cell_${i}_${r}_${c}")
      }
      title ++ cells ++ footer
    }.toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")

    val want = (0L until nPages).map { i =>
      val (nr, nc) = dims(i); nr.toLong * nc
    }.sum
    val t0 = System.nanoTime()
    val got = graft.ops.TableExtract.cells(runs).count()
    val sec = (System.nanoTime() - t0) / 1e9

    val line = f"| table-reconstruction volume | $nPages pages " +
      f"(title + R×C grid + footer) → $got cells (expected $want, " +
      f"recall ${got.toDouble / want * 100}%.2f%%) in $sec%.1f s = " +
      f"${nPages / sec}%.0f pages/s, ${got / sec}%.0f cells/s @ local[32] |"
    println("[table-bench] " + line)
    appendBenchMd(line)
    spark.stop()
  }
}
