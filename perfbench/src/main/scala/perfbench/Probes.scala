package perfbench

import graft.core.InputDoc
import graft.extract.{Extractor, HtmlExtractor, Layout, PdfTokenizer}
import graft.gen.CorpusGen
import graft.pipeline.{Checkpoint, ExtractJob}
import graft.sources.{HadoopTableIO, RawFiles}
import scala.collection.mutable

/** Calls into each layer's public functions, timed from the benchmark's
  * side. Used by traced runs only. Every timing is the median of a few
  * repetitions; every count a repetition returns must come out the same
  * each time (see [[Repeat]]).
  */
object Probes {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** Runs `body` `reps` times: median seconds, and its counts. Spark
    * jobs get two repetitions, single-thread calls three.
    */
  private def timed(tag: String, reps: Int = 3)(body: => Map[String, Long])
      : (Double, Map[String, Long]) = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val counts = body
      ((System.nanoTime() - t0) / 1e9, counts)
    }
    runs.flatMap(_._2.keys).distinct.foreach { k =>
      Repeat.within(s"$tag:$k", runs.map(_._2(k)))
    }
    (Stats.median(runs.map(_._1)), runs.head._2)
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Plain-thread `Extractor.extractRows` throughput in docs/s at
    * `threads` threads over a fixed corpus, with no Spark involved: a
    * sensor for how much CPU the host gives right now, so a slow window
    * can be told from a slow change.
    */
  private lazy val hostCorpus = {
    val c = CorpusGen.corpus(42L, 2000)
    (1 to 5).foreach(_ => c.foreach(Extractor.extractRows)) // JIT warm-up
    c
  }
  def host(threads: Int, millis: Long = 400): Double = {
    val corpus = hostCorpus
    val done = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    val stop = t0 + millis * 1000000L
    val ts = (0 until threads).map { ti =>
      new Thread(() => {
        var i = ti
        while (System.nanoTime() < stop) {
          Extractor.extractRows(corpus(i % corpus.length))
          done.incrementAndGet(); i += threads
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    done.get / ((System.nanoTime() - t0) / 1e9)
  }

  /** `graft.sources`: `decodeAny` routing over a raw file set on one
    * thread, `RawFiles.read` to a no-op sink, and the workload's own scan
    * to a no-op sink.
    */
  def sources(ctx: Ctx, raw: RawFileSet, w: Workload, m: Metrics): Unit = {
    val files = raw.files()
    val root = raw.root
    val (decodeS, c) = timed("sources.decode_any") {
      var docs = 0L; var failed = 0L
      files.foreach { case (p, b) =>
        try docs += RawFiles.decodeAny(p, b, root).size
        catch { case scala.util.control.NonFatal(_) => failed += 1 }
      }
      Map("docs" -> docs, "failed" -> failed)
    }
    m("sources.decode_any_s") = (decodeS, "s")
    m("sources.decode_any_files") = (files.size.toDouble, "count")
    m("sources.decode_any_docs") = (c("docs").toDouble, "count")
    m("sources.decode_any_failed") = (c("failed").toDouble, "count")
    m("sources.bytes_in") = (files.map(_._2.length.toLong).sum.toDouble, "bytes")
    m("sources.read_noop_s") =
      (timed("sources.read_noop", 2) { noop(RawFiles.read(ctx.spark, raw.dir).toDF()); Map.empty }._1, "s")
    m("sources.scan_noop_s") =
      (timed("sources.scan_noop", 2) { noop(w.scan()); Map.empty }._1, "s")
    Repeat.record("sources.decode_any_docs", c("docs"))
  }

  /** `graft.extract` on one thread over the workload's probe docs, split
    * into tokenize, layout and html, plus extraction to a no-op sink in
    * Spark (which includes the `ExtractedRow` encode).
    */
  def extract(ctx: Ctx, w: Workload, m: Metrics): Unit = {
    val docs: Seq[InputDoc] = w.probeDocs()
    val spans = docs.flatMap(d => Option(d.spans).getOrElse(Nil))
    val pdf = spans.filter(_.kind == "pdf").map(_.text)
    val html = spans.filter(_.kind == "html").map(_.text)
    val (rowsS, rc) = timed("extract.extract_rows") {
      Map("rows" -> docs.iterator.map(Extractor.extractRows(_).size.toLong).sum)
    }
    val (tokS, tc) = timed("extract.tokenize") {
      val pages = pdf.flatMap(PdfTokenizer.tokenize(_, 1))
      Map("pages" -> pages.size.toLong,
        "runs" -> pages.iterator.map(_.runs.size.toLong).sum)
    }
    val pages = pdf.flatMap(PdfTokenizer.tokenize(_, 1))
    val (layS, lc) = timed("extract.layout") {
      Map("boxes" -> pages.iterator.map(Layout.boxesOf(_).size.toLong).sum)
    }
    val (htmlS, _) = timed("extract.html") {
      Map("items" -> html.iterator.map(HtmlExtractor.items(_).size.toLong).sum)
    }
    m("extract.extract_rows_s") = (rowsS, "s")
    m("extract.tokenize_s") = (tokS, "s")
    m("extract.layout_s") = (layS, "s")
    m("extract.html_s") = (htmlS, "s")
    m("extract.pages") = (tc("pages").toDouble, "count")
    m("extract.runs") = (tc("runs").toDouble, "count")
    m("extract.boxes") = (lc("boxes").toDouble, "count")
    m("extract.rows_out") = (rc("rows").toDouble, "count")
    import ctx.spark.implicits._
    m("extract.noop_job_s") = (timed("extract.noop_job", 2) {
      noop(w.extractionInput().mapPartitions(_.flatMap(Extractor.extractRows)).toDF())
      Map.empty
    }._1, "s")
    Repeat.record("extract.rows_out", rc("rows"))
  }

  /** `graft.pipeline`: a whole `ExtractJob.run` over the workload's
    * extraction input (`runS`, when the workload's own passes did not
    * already time one), the fixed cost of a ~100-doc job, a
    * `TableIO.overwriteGroup` of a pre-extracted frame, and a
    * `Checkpoint.commitGroup`. Probe jobs take the unsalted path with the
    * workload's partition count.
    */
  def pipeline(ctx: Ctx, w: Workload, runS: Option[Double],
               m: Metrics): Unit = {
    import ctx.spark.implicits._
    val parts = w match {
      case b: SpansBatch => b.partitions
      case _ => Workload.SpansPartitions
    }
    def job(input: org.apache.spark.sql.Dataset[InputDoc]): Map[String, Long] = {
      val out = ctx.freshPath("probe-out")
      try {
        ExtractJob.run(ctx.spark, input, ExtractJob.Config(out,
          runId = "perfbench", groups = 1, partitions = parts,
          salting = "off"))
        Map.empty
      } finally ctx.rm(out)
    }
    m("pipeline.run_s") =
      (runS.getOrElse(timed("pipeline.run", 2)(job(w.extractionInput()))._1), "s")
    m("pipeline.fixed_overhead_s") = (timed("pipeline.fixed_overhead", 2)(
      job(CorpusGen.dataset(ctx.spark, 100, ctx.seed)))._1, "s")
    val frame = w.extractionInput()
      .mapPartitions(_.flatMap(Extractor.extractRows)).toDF()
      .repartition(parts).persist()
    frame.count()
    m("pipeline.write_s") = (timed("pipeline.write", 2) {
      val out = ctx.freshPath("probe-write")
      try HadoopTableIO(out).overwriteGroup(frame, 0) finally ctx.rm(out)
      Map.empty
    }._1, "s")
    frame.unpersist(blocking = true)
    val ckpt = ctx.freshPath("probe-commit")
    m("pipeline.commit_s") = (timed("pipeline.commit") {
      Checkpoint.commitGroup(ckpt, 0, "perfbench", 1L, 1L); Map.empty
    }._1, "s")
    ctx.rm(ckpt)
  }
}

/** Counts that must not drift: equal across the repetitions inside a run
  * (checked here), and equal across runs on the same seed (the values
  * recorded here are compared by `run.py` with earlier runs).
  */
object Repeat {
  val recorded = mutable.LinkedHashMap.empty[String, Long]
  var mismatches = 0

  def within(tag: String, values: Seq[Long]): Unit =
    if (values.distinct.size > 1) {
      mismatches += 1
      Errors.note(s"count '$tag' differs between repetitions: " +
        values.mkString(", "))
    }

  def record(name: String, value: Long): Unit = recorded(name) = value
}
