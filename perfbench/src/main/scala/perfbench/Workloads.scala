package perfbench

import graft.SparkEntry
import graft.core.InputDoc
import graft.gen.{CorpusGen, MixedGen}
import graft.oracle.RefOracle
import graft.pipeline.ExtractJob
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.{Failure, Success}

/** A benchmark workload: inputs generated from the seed, then closed-loop
  * passes (one client; the next request starts when the previous one
  * has returned).
  */
trait Workload {
  def name: String
  /** Generates the inputs from the seed. Timed as `setup_s`. */
  def setup(): Unit
  /** Documents one pass processes. */
  def docsPerPass: Long
  /** One pass. Every output is checked before this returns. */
  def pass(): Seq[Req]
  /** What the extraction layer reads on this workload. */
  def extractionInput(): Dataset[InputDoc]
  /** The workload's primary source scan, before any decoding. */
  def scan(): DataFrame
  /** A fixed seeded document sample for single-thread layer probes. */
  def probeDocs(): Seq[InputDoc]
  /** Untimed passes before measuring: JIT compilation and Spark's caches
    * settle over the first passes of a fresh JVM.
    */
  def warmPasses: Int
  /** Measured passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int
  /** Set-ups a run times (the first runs on a cold JVM): enough for a
    * steady median of `setup_s`.
    */
  def setupReps: Int
}

object Workload {
  val Names = Seq("spans_batch", "query_mix")

  // Sizes keep a whole run, JVM start and set-up included, under a
  // minute on a 4-core machine.
  val SpansDocs = 30000
  val SpansPartitions = 32
  val SfDocs = 500

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "spans_batch" => new SpansBatch(ctx, SpansDocs, SpansPartitions)
    case "query_mix" => new QueryMix(ctx, SfDocs, "sf")
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}

/** `spans_batch`: a `CorpusGen` spans table written to parquet in set-up,
  * read back and extracted. Each request is one `ExtractJob.run` into a
  * fresh output directory, read back and checked, then deleted. Checked
  * against `RefOracle` under span sequence equality on a fixed seeded
  * sample: `SkewDocs` of the `i % 503` skew docs plus `PerClass` docs of
  * each of the ten `CorpusGen` classes; and the job's doc count.
  *
  * The job runs in BenchChild's shape (one group, a fixed partition
  * count, sampled skew decision) with BenchChild's 64 partitions scaled
  * to the corpus: a 160 KB skew doc must stay under a quarter of a
  * partition's fair share (about 1 MB of payload per partition), or the
  * job takes the salted repartition path, which this workload keeps out.
  */
final class SpansBatch(ctx: Ctx, nDocs: Int, val partitions: Int)
    extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  val name = "spans_batch"
  private val input = new File(ctx.work, "spans-in").getPath
  private val PerClass = 100
  private val SkewDocs = 20
  val warmPasses = 3
  val minPasses = 3
  val setupReps = 3
  /** Whether the last job took the salted repartition path. */
  var salted = false

  /** `CorpusGen.dataset`'s documents, generated straight into 64 files as
    * the repo's throughput harness lays its input out.
    */
  def setup(): Unit = {
    val seed = ctx.seed
    spark.range(0L, nDocs.toLong, 1L, 64).map(i => CorpusGen.doc(seed, i))
      .write.mode("overwrite").parquet(input)
  }

  def docsPerPass: Long = nDocs
  def extractionInput(): Dataset[InputDoc] =
    spark.read.parquet(input).as[InputDoc]
  def scan(): DataFrame = spark.read.parquet(input)

  def pass(): Seq[Req] = {
    val out = ctx.freshPath("out")
    val (r, t) = ctx.request(ExtractJob.run(spark, extractionInput(),
      ExtractJob.Config(out, runId = "perfbench", groups = 1,
        partitions = partitions, salting = "auto")))
    val countOk = r.toOption.exists(_.docsProcessed == docsPerPass)
    if (r.isSuccess && !countOk)
      Errors.note(s"$name: job reported ${r.get.docsProcessed} docs, " +
        s"expected $docsPerPass")
    val mism = if (r.isSuccess) check(out) else 0L
    if (mism > 0) Errors.note(s"$name: $mism output rows differ from the oracle")
    val bytes = ctx.dataBytes(s"$out/data")
    salted = r.toOption.exists(_.salted)
    ctx.rm(out)
    Seq(Req("extract_job", t.wallS, t.cpuS, t.jitS, t.gcS, bytes,
      failed = r.isFailure || !countOk || mism > 0 || t.taskFailures > 0,
      mism, t.counters))
  }

  private lazy val sample: Seq[Long] = {
    val r = new scala.util.Random(ctx.seed * 31L + 503L)
    val skew = r.shuffle((503L until nDocs.toLong by 503L).toVector)
      .take(SkewDocs)
    val perClass = (0 until 10).flatMap { c =>
      Iterator.continually(r.nextInt(nDocs / 10) * 10L + c)
        .filter(_ % 503 != 0).distinct.take(PerClass).toSeq
    }
    (skew ++ perClass).distinct.sorted
  }

  def probeDocs(): Seq[InputDoc] = sample.map(CorpusGen.doc(ctx.seed, _))

  private val SpanCols = Seq("doc_id", "kind", "text", "media_ref", "order")

  private lazy val expected: Array[String] = {
    val seed = ctx.seed
    spark.createDataset(sample).repartition(ctx.sc.defaultParallelism)
      .flatMap(i => RefOracle.extract(CorpusGen.doc(seed, i)).outSpans)
      .toDF().select(SpanCols.map(col): _*)
      .collect().map(Canon.row)
  }

  /** Output rows that differ from the oracle. */
  private def check(outDir: String): Long = {
    val want = expected
    val ids = sample.map(i => f"doc_$i%08d")
    val got = ExtractJob.readOutput(spark, outDir)
      .where(col("doc_id").isin(ids: _*))
      .select(SpanCols.map(col): _*)
      .collect().map(Canon.row)
    Canon.diff(got, want)
  }
}

/** Raw input for the traced runs' `graft.sources` probe: `MixedGen` files
  * in its 22 formats, `perFormat` of each. MixedGen is a pure function of
  * the file index and has no seed, so the seed picks the indices:
  * `perFormat` of each format class (index mod 22) out of the first
  * `2 * perFormat` of that class.
  */
final class RawFileSet(ctx: Ctx, perFormat: Int, dirName: String) {
  val dir: String = new File(ctx.work, dirName).getPath

  private val indices: Seq[Int] = {
    val r = new scala.util.Random(ctx.seed * 31L + 22L)
    (0 until 22).flatMap { c =>
      r.shuffle((0 until 2 * perFormat).toVector).take(perFormat)
        .map(c + 22 * _)
    }.sorted
  }

  def setup(): Unit = {
    ctx.dir(dirName)
    indices.foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, MixedGen.fileName(i)),
        MixedGen.fileBytes(i))
    }
  }

  /** The files as the directory scan hands them to `decodeAny`. */
  def files(): Seq[(String, Array[Byte])] = indices.map { i =>
    val f = new File(dir, MixedGen.fileName(i))
    (f.toURI.toString, java.nio.file.Files.readAllBytes(f.toPath))
  }
  def root: String = new File(dir).toURI.toString
}

/** `query_mix`: repeated warm passes over eight `SparkEntry.queries` on a
  * seeded stand-in for the scale-factor tables. The first pass checks
  * each result against its oracle — the `SparkEntry.expected` table
  * where one exists, else the query's DuckDB twin in `oracleSql`, which
  * `run.py` evaluates after the JVM exits. Later passes must return
  * exactly the first pass's rows. Traced runs of the other workloads use
  * it as a query-layer probe with `oracle = false`.
  */
final class QueryMix(ctx: Ctx, nDocs: Int, dirName: String,
                     oracle: Boolean = true) extends Workload {
  private val spark = ctx.spark
  val name = "query_mix"
  // the first pass runs cold and checks against the oracles; the first
  // measured pass still fills caches, which the median of three absorbs.
  // A pass is eight requests, so three give the percentiles 24 samples;
  // set-up takes well under a second, so it is timed five times
  val warmPasses = 1
  val minPasses = 3
  val setupReps = 5
  val sf: String = new File(ctx.work, dirName).getPath

  def setup(): Unit = {
    ctx.dir(dirName)
    SfGen.write(spark, sf, nDocs, ctx.seed)
  }

  def docsPerPass: Long = nDocs
  def extractionInput(): Dataset[InputDoc] = SparkEntry.corpusFor(spark, sf)
  def scan(): DataFrame = spark.read.parquet(s"$sf/documents.parquet")
  def probeDocs(): Seq[InputDoc] =
    (0L until math.min(4L * nDocs, 2000L)).map(CorpusGen.doc(42L, _))

  private val reference = mutable.Map.empty[String, Array[String]]
  val attempts: mutable.Map[String, Int] =
    mutable.Map.empty[String, Int].withDefaultValue(0)
  /** (query, DuckDB twin SQL, directory holding the first-pass result) */
  val duckChecks = mutable.ArrayBuffer.empty[(String, String, String)]

  def pass(): Seq[Req] = QueryMix.Names.map(run)

  private def run(q: String): Req = {
    attempts(q) += 1
    val fn = SparkEntry.queries(q)
    val (r, t) = ctx.request {
      val (df, build) = ctx.time(fn(spark, sf))
      val (_, plan) = ctx.time(df.queryExecution.executedPlan)
      val (rows, exec) = ctx.time(df.collect())
      (df, rows, build, plan, exec)
    }
    r match {
      case Failure(_) =>
        Req(q, t.wallS, t.cpuS, t.jitS, t.gcS, 0L, failed = true, 0L, t.counters)
      case Success((df, rows, build, plan, exec)) =>
        val canon = rows.map(Canon.row)
        val mism = reference.get(q) match {
          case Some(ref) => Canon.diff(canon, ref)
          case None =>
            reference(q) = canon
            if (oracle) checkFirst(q, df, rows, canon) else 0L
        }
        if (mism > 0) Errors.note(s"$q: $mism rows differ from the oracle")
        Req(q, t.wallS, t.cpuS, t.jitS, t.gcS,
          canon.iterator.map(_.getBytes(UTF_8).length.toLong).sum,
          failed = mism > 0 || t.taskFailures > 0, mism, t.counters,
          Map("build_s" -> build, "plan_s" -> plan, "exec_s" -> exec,
            "exchanges" -> Plans.exchanges(df.queryExecution.executedPlan)))
    }
  }

  private def checkFirst(q: String, df: DataFrame, rows: Array[Row],
                         canon: Array[String]): Long =
    SparkEntry.expected.get(q) match {
      case Some(exp) =>
        Canon.diff(canon, exp(spark, sf).select(df.columns.toSeq.map(col): _*)
          .collect().map(Canon.row))
      case None =>
        val out = new File(ctx.work, s"check/$q").getPath
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
        duckChecks += ((q, SparkEntry.oracleSql(q), out))
        0L
    }
}

object QueryMix {
  val Names = Seq("ex_spans", "ex_chunks", "dd_minhash_lsh",
    "dd_dedup_removal", "dd_contamination", "q_page_furniture",
    "q_bm25_topk", "q_hybrid_topk")
}

object Plans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Shuffle and broadcast exchanges in a plan, AQE stages and subqueries
    * included.
    */
  def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(p) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.size
}
