package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File
import scala.collection.mutable

/** The benchmark's JVM side. `run.py` builds it and starts it as
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --result <file>
  * }}}
  *
  * It writes a JSON result file; `run.py` adds the DuckDB oracle checks
  * and prints the final line. With `--trace 0` it reports the end-to-end
  * metrics; with `--trace 1` the per-layer ones.
  */
object Main {
  private val TracedPasses = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val work = new File(opt("work"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = mutable.LinkedHashMap.empty[String, Any]

    val spark = session(work)
    val tap = new Tap
    spark.sparkContext.addSparkListener(tap)
    val ctx = new Ctx(spark, tap, work, seed)
    try {
      val w = Workload(opt("workload"), ctx)
      val r = if (trace) traced(ctx, w) else untraced(ctx, w, seconds)
      out ++= r
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        Errors.note(s"run aborted: $e")
        out("aborted") = true
    } finally {
      out("errors") = Errors.all
      java.nio.file.Files.writeString(new File(opt("result")).toPath,
        Json.write(out))
      spark.stop()
    }
  }

  private def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the configuration of the repo's own throughput harness
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // everything the run writes stays inside its work directory
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%7.1f s  $what")

  private def hostProbes(tag: String): Map[String, Double] = {
    val n = Runtime.getRuntime.availableProcessors
    Map(s"$tag.t1" -> Probes.host(1), s"$tag.tN" -> Probes.host(n))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def asJson(m: Probes.Metrics) =
    m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

  private def tally(reqs: Seq[Req]): Map[String, Any] = Map(
    "attempted" -> reqs.size,
    "failed" -> (reqs.count(_.failed) + Repeat.mismatches),
    "mismatch_rows" -> reqs.map(_.mismatches).sum)

  private def extras(w: Workload): Map[String, Any] = w match {
    case q: QueryMix => Map(
      "sf_dir" -> q.sf,
      "duckdb" -> q.duckChecks.map { case (name, sql, dir) =>
        Map("query" -> name, "sql" -> sql, "result" -> dir,
          "attempts" -> q.attempts(name)) })
    case _ => Map.empty
  }

  private def untraced(ctx: Ctx, w: Workload, seconds: Double)
      : Map[String, Any] = {
    phase("session up")
    val setupS = (1 to w.setupReps).map(_ => ctx.time(w.setup())._2)
    phase(s"set up ${w.setupReps}x")
    val warm = (1 to w.warmPasses).flatMap(_ => w.pass())
    phase("warm-up passes done")
    val before = hostProbes("host_before")
    val passes = mutable.ArrayBuffer.empty[Seq[Req]]
    var measured = 0.0
    while (passes.size < w.minPasses || measured < seconds) {
      val p = w.pass()
      passes += p
      measured += p.map(_.wallS).sum
    }
    phase(s"${passes.size} measured passes done")
    val after = hostProbes("host_after")
    val reqs = passes.flatten.toSeq
    // per-pass medians: one slow pass (a GC, a host hiccup) moves them least
    val passWall = Stats.median(passes.toSeq.map(_.map(_.wallS).sum))
    val passCpu = Stats.median(passes.toSeq.map(_.map(_.cpuS).sum))
    val passBytes = Stats.median(passes.toSeq.map(_.map(_.outBytes).sum.toDouble))
    val docs = w.docsPerPass.toDouble
    // Bounded metrics are the ones a shared host's drift moves least:
    // CPU, bytes and memory. Wall-clock figures drift by up to a third
    // between runs minutes apart, so they are printed, not bounded.
    val metrics: Probes.Metrics = mutable.LinkedHashMap(
      "setup_s" -> (Stats.median(setupS), "s"),
      "cpu_s_per_kdoc" -> (passCpu / docs * 1000.0, "s/kdoc"),
      "output_bytes_per_doc" -> (passBytes / docs, "bytes/doc"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val unbounded: Probes.Metrics = mutable.LinkedHashMap(
      "docs_per_s" -> (docs / passWall, "docs/s"),
      "query_cpu_s_per_pass" -> (passCpu, "s"))
    // per-request figures, where a pass holds enough requests to differ
    // from the per-pass ones
    val tailPct = w match {
      case _: QueryMix =>
        val (tail, pct) = Stats.tail(reqs.map(_.wallS))
        unbounded ++= Seq(
          "query_s_p50" -> (Stats.median(reqs.map(_.wallS)), "s"),
          "query_s_tail" -> (tail, "s"),
          "query_cpu_s_p50" -> (Stats.median(reqs.map(_.cpuS)), "s"),
          "query_cpu_s_tail" -> (Stats.tail(reqs.map(_.cpuS))._1, "s"))
        Map("tail_percentile" -> pct)
      case _ => Map.empty
    }
    tally(warm ++ reqs) ++ extras(w) ++ Map(
      "metrics" -> asJson(metrics),
      "unbounded" -> asJson(unbounded),
      "info" -> (Map[String, Any](
        "passes" -> passes.size,
        "requests" -> reqs.size,
        "request_s_median" -> reqs.groupBy(_.name).map { case (k, rs) =>
          k -> Stats.median(rs.map(_.wallS)) },
        "setup_s_samples" -> setupS,
        "pass_wall_s" -> passes.map(_.map(_.wallS).sum),
        "pass_cpu_s" -> passes.map(_.map(_.cpuS).sum),
        "pass_jit_cpu_s" -> passes.map(_.map(_.jitS).sum),
        "pass_gc_s" -> passes.map(_.map(_.gcS).sum),
        "host_probe_docs_per_s" -> (before ++ after)) ++ tailPct))
  }

  /** Untraced and traced passes run in the order untraced, traced,
    * traced, untraced, so that warm-up still going on after the warm pass
    * weighs on both alike; `trace.overhead_s` is the difference of their
    * medians.
    */
  private def traced(ctx: Ctx, w: Workload): Map[String, Any] = {
    phase("session up")
    w.setup()
    val warm = (1 to w.warmPasses).flatMap(_ => w.pass())
    phase("set up and warm-up passes done")
    val before = hostProbes("host")
    val plain = mutable.ArrayBuffer.empty[Seq[Req]]
    val tracedPasses = mutable.ArrayBuffer.empty[Seq[Req]]
    def tracedPass(): Unit = {
      ctx.tap.detailed = true
      tracedPasses += w.pass()
      ctx.tap.detailed = false
    }
    (1 to TracedPasses / 2).foreach { _ =>
      plain += w.pass()
      tracedPass(); tracedPass()
      plain += w.pass()
    }
    phase(s"${plain.size} untraced and ${tracedPasses.size} traced passes done")
    val m: Probes.Metrics = mutable.LinkedHashMap.empty
    def passWall(ps: Seq[Seq[Req]]) = Stats.median(ps.map(_.map(_.wallS).sum))

    // graft.pipeline as the listener saw one traced pass
    val perPass = tracedPasses.toSeq.map(_.map(_.counters))
    def med(f: Counters => Double) =
      Stats.median(perPass.map(cs => cs.map(f).sum))
    val records = perPass.map(_.map(_.outputRecords).sum)
    Repeat.within("pipeline.output_records", records)
    Repeat.record("pipeline.output_records", records.head)
    Probes.pipeline(ctx, w, w match {
      case _: SpansBatch => Some(passWall(tracedPasses.toSeq))
      case _ => None
    }, m)
    m("pipeline.salted") = (w match {
      case b: SpansBatch if b.salted => 1.0
      case _ => 0.0
    }, "count")
    m("pipeline.jobs") = (med(_.jobs.toDouble), "count")
    m("pipeline.stages") = (med(_.stages.toDouble), "count")
    m("pipeline.tasks") = (med(_.tasks.toDouble), "count")
    m("pipeline.task_cpu_s") = (med(_.cpuNs / 1e9), "s")
    m("pipeline.task_run_s") = (med(_.runMs / 1e3), "s")
    m("pipeline.gc_s") =
      (Stats.median(tracedPasses.toSeq.map(_.map(_.gcS).sum)), "s")
    m("pipeline.task_s_max_over_median") = (Stats.median(
      perPass.map(cs => cs.map(_.stragglerRatio).max)), "ratio")
    m("pipeline.shuffle_write_bytes") = (med(_.shuffleWriteBytes.toDouble), "bytes")
    m("pipeline.output_bytes") = (med(_.outputBytes.toDouble), "bytes")
    m("pipeline.output_records") = (records.head.toDouble, "count")
    m("pipeline.task_failures") =
      (perPass.map(_.map(_.taskFailures).sum).sum.toDouble, "count")
    phase("pipeline probes done")

    // graft.ops / graft.functions: the query workload's own traced passes;
    // on the batch workloads, one traced pass of the same queries on a
    // fresh JVM's cold caches (a warm pass would double the run's length)
    val (queryPasses, probeReqs) = w match {
      case _: QueryMix => (tracedPasses.toSeq, Seq.empty)
      case _ =>
        val q = new QueryMix(ctx, Workload.SfDocs, "probe-sf", oracle = false)
        q.setup()
        ctx.tap.detailed = true
        val p = q.pass()
        ctx.tap.detailed = false
        (Seq(p), p)
    }
    QueryMix.Names.foreach { name =>
      val rs = queryPasses.flatMap(_.filter(_.name == name))
      def part(k: String) = Stats.median(rs.map(_.parts.getOrElse(k, 0.0)))
      def exact(metric: String, vs: Seq[Long]): Double = {
        Repeat.within(s"query.$name.$metric", vs)
        Repeat.record(s"query.$name.$metric", vs.head)
        vs.head.toDouble
      }
      m(s"query.$name.build_s") = (part("build_s"), "s")
      m(s"query.$name.plan_s") = (part("plan_s"), "s")
      m(s"query.$name.exec_s") = (part("exec_s"), "s")
      m(s"query.$name.jobs") = (exact("jobs", rs.map(_.counters.jobs)), "count")
      m(s"query.$name.exchanges") =
        (exact("exchanges", rs.map(_.parts.getOrElse("exchanges", 0.0).toLong)), "count")
      m(s"query.$name.task_cpu_s") =
        (Stats.median(rs.map(_.counters.cpuNs / 1e9)), "s")
      m(s"query.$name.shuffle_bytes") =
        (Stats.median(rs.map(_.counters.shuffleWriteBytes.toDouble)), "bytes")
    }
    phase("query layer done")

    val raw = new RawFileSet(ctx, 10, "probe-raw")
    raw.setup()
    Probes.sources(ctx, raw, w, m)
    Probes.extract(ctx, w, m)
    phase("source and extract probes done")

    val after = hostProbes("host")
    m("host.probe_docs_per_s_t1") =
      ((before("host.t1") + after("host.t1")) / 2, "docs/s")
    m("host.probe_docs_per_s_tN") =
      ((before("host.tN") + after("host.tN")) / 2, "docs/s")
    m("trace.overhead_s") =
      (passWall(tracedPasses.toSeq) - passWall(plain.toSeq), "s")

    val reqs = warm ++ plain.flatten ++ tracedPasses.flatten ++ probeReqs
    tally(reqs) ++ extras(w) ++ Map(
      "metrics" -> asJson(m),
      "repeat" -> Repeat.recorded,
      "info" -> (Map[String, Any](
        "host_probe_docs_per_s" -> Map("before" -> before, "after" -> after))))
  }
}
