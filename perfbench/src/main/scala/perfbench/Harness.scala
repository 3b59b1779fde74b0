package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import java.io.File
import scala.util.Try

/** One closed-loop request as the benchmark saw it. The times cover only
  * the call into the program; checks and clean-up run outside them.
  * `cpuS` is the process's CPU over the call, less what the JIT compiler
  * threads spent in it: Spark tasks, the driving thread, the scheduler's
  * threads and the garbage collector all count. `jitS` is the part left
  * out, which on a fresh JVM follows the compiler's progress rather than
  * the program. `parts` holds named sub-timings and counts (query
  * build/plan/exec).
  */
final case class Req(name: String, wallS: Double, cpuS: Double,
                     jitS: Double, gcS: Double,
                     outBytes: Long, failed: Boolean,
                     mismatches: Long, counters: Counters,
                     parts: Map[String, Double] = Map.empty)

final case class Timing(wallS: Double, cpuS: Double, jitS: Double,
                        gcS: Double, taskFailures: Long, counters: Counters)

/** CPU time of the JVM's JIT compiler threads, read from Linux's
  * per-thread `/proc/self/task/<tid>/stat` (utime + stime, in the 100 Hz
  * ticks the kernel reports). The JVM is started with a fixed set of
  * compiler threads (`-XX:-UseDynamicNumberOfCompilerThreads`), so the
  * threads found at start-up are all there will be. Reads 0 where there
  * is no `/proc`.
  */
object JitCpu {
  private val TicksPerS = 100.0
  private val task = new File("/proc/self/task")

  private def stat(tid: String): Option[(String, Array[String])] =
    Try(new String(java.nio.file.Files.readAllBytes(
      new File(task, s"$tid/stat").toPath), "US-ASCII")).toOption.map { s =>
      // "tid (comm) state ..." where comm may itself hold spaces
      val close = s.lastIndexOf(')')
      (s.substring(s.indexOf('(') + 1, close),
        s.substring(close + 2).trim.split(' '))
    }

  private lazy val compilerTids: Seq[String] =
    Option(task.list).fold(Seq.empty[String])(_.toSeq).filter { tid =>
      stat(tid).exists { case (comm, _) =>
        comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
      }
    }

  /** Seconds of CPU the compiler threads have used so far. */
  def seconds(): Double = compilerTids.iterator.map { tid =>
    // fields after the comm start at field 3 (state); utime and stime
    // are fields 14 and 15
    stat(tid).fold(0L) { case (_, f) => f(11).toLong + f(12).toLong }
  }.sum / TicksPerS
}

/** What every workload and probe shares: the Spark session, the listener,
  * the run's work directory, and the request timer.
  */
final class Ctx(val spark: SparkSession, val tap: Tap, val work: File,
                val seed: Long) {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var fresh = 0

  def sc = spark.sparkContext
  def cpuNs(): Long = os.getProcessCpuTime
  /** JVM-wide collector time; in local mode the whole Spark application
    * shares one JVM, so this is the GC the whole job caused.
    */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.stream
    .mapToLong(b => math.max(b.getCollectionTime, 0L)).sum

  /** A path under the work directory, created anew (emptied if present). */
  def dir(name: String): String = {
    val d = new File(work, name)
    rm(d.getPath)
    d.mkdirs()
    d.getPath
  }

  /** A not-yet-existing path under the work directory. */
  def freshPath(prefix: String): String = {
    fresh += 1
    new File(work, s"$prefix-$fresh").getPath
  }

  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go))
      f.delete(): Unit
    }
    go(new File(path))
  }

  /** Bytes of the data files under `path` (checksums and markers excluded). */
  def dataBytes(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(go).sum)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    go(new File(path))
  }

  /** Times one call into the program. Listener counters are reset before
    * and collected after the call when the run is traced.
    */
  def request[T](body: => T): (Try[T], Timing) = {
    val f0 = tap.failures(sc)
    if (tap.detailed) tap.take(sc)
    val j0 = JitCpu.seconds(); val g0 = gcMs(); val p0 = cpuNs()
    val t0 = System.nanoTime()
    val r = Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val process = (cpuNs() - p0) / 1e9
    val gc = (gcMs() - g0) / 1e3
    val jit = JitCpu.seconds() - j0
    val f1 = tap.failures(sc)
    val counters = if (tap.detailed) tap.take(sc) else Counters()
    r.failed.foreach(e => Errors.note(s"request failed: $e"))
    (r, Timing(wall, process - jit, jit, gc, f1 - f0, counters))
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** First few failure messages of the run, reported in the result file. */
object Errors {
  private val seen = scala.collection.mutable.ArrayBuffer.empty[String]
  def note(msg: String): Unit = synchronized {
    System.err.println(s"[perfbench] $msg")
    if (seen.size < 20) seen += msg
  }
  def all: Seq[String] = synchronized(seen.toList)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile). With fewer than 20 samples that percentile
    * would sit below the median, so the median is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val idx = s.size - 11
    if (idx < (s.size - 1) / 2) (median(s), 50.0)
    else (s(idx), 100.0 * (idx + 1) / s.size)
  }
}

/** Order-insensitive row comparison. Values are rendered canonically
  * (floating point to nine significant digits, the tolerance the repo's
  * DuckDB checker applies), and two row sets are compared as multisets.
  */
object Canon {
  def row(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  def value(v: Any): String = v match {
    case null => "<null>"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case r: Row => "{" + row(r) + "}"
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** Rows present in one multiset and not the other, counted both ways. */
  def diff(a: Iterable[String], b: Iterable[String]): Long = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    a.foreach(k => m.merge(k, 1L, (x, y) => x + y))
    b.foreach(k => m.merge(k, -1L, (x, y) => x + y))
    var n = 0L
    m.values.forEach(v => n += math.abs(v))
    n
  }
}
