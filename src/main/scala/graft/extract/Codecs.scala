package graft.extract

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException,
  InputStream, OutputStream}
import scala.util.control.NonFatal

/** Every inflation ingest does, in one place: the whole-stream codecs —
  * gzip (`.gz`, `.warc.gz` record members, `.tar.gz` bodies), zstd
  * (`.zst` — the Dolma/RedPajama shard codec), xz, bzip2 (both
  * long-lived archive-dump codecs), LZ4 frame (`.lz4` — the fast-path
  * shard codec) and framed Snappy (`.sz`/`.snappy` — the
  * Hadoop-ecosystem at-rest codec) — plus PDF FlateDecode (zlib), zip
  * members (OOXML/ODF/EPUB parts and `.zip` archives) and 7z members.
  * Backed by `java.util.zip` and the commons-compress + zstd-jni + xz
  * jars already on Spark's runtime classpath — no new dependency.
  *
  * All of them read through ONE drain with ONE bound: a stream whose
  * inflated size passes [[MaxInflated]] is rejected whole — nothing
  * comes back for it, the same as a stream corrupt at byte 0 — never
  * truncated. A zip or 7z walk skips an over-cap member and keeps
  * walking. The PDF filters that decode by writing rather than
  * streaming (LZW, RunLength) write through the same bound
  * ([[capped]]). The cap is an eighth of this JVM's max heap (256 MiB
  * on a 2 GiB heap, 1 GiB on 8 GiB; on Spark, the executor's), clamped
  * to the ~2 GiB array limit: the buffer grows by doubling and is
  * copied once on return, so a stream at the cap holds at most three
  * times the cap — 3/8 of the heap — while it is drained, leaving the
  * rest to the caller's decode of what comes back.
  *
  * Corrupt input, per caller: the codecs and gzip keep the bytes
  * decoded so far (possibly empty); a zip walk keeps the members read
  * before a zip-format error and says whether one happened
  * ([[zipEntries]]); a PDF Flate stream that is corrupt reads as empty
  * while a truncated one keeps its prefix ([[zlib]]); a 7z walk stops at
  * the first member whose read fails.
  *
  * Scale: one compressed file = one scan row, inflated inside the
  * ingest task; the cap bounds what any one stream can hold, so a
  * shard, archive or segment inflating past an eighth of the task's
  * heap gives no docs.
  */
object Codecs {

  /** Inflated bytes one stream may yield; past it the stream is
    * rejected whole.
    */
  val MaxInflated: Int =
    math.min(Runtime.getRuntime.maxMemory / 8, Int.MaxValue - 8).toInt

  /** The one bound: a byte sink that throws [[Over]] rather than grow
    * past [[MaxInflated]].
    */
  private final class Sink extends ByteArrayOutputStream {
    override def write(b: Int): Unit = {
      if (count >= MaxInflated) throw Over
      super.write(b)
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (count > MaxInflated - len) throw Over
      super.write(b, off, len)
    }
  }
  private object Over extends scala.util.control.ControlThrowable

  /** One member of a zip, tar or 7z walk. */
  final case class Entry(name: String, body: Array[Byte])

  /** Zip local-header magic `PK\x03\x04`. */
  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4

  /** gzip magic 1F 8B. */
  def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
      (bytes(1) & 0xff) == 0x8b

  /** zstd frame magic 28 B5 2F FD. */
  def isZstd(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
      (bytes(1) & 0xff) == 0xB5 && (bytes(2) & 0xff) == 0x2F &&
      (bytes(3) & 0xff) == 0xFD

  /** xz magic FD '7zXZ' 00. */
  def isXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && (bytes(0) & 0xff) == 0xFD && bytes(1) == '7' &&
      bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' &&
      bytes(5) == 0

  /** bzip2 magic 'BZh' + level digit. */
  def isBz2(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'B' && bytes(1) == 'Z' &&
      bytes(2) == 'h' && bytes(3) >= '1' && bytes(3) <= '9'

  /** LZ4 frame magic 04 22 4D 18. */
  def isLz4(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0x04 &&
      (bytes(1) & 0xff) == 0x22 && (bytes(2) & 0xff) == 0x4D &&
      (bytes(3) & 0xff) == 0x18

  /** Framed-snappy stream identifier FF 06 00 00 'sNaPpY'. */
  def isSnappy(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && (bytes(0) & 0xff) == 0xFF &&
      bytes(1) == 6 && bytes(2) == 0 && bytes(3) == 0 &&
      bytes(4) == 's' && bytes(5) == 'N' && bytes(6) == 'a' &&
      bytes(7) == 'P' && bytes(8) == 'p' && bytes(9) == 'Y'

  /** The one drain: `in` read to its end into one array. Past
    * [[MaxInflated]] → None. A read error keeps the bytes so far iff
    * `keepPrefix` accepts it, else propagates. Neither opens nor closes
    * `in`.
    */
  private def drain(in: InputStream,
                    keepPrefix: Throwable => Boolean): Option[Array[Byte]] = {
    val out = new Sink
    try {
      try {
        val buf = new Array[Byte](64 * 1024)
        var k = in.read(buf)
        while (k > 0) { out.write(buf, 0, k); k = in.read(buf) }
      } catch { case NonFatal(e) if keepPrefix(e) => () }
      Some(out.toByteArray)
    } catch { case Over => None }
  }

  /** What a decoder that writes rather than streams (PDF LZWDecode,
    * RunLengthDecode) writes to its sink, under the same cap: past it
    * → empty.
    */
  def capped(decode: OutputStream => Unit): Array[Byte] = {
    val out = new Sink
    try { decode(out); out.toByteArray } catch { case Over => Array.emptyByteArray }
  }

  /** A whole stream through the drain; an open error (a bad header)
    * counts as a read error at byte 0.
    */
  private def stream(mk: => InputStream,
                     keepPrefix: Throwable => Boolean): Option[Array[Byte]] =
    try {
      val in = mk
      try drain(in, keepPrefix) finally in.close()
    } catch { case NonFatal(e) if keepPrefix(e) => Some(Array.emptyByteArray) }

  /** Inflate one whole stream by algorithm ("gz" | "zst" | "xz" |
    * "bz2" | "lz4" | "sz"/"snappy"); concatenated members/frames are
    * read through. Corrupt framing → the bytes decoded so far; unknown
    * algo or over the cap → empty.
    */
  def inflate(algo: String, bytes: Array[Byte]): Array[Byte] = {
    import org.apache.commons.compress.compressors._
    val open: InputStream => InputStream = algo match {
      case "gz" => new java.util.zip.GZIPInputStream(_)
      case "zst" => new zstandard.ZstdCompressorInputStream(_)
      case "xz" => new xz.XZCompressorInputStream(_, true)
      case "bz2" => new bzip2.BZip2CompressorInputStream(_, true)
      case "lz4" => new lz4.FramedLZ4CompressorInputStream(_, true)
      case "sz" | "snappy" => new snappy.FramedSnappyCompressorInputStream(_)
      case _ => return Array.emptyByteArray
    }
    stream(open(new ByteArrayInputStream(bytes)), _ => true)
      .getOrElse(Array.emptyByteArray)
  }

  /** The first `n` inflated bytes of a gzip payload — a content sniff,
    * so no drain: empty without the gzip magic or when the head does
    * not decode.
    */
  def gunzipHead(bytes: Array[Byte], n: Int): Array[Byte] =
    if (!isGzip(bytes)) Array.emptyByteArray
    else try {
      val in = new java.util.zip.GZIPInputStream(new ByteArrayInputStream(bytes))
      try in.readNBytes(n) finally in.close()
    } catch { case NonFatal(_) => Array.emptyByteArray }

  /** A zlib (PDF FlateDecode) stream: truncated keeps the bytes decoded
    * so far; corrupt, needing a preset dictionary, or over the cap →
    * empty.
    */
  def zlib(bytes: Array[Byte]): Array[Byte] =
    try stream(new java.util.zip.InflaterInputStream(
        new ByteArrayInputStream(bytes)), _.isInstanceOf[EOFException])
      .getOrElse(Array.emptyByteArray)
    catch { case NonFatal(_) => Array.emptyByteArray }

  /** The one zip walk: local headers in order via `ZipInputStream` (no
    * central-directory seek, so a truncated tail keeps the members
    * already read). Directories skip; of same-named members only the
    * first is read; an over-cap member is skipped and the walk goes on.
    * `only` reads just that name and stops at it. Returns the members
    * read and whether the walk ended without a zip-format error.
    */
  private def walkZip(bytes: Array[Byte],
                      only: Option[String]): (Vector[Entry], Boolean) = {
    val out = Vector.newBuilder[Entry]
    val seen = scala.collection.mutable.Set.empty[String]
    val clean = try {
      val z = new java.util.zip.ZipInputStream(new ByteArrayInputStream(bytes))
      try {
        var e = z.getNextEntry
        while (e != null) {
          val name = e.getName
          if (!e.isDirectory && only.forall(_ == name) && seen.add(name))
            drain(z, _ => false).foreach(b => out += Entry(name, b))
          e = if (only.isDefined && seen.nonEmpty) null else z.getNextEntry
        }
      } finally z.close()
      true
    } catch { case NonFatal(_) => false }
    (out.result(), clean)
  }

  /** The first zip member named `name` (directories never match); None
    * when absent, over the cap, or at or behind a zip-format error.
    */
  def zipPart(bytes: Array[Byte], name: String): Option[Array[Byte]] =
    walkZip(bytes, Some(name))._1.headOption.map(_.body)

  /** Every zip member in local-header order, and whether the walk ended
    * without a zip-format error (the members before one are kept).
    */
  def zipEntries(bytes: Array[Byte]): (Vector[Entry], Boolean) =
    walkZip(bytes, None)

  /** 7z members in archive order (commons-compress `SevenZFile`,
    * LZMA/LZMA2, solid archives decoded sequentially): directories
    * skip, the first of same-named members wins, an over-cap member is
    * skipped. The walk stops at the first member whose read fails — a
    * solid stream is poisoned past it, encrypted entries fail — keeping
    * the members already read.
    */
  def sevenZEntries(bytes: Array[Byte]): Vector[Entry] = {
    import org.apache.commons.compress.archivers.sevenz.SevenZFile
    val out = Vector.newBuilder[Entry]
    val seen = scala.collection.mutable.Set.empty[String]
    try {
      val f = SevenZFile.builder().setSeekableByteChannel(
          new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(
            bytes)).get()
      try {
        val member = new InputStream { // the current entry's bytes
          def read(): Int = f.read()
          override def read(b: Array[Byte], off: Int, len: Int): Int =
            f.read(b, off, len)
        }
        var e = f.getNextEntry
        while (e != null) {
          if (!e.isDirectory && seen.add(e.getName))
            drain(member, _ => false).foreach(b => out += Entry(e.getName, b))
          e = f.getNextEntry
        }
      } finally f.close()
    } catch { case NonFatal(_) => () }
    out.result()
  }
}
