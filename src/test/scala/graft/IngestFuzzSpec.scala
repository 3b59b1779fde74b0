package graft

import graft.extract.Codecs
import graft.sources.RawFiles
import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.scalatest.funsuite.AnyFunSuite

/** Unified ingest-ROUTING fuzz: every suffix the classifier knows,
  * driven through [[graft.sources.RawFiles.decodeAny]] (the one
  * definition batch and streaming share) with hostile payloads. The
  * per-extractor suites each storm their own parser; this suite storms
  * the DISPATCH layer —
  * suffix routing, content-magic reroutes, compression inner-extension
  * resolution, container fan-out — where a payload of format A under
  * the suffix of format B must degrade (possibly to zero docs), never
  * throw, hang, or mojibake into the wrong decoder.
  *
  * Three payload classes per suffix, all deterministic (LCG seeds):
  *  1. pure random bytes (incl. empty and 1-byte);
  *  2. CROSS-MAGIC: a genuine payload of a *different* format under
  *     this suffix (zip-under-.txt, pdf-under-.xls, eml-under-.md …);
  *  3. TRUNCATIONS and single-byte mutations of a genuine payload of
  *     a matching generator where one exists.
  * Every call's output, one pass over each file generator, and the
  * bytes behind every in-file media ref that pass mints are pinned by
  * the ingest golden ([[IngestGolden]]).
  */
class IngestFuzzSpec extends AnyFunSuite {

  private def pinned(cls: String)(run: IngestGolden.Ledger => Unit): Unit = {
    val l = new IngestGolden.Ledger
    run(l)
    val want = IngestGolden.expected(cls)
    assert(want.nonEmpty, s"no golden rows for $cls")
    val moved = l.lines.diff(want) ++ want.diff(l.lines).map("golden: " + _)
    assert(moved.isEmpty, moved.mkString("\n", "\n", ""))
  }

  test("decodeAny never throws: random bytes under every suffix") {
    pinned("random")(IngestGolden.random)
  }

  test("decodeAny never throws: cross-magic payloads under every suffix") {
    pinned("cross")(IngestGolden.cross)
  }

  test("decodeAny never throws: truncations and mutations of genuine payloads") {
    pinned("trunc")(IngestGolden.truncations)
  }

  test("decodeAny output of every file generator matches the ingest golden") {
    pinned("gen")(IngestGolden.generated)
  }

  test("media byte-fetch of every generator's in-file refs matches the ingest golden") {
    pinned("fetch")(IngestGolden.fetched)
  }

  /** `n` zero bytes in 64 KiB slices: a bomb body is never held whole. */
  private def zeros(o: OutputStream, n: Long): Unit = {
    val slice = new Array[Byte](1 << 16)
    var left = n
    while (left > 0) {
      val k = math.min(left, slice.length.toLong).toInt
      o.write(slice, 0, k); left -= k
    }
  }

  /** What `body` writes, through the compressor `wrap`. */
  private def packed(wrap: OutputStream => OutputStream)(
      body: OutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val o = wrap(bos)
    body(o); o.close()
    bos.toByteArray
  }

  private def zip(members: (String, OutputStream => Unit)*): Array[Byte] =
    packed(identity) { bos =>
      val z = new java.util.zip.ZipOutputStream(bos)
      members.foreach { case (name, body) =>
        z.putNextEntry(new java.util.zip.ZipEntry(name)); body(z); z.closeEntry()
      }
      z.finish()
    }

  /** A one-page PDF whose content stream is `data` under `filter`. */
  private def pdf(filter: String, data: Array[Byte]): Array[Byte] = {
    def obj(n: Int, d: String) = s"$n 0 obj\n$d\nendobj\n"
    ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length ${data.length} /Filter /$filter >>\nstream\n")
      .getBytes(ISO_8859_1) ++ data ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(ISO_8859_1)
  }

  /** RunLengthDecode of `head` (at most 128 bytes) then `n` zeros. */
  private def runLength(head: Array[Byte], n: Long): Array[Byte] =
    packed(identity) { o =>
      o.write(head.length - 1); o.write(head)
      var left = n
      while (left > 0) {
        val k = math.min(left, 128L).toInt
        o.write(257 - k); o.write(0); left -= k
      }
      o.write(128)
    }

  /** LZWDecode (EarlyChange 1) of `head` as literal codes, then a table
    * clear and at least `n` zeros: code 0 is one zero, each next code
    * is the entry the decoder is learning (code k = k−256 zeros), and
    * once the table is full code 4095 repeats.
    */
  private def lzw(head: Array[Byte], n: Long): Array[Byte] =
    packed(identity) { o =>
      var (buf, bits, width, next, prev) = (0L, 0, 9, 258, false)
      def put(code: Int): Unit = {
        buf = (buf << width) | code; bits += width
        while (bits >= 8) { o.write((buf >> (bits - 8)).toInt); bits -= 8 }
      }
      def emit(code: Int): Unit = { // a data code, learned as the decoder does
        put(code)
        if (prev && next < 4096) {
          next += 1
          if (next + 1 >= (1 << width) && width < 12) width += 1
        }
        prev = true
      }
      head.foreach(b => emit(b & 0xff))
      put(256); width = 9; next = 258; prev = false
      var left = n
      while (left > 0) {
        val k = if (prev) math.min(next, 4095) else 0
        emit(k); left -= (if (k == 0) 1 else k - 256)
      }
      put(257)
      if (bits > 0) o.write((buf << (8 - bits)).toInt)
    }

  test("a stream inflating past Codecs.MaxInflated is rejected whole; its neighbours survive") {
    val past = Codecs.MaxInflated.toLong + 1
    def text(s: String): OutputStream => Unit = _.write(s.getBytes(UTF_8))
    val md = text("# Kept\n\nA healthy member next to a bomb.\n")
    val (open, close) = ("<w:document><w:body><w:p><w:t>x", "</w:t></w:p>")
    val ops = "BT /F1 12 Tf 72 700 Td (bomb) Tj ET\n".getBytes(ISO_8859_1)
    def flate(body: OutputStream => Unit) =
      packed(new java.util.zip.DeflaterOutputStream(_))(body)
    def decode(name: String, bytes: Array[Byte]) =
      RawFiles.decodeAny(name, bytes, "")
    def noRuns(name: String) = decode(name, pdf("FlateDecode", flate(_ => ())))
    // (file, payload inflating to n bytes, the docs a bomb must give)
    val cases: Seq[(String, Long => Array[Byte], Seq[core.InputDoc])] = Seq(
      ("notes.txt.gz", n => packed(new java.util.zip.GZIPOutputStream(_))(
        zeros(_, n)), Nil),
      ("notes.txt.zst", n => packed(new org.apache.commons.compress
        .compressors.zstandard.ZstdCompressorOutputStream(_))(zeros(_, n)),
        Nil),
      ("dump.zip", n => zip("bomb.txt" -> (zeros(_, n)), "kept.md" -> md),
        decode("dump.zip", zip("kept.md" -> md))),
      ("report.docx", n => zip(
        "[Content_Types].xml" -> text("<Types/>"),
        "word/document.xml" -> { o =>
          text(open)(o); zeros(o, n - open.length - close.length)
          text(close)(o) }), Nil),
      ("scan.pdf", n => pdf("FlateDecode", flate { o =>
        o.write(ops); zeros(o, n - ops.length) }), noRuns("scan.pdf")),
      ("lzw.pdf", n => pdf("LZWDecode", lzw(ops, n - ops.length)),
        noRuns("lzw.pdf")),
      ("rle.pdf", n => pdf("RunLengthDecode", runLength(ops, n - ops.length)),
        noRuns("rle.pdf")))
    cases.foreach { case (name, payload, want) =>
      assert(decode(name, payload(4096)) != want, s"$name: control")
      assert(decode(name, payload(past)) == want, name)
    }
    assert(noRuns("scan.pdf").flatMap(_.spans).map(_.text).mkString.startsWith("PG "),
      "the bomb page stays, with no runs")
  }
}
