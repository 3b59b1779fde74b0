package graft

import graft.extract.FrontEnds
import graft.sources.RawFiles
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The ingest golden: every [[RawFiles.decodeAny]] call the routing fuzz
  * makes, plus one pass over each file generator, digested per
  * (class, generator-or-suffix) as a SHA-256 of the
  * `(doc_id, kind, text, media_ref, offset)` sequence the calls emit.
  * The `fetch` class digests the byte-fetch half: for every in-file
  * media span the generator pass mints, the bytes
  * [[RawFiles.mediaPayload]] returns for it (or a marker for None).
  * A routing refactor that changes no output keeps every row; a
  * deliberate behaviour change shows up as the rows it moves.
  *
  * Regenerate (prints the TSV; the committed copy is
  * `src/test/resources/ingest_golden.tsv`):
  * `sbt "Test/runMain graft.IngestGolden src/test/resources/ingest_golden.tsv"`
  */
object IngestGolden {

  /** Accumulates per-(class, key) digests in call order. */
  final class Ledger {
    private val rows =
      scala.collection.mutable.LinkedHashMap.empty[(String, String),
        (MessageDigest, Array[Long])]

    private def row(cls: String, key: String) =
      rows.getOrElseUpdate((cls, key),
        (MessageDigest.getInstance("SHA-256"), Array(0L, 0L)))

    private def digest(md: MessageDigest, s: String): Unit = {
      if (s == null) md.update(1: Byte) else md.update(s.getBytes(UTF_8))
      md.update(0: Byte)
    }

    def decode(cls: String, key: String, path: String,
               bytes: Array[Byte]): Unit = {
      val docs = RawFiles.decodeAny(path, bytes, "")
      val (md, counts) = row(cls, key)
      def put(s: String): Unit = digest(md, s)
      put(s"call:$path")
      docs.foreach { d =>
        counts(0) += 1
        put(d.doc_id)
        d.spans.foreach { s =>
          counts(1) += 1
          put(s.kind); put(s.text); put(s.media_ref); put(s.offset.toString)
        }
      }
    }

    /** Fetch every in-file media ref (`<path>#…`) the file's docs mint
      * against the file's bytes under its [[routedKind]]; the row counts
      * refs and fetched payloads.
      */
    def fetch(key: String, path: String, bytes: Array[Byte]): Unit = {
      val kind = routedKind(path, bytes)
      val (md, counts) = row("fetch", key)
      for {
        d <- RawFiles.decodeAny(path, bytes, "")
        s <- d.spans if s.media_ref != null && s.media_ref.startsWith(path + "#")
      } {
        counts(0) += 1
        digest(md, s"$kind:${s.media_ref}")
        RawFiles.mediaPayload(kind, bytes, s.media_ref) match {
          case Some(b) =>
            counts(1) += 1
            digest(md, s"bytes:${b.length}"); md.update(b)
          case None => digest(md, "none")
        }
      }
    }

    /** `class \t key \t docs \t spans \t sha256` lines (for `fetch`:
      * refs and fetched payloads in place of docs and spans).
      */
    def lines: Vector[String] = rows.toVector.map {
      case ((cls, key), (md, c)) =>
        s"$cls\t$key\t${c(0)}\t${c(1)}\t" +
          md.clone().asInstanceOf[MessageDigest].digest()
            .map(b => f"${b & 0xff}%02x").mkString
    }
  }

  val suffixes: Seq[String] = Seq(
    "pdf", "html", "htm", "txt", "md", "docx", "epub", "xlsx", "pptx",
    "rtf", "odt", "ods", "odp", "tex", "eml", "mbox", "doc", "xls",
    "ppt", "ipynb", "xml", "rss", "atom", "srt", "vtt", "csv", "tsv",
    "json", "jsonl", "ndjson", "warc", "zip", "tar", "tgz", "7z",
    "gz", "zst", "xz", "bz2", "lz4", "sz",
    "png", "jpg", "mp3", "mp4", "bin" /* unknown suffix */)

  // genuine payloads from the generators (format varies with index)
  def genuine(k: Int): Array[Byte] = (k % 6) match {
    case 0 => graft.gen.MixedGen.fileBytes(k % 44)        // 22 variants
    case 1 => graft.gen.JsonlGen.fileBytes(k % 20)        // 10 variants
    case 2 => graft.gen.ArchiveGen.fileBytes(k % 8)       // zip/tar/gz/7z
    case 3 => graft.gen.WarcGen.fileBytes(k % 6)
    case 4 => graft.gen.DocxGen.fileBytes(k % 8)
    case _ => graft.gen.EmlGen.fileBytes(k % 12)
  }

  /** Pure random bytes (incl. empty and 1-byte) under every suffix,
    * and again behind `.gz` through the compression router.
    */
  def random(l: Ledger): Unit = {
    var seed = 424242
    def next(n: Int): Int = {
      seed = seed * 1103515245 + 12347; math.abs(seed) % n
    }
    suffixes.foreach { sfx =>
      Seq(0, 1, 7, 64, 700).foreach { len =>
        val b = Array.tabulate[Byte](len)(_ => next(256).toByte)
        l.decode("random", sfx, s"fuzz.$sfx", b)
        l.decode("random", sfx, s"fuzz.$sfx.gz", b)
      }
    }
  }

  /** A genuine payload of a different format under every suffix. */
  def cross(l: Ledger): Unit =
    suffixes.zipWithIndex.foreach { case (sfx, i) =>
      (0 until 4).foreach { k =>
        l.decode("cross", sfx, s"cross_$k.$sfx", genuine(i + k * 11))
      }
    }

  /** Truncations at hostile offsets and single-byte mutation storms of
    * genuine payloads.
    */
  def truncations(l: Ledger): Unit = {
    var seed = 31337
    def next(n: Int): Int = {
      seed = seed * 1103515245 + 12347; math.abs(seed) % n
    }
    (0 until 48).foreach { k =>
      val whole = genuine(k)
      val sfx = suffixes(k % suffixes.length)
      val name = s"t_$k.$sfx"
      Seq(1, 2, 4, whole.length / 3, whole.length / 2,
          math.max(1, whole.length - 3)).foreach { cut =>
        l.decode("trunc", sfx, name, whole.take(math.min(cut, whole.length)))
      }
      (0 until 6).foreach { _ =>
        val b = whole.clone()
        (0 until 1 + next(24)).foreach(_ => b(next(b.length)) = next(256).toByte)
        l.decode("trunc", sfx, name, b)
      }
    }
  }

  /** Every file generator, under its own names. */
  val generators: Seq[(String, Int => String, Int => Array[Byte])] = {
    import graft.gen._
    Seq(
      ("ArchiveGen", ArchiveGen.fileName _, ArchiveGen.fileBytes _),
      ("AttachGen", AttachGen.fileName _, AttachGen.fileBytes _),
      ("CharsetGen", CharsetGen.fileName _, CharsetGen.fileBytes _),
      ("CrossGen", // eight renditions per article
        i => CrossGen.fileName(i / 8, CrossGen.formats(i % 8)),
        i => CrossGen.bytes(i / 8, CrossGen.formats(i % 8))),
      ("CsvGen", CsvGen.fileName _, CsvGen.fileBytes _),
      ("DocGen", DocGen.fileName _, DocGen.fileBytes _),
      ("DocxGen", DocxGen.fileName _, DocxGen.fileBytes _),
      ("EmlGen", EmlGen.fileName _, EmlGen.fileBytes _),
      ("EpubGen", EpubGen.fileName _, EpubGen.fileBytes _),
      ("FeedGen", FeedGen.fileName _, FeedGen.fileBytes _),
      ("FormGen", FormGen.fileName _, FormGen.fileBytes _),
      ("HtmlTableGen", HtmlTableGen.fileName _, HtmlTableGen.fileBytes _),
      ("JsonlGen", JsonlGen.fileName _, JsonlGen.fileBytes _),
      ("LinkGen", LinkGen.fileName _, LinkGen.fileBytes _),
      ("MixedGen", MixedGen.fileName _, MixedGen.fileBytes _),
      ("NbGen", NbGen.fileName _, NbGen.fileBytes _),
      ("OdtGen", OdtGen.fileName _, OdtGen.fileBytes _),
      ("PptGen", PptGen.fileName _, PptGen.fileBytes _),
      ("PptxGen", PptxGen.fileName _, PptxGen.fileBytes _),
      ("RtfGen", RtfGen.fileName _, RtfGen.fileBytes _),
      ("SubGen", SubGen.fileName _, SubGen.fileBytes _),
      ("TexGen", TexGen.fileName _, TexGen.fileBytes _),
      ("WarcGen", WarcGen.fileName _, WarcGen.fileBytes _),
      ("XlsGen", XlsGen.fileName _, XlsGen.fileBytes _),
      ("XlsxGen", XlsxGen.fileName _, XlsxGen.fileBytes _),
      ("XmlGen", XmlGen.fileName _, XmlGen.fileBytes _))
  }

  /** Files per generator: covers every generator's variant cycle (the
    * longest, MixedGen's, is 22).
    */
  val PerGenerator = 24

  def generated(l: Ledger): Unit =
    generators.foreach { case (g, name, bytes) =>
      (0 until PerGenerator).foreach(i =>
        l.decode("gen", g, name(i), bytes(i)))
    }

  /** The kind a top-level file's in-file media refs are fetched under:
    * the [[RawFiles.decodeAny]] routing — `.warc.gz`/`.tar.gz` by their
    * double suffix, container suffixes as themselves, else the content
    * sniff over the suffix kind.
    */
  def routedKind(path: String, bytes: Array[Byte]): String = {
    val lp = path.toLowerCase
    if (lp.endsWith(".warc.gz")) "warc"
    else if (lp.endsWith(".tar.gz")) "tar"
    else {
      val k = FrontEnds.TextExt.getOrElse(FrontEnds.ext(lp), "")
      if (Set("warc", "zip", "tar", "eml", "mbox")(k)) k
      else FrontEnds.sniff(bytes).fold(k)(_.kind)
    }
  }

  /** The byte-fetch half of the generator pass. */
  def fetched(l: Ledger): Unit =
    generators.foreach { case (g, name, bytes) =>
      (0 until PerGenerator).foreach(i => l.fetch(g, name(i), bytes(i)))
    }

  def all(l: Ledger): Unit = {
    random(l); cross(l); truncations(l); generated(l); fetched(l)
  }

  /** The committed golden rows of one class. */
  def expected(cls: String): Vector[String] =
    scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/ingest_golden.tsv"), "UTF-8")
      .getLines().filter(_.startsWith(cls + "\t")).toVector

  def main(args: Array[String]): Unit = {
    val l = new Ledger
    all(l)
    val out = l.lines.mkString("", "\n", "\n")
    if (args.isEmpty) print(out)
    else java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      out.getBytes(UTF_8))
  }
}
