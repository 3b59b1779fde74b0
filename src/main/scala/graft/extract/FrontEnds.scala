package graft.extract

import graft.core.Span

/** One item a document front end decodes, in document order. */
sealed trait Item

/** A text block, verbatim. */
final case class Text(text: String) extends Item

/** A media occurrence by reference. `inFile`: the ref names a part of
  * the decoded file itself, so its span's media_ref is `<path>#<ref>`
  * and [[FrontEnds.fetch]] resolves it against the file's bytes;
  * otherwise the ref is external and passes verbatim.
  */
final case class Media(kind: String, ref: String, inFile: Boolean)
    extends Item

object Media {
  private val Scheme = "(?i)^(https?|data):.*".r

  /** A package part ref: in-file unless it carries an http(s)/data
    * scheme (an external link).
    */
  def unlessScheme(kind: String, ref: String): Media =
    Media(kind, ref, !Scheme.matches(ref))
}

/** The ingest front-end table: which front end decodes a file, how its
  * items become spans, and how a media span's bytes are fetched back.
  * [[graft.sources.RawFiles]] routes every file, archive member, WARC
  * record and attachment through it, and [[EmlExtractor]] reads its
  * child-document rule.
  *
  * Routing a payload under a suffix kind ([[TextExt]]):
  *  1. the ONE content sniff — the first binary row whose magic claims
  *     the payload wins, whatever the suffix said (a crawler's `.txt`
  *     that is really a PDF, DOCX served as `.html`): pdf, docx, epub,
  *     xlsx, pptx, rtf, odt, then the CFB family doc/xls/ppt;
  *  2. a plain-text suffix is refined by the tex and subtitle sniffs;
  *  3. a text-family suffix with its own row (md, tex, subs, csv, xml,
  *     json, ipynb) decodes through that row;
  *  4. anything else is ONE span of the whole decoded payload — see
  *     [[plain]].
  * Each row's decoder is the matching extractor's `items`; the in-file
  * or external decision for media is that extractor's own ([[Media]]).
  * Container kinds (warc, zip/tar, jsonl, json, feed, eml, mbox and the
  * compression suffixes) fan out at the document level in RawFiles;
  * the table holds only their byte-fetches.
  */
object FrontEnds {

  /** Text-kind suffixes: the file decodes through a front end. */
  val TextExt: Map[String, String] = Map(
    "pdf" -> "pdf", "html" -> "html", "htm" -> "html",
    "txt" -> "text", "text" -> "text", "docx" -> "docx",
    "md" -> "md", "markdown" -> "md", "epub" -> "epub",
    "xlsx" -> "xlsx", "pptx" -> "pptx", "rtf" -> "rtf", "odt" -> "odt",
    "doc" -> "doc", "dot" -> "doc", "xls" -> "xls", "xlt" -> "xls",
    "ppt" -> "ppt", "pps" -> "ppt", "pot" -> "ppt",
    // macro/template OOXML variants share the package structure
    "docm" -> "docx", "dotx" -> "docx", "dotm" -> "docx",
    "xlsm" -> "xlsx", "xltx" -> "xlsx",
    "pptm" -> "pptx", "ppsx" -> "pptx", "potx" -> "pptx",
    "ods" -> "odt", "odp" -> "odt",
    "tex" -> "tex", "latex" -> "tex", "srt" -> "subs", "vtt" -> "subs",
    "csv" -> "csv", "tsv" -> "csv",
    "warc" -> "warc", "zip" -> "zip", "tar" -> "tar", "tgz" -> "tar",
    "7z" -> "zip", // archive-dump dispatch; ArchiveExtractor routes by magic
    "jsonl" -> "jsonl", "ndjson" -> "jsonl", "ipynb" -> "ipynb",
    "json" -> "json",
    "eml" -> "eml", "mbox" -> "mbox",
    "rss" -> "feed", "atom" -> "feed", "xml" -> "xml")

  /** Media suffixes: the file is one span by reference (its path). */
  val MediaExt: Map[String, String] = Map(
    "png" -> "image", "jpg" -> "image", "jpeg" -> "image", "gif" -> "image",
    "webp" -> "image", "tiff" -> "image", "tif" -> "image",
    "bmp" -> "image", "avif" -> "image", "ico" -> "image",
    "svg" -> "image", // vector decoration: media by reference, not text
    "mp3" -> "audio", "wav" -> "audio", "flac" -> "audio",
    "ogg" -> "audio", "m4a" -> "audio", "aac" -> "audio",
    "opus" -> "audio",
    "mp4" -> "video", "mkv" -> "video", "webm" -> "video",
    "avi" -> "video", "mov" -> "video", "m4v" -> "video",
    "mpg" -> "video", "mpeg" -> "video")

  /** Lower-cased suffix after the last dot, "" without one. */
  def ext(name: String): String = {
    val lp = name.toLowerCase
    val dot = lp.lastIndexOf('.')
    if (dot < 0) "" else lp.substring(dot + 1)
  }

  private val Containers =
    Set("warc", "zip", "tar", "jsonl", "eml", "mbox", "feed")

  /** The child-document rule — archive members, email attachments and
    * PDF embedded files alike: a child named with a text-kind suffix
    * routes to that front end; container kinds (warc, zip, tar, jsonl,
    * eml, mbox, feed — and `.tar.gz`/`.warc.gz`, whose `gz` is no text
    * kind) drop, so containers fan out one level only.
    */
  def childKind(name: String): Option[String] =
    TextExt.get(ext(name)).filterNot(Containers)

  type Fetch = (Array[Byte], String) => Option[Array[Byte]]

  /** One front end: its content magic, its decode of (path, payload,
    * transport charset) into spans, and the byte-fetch for the media
    * refs it mints (payload, full media_ref).
    */
  final case class FrontEnd(kind: String, sniff: Array[Byte] => Boolean,
      decode: (String, Array[Byte], String) => Vector[Span], fetch: Fetch)

  private val Never: Array[Byte] => Boolean = _ => false
  private val NoFetch: Fetch = (_, _) => None

  /** A row whose payload decodes to items. */
  private def row(kind: String, sniff: Array[Byte] => Boolean,
                  items: Array[Byte] => Vector[Item],
                  fetch: Fetch = NoFetch): FrontEnd =
    FrontEnd(kind, sniff, (path, b, _) => spans(path, items(b)), fetch)

  /** A text row: the payload is charset-decoded first. */
  private def textRow(kind: String, sniff: Array[Byte] => Boolean,
                      items: String => Vector[Item]): FrontEnd =
    FrontEnd(kind, sniff, (path, b, cs) =>
      spans(path, items(CharsetSniff.decode(b, html = false, cs))), NoFetch)

  /** Byte-fetch through the ref tail after the LAST `#`. */
  private def afterHash(f: Fetch): Fetch = (b, ref) => {
    val h = ref.lastIndexOf('#')
    if (h < 0) None else f(b, ref.substring(h + 1))
  }

  private def cfb(kind: String): Array[Byte] => Boolean =
    b => Cfb.isCfb(b) && Cfb.officeKind(b) == kind

  /** Genuine PDF: ONE "pdf" span holding the PG/TX interchange payload
    * plus one "image" span per embedded-image occurrence, media_ref
    * `<path>#img<seq>:obj<N>` (`…:inline` for BI…EI images, which have
    * no object identity) at offset seq+1 — content-stream order.
    */
  private def pdfSpans(path: String, b: Array[Byte],
                       cs: String): Vector[Span] = {
    val (pages, images) = RealPdf.parseDoc(b, 1)
    Span("pdf", RealPdf.toContentStream(pages), null, 0) +:
      images.map { im =>
        val tail = if (im.objNum > 0) s"obj${im.objNum}" else "inline"
        Span("image", null, s"$path#img${im.seq}:$tail", im.seq + 1)
      }
  }

  /** `…#img<seq>:obj<N>` → the codec-ready image bytes
    * ([[RealPdf.imageCodecBytes]]: DCT as its JPEG, rasters as PNG);
    * inline images carry no fetchable bytes.
    */
  private val pdfImage: Fetch = (b, ref) => {
    val h = ref.lastIndexOf("#img")
    val colon = if (h < 0) -1 else ref.indexOf(':', h)
    if (colon < 0 || !ref.startsWith("obj", colon + 1)) None
    else ref.substring(colon + 4).toIntOption
      .flatMap(n => RealPdf.imageCodecBytes(b, n))
  }

  /** Content-sniffed binaries in precedence order. */
  private val Sniffed: Vector[FrontEnd] = Vector(
    FrontEnd("pdf", RealPdf.isPdf, pdfSpans, pdfImage),
    row("docx", DocxExtractor.isDocx, DocxExtractor.items,
      afterHash(DocxExtractor.mediaPayload)),
    row("epub", EpubExtractor.isEpub, EpubExtractor.items,
      afterHash(EpubExtractor.mediaPayload)),
    // each non-empty worksheet's used range as one TSV block
    row("xlsx", XlsxExtractor.isXlsx, b => XlsxExtractor.sheets(b)
      .collect { case (_, tsv) if tsv.exists(!_.isWhitespace) => Text(tsv) }),
    row("pptx", PptxExtractor.isPptx, PptxExtractor.items,
      afterHash(PptxExtractor.mediaPayload)),
    row("rtf", RtfExtractor.isRtf, RtfExtractor.items,
      afterHash(RtfExtractor.mediaPayload)),
    row("odt", OdtExtractor.isOdt, OdtExtractor.items,
      afterHash(OdtExtractor.mediaPayload)),
    // an unrecognized CFB classifies as doc and decodes to nothing
    row("doc", cfb("doc"), DocExtractor.items,
      afterHash(DocExtractor.mediaPayload)),
    row("xls", cfb("xls"), XlsExtractor.items,
      afterHash(XlsExtractor.mediaPayload)),
    row("ppt", cfb("ppt"), PptExtractor.items,
      afterHash(PptExtractor.mediaPayload)))

  private val ipynb = row("ipynb", Never, IpynbExtractor.items,
    afterHash(IpynbExtractor.mediaPayload))

  private val xml = FrontEnd("xml", Never, (path, b, _) =>
    // a feed reaching here is a child (no entry fan-out): nothing
    if (FeedExtractor.isFeed(b)) Vector.empty
    else spans(path, XmlExtractor.blocks(b).map(Text)), NoFetch)

  /** Suffix-routed text rows; only a plain-text suffix consults their
    * sniffs (tex, subs).
    */
  private val Suffixed: Vector[FrontEnd] = Vector(
    textRow("tex", TexExtractor.isTex, TexExtractor.items),
    textRow("subs", SubtitleExtractor.isSubs,
      SubtitleExtractor.items(_).map(Text)),
    textRow("md", Never, MdExtractor.items),
    // the whole file is ONE TSV block; `.tsv` is tab-delimited, other
    // suffixes sniff their delimiter
    FrontEnd("csv", Never, (path, b, cs) => {
      val tsv = CsvExtractor.tsv(CharsetSniff.decode(b, html = false, cs),
        tabDelimited = path.toLowerCase.endsWith(".tsv"))
      spans(path, if (tsv.isEmpty) Vector.empty else Vector(Text(tsv)))
    }, NoFetch),
    xml,
    // whole-file JSON below the document level: a notebook-shaped
    // payload is a notebook, else the retained records' texts in order
    FrontEnd("json", Never, (path, b, cs) =>
      JsonlExtractor.routeJson(b) match {
        case Left(_) => ipynb.decode(path, b, cs)
        case Right(recs) => spans(path, recs.map(r => Text(r.text)))
      }, NoFetch),
    ipynb)

  private val BySuffix: Map[String, FrontEnd] =
    Suffixed.map(r => r.kind -> r).toMap + ("feed" -> xml)

  /** The one content sniff: the first binary row claiming `bytes`. */
  def sniff(bytes: Array[Byte]): Option[FrontEnd] =
    Sniffed.find(_.sniff(bytes))

  /** Decode one payload that arrived under suffix `kind` into its span
    * sequence; `path` prefixes the in-file media refs. The one decode
    * the batch directory reader and the streaming source share, so the
    * two ingestion paths cannot drift.
    */
  def decode(kind: String, path: String, bytes: Array[Byte],
             transportCharset: String = ""): Vector[Span] =
    sniff(bytes)
      .orElse(if (kind == "text") Suffixed.find(_.sniff(bytes)) else None)
      .orElse(BySuffix.get(kind)) match {
      case Some(fe) => fe.decode(path, bytes, transportCharset)
      case None => plain(kind, bytes, transportCharset)
    }

  /** No front end claims the payload: ONE span of its decoded text. A
    * synthetic `.pdf` content stream stays "pdf", html keeps its kind
    * (decoded with the meta prescan), a `.mbox` that is neither spool
    * nor message keeps "mbox"; a binary suffix without its magic (a
    * non-archive `.docx`) reads as "text".
    */
  private def plain(kind: String, bytes: Array[Byte],
                    transportCharset: String): Vector[Span] =
    Vector(Span(
      if (kind == "pdf" || kind == "html" || kind == "mbox") kind else "text",
      CharsetSniff.decode(bytes, html = kind == "html", transportCharset),
      null, 0))

  /** The one item → span mapping: offsets in item order, in-file media
    * refs addressed as `<path>#<ref>`.
    */
  def spans(path: String, items: Vector[Item]): Vector[Span] =
    items.zipWithIndex.map {
      case (Text(t), k) => Span("text", t, null, k)
      case (Media(mk, ref, inFile), k) =>
        Span(mk, null, if (inFile) s"$path#$ref" else ref, k)
    }

  /** Containers' byte-fetches: the ref names a member (`#<member>`,
    * after the FIRST `#`), a retained record (`#r<idx>` at the end) or
    * a message part (`#p<idx>:<name>`).
    */
  private val ContainerFetch: Map[String, Fetch] = {
    val member: Fetch = (b, ref) => {
      val h = ref.indexOf('#')
      if (h < 0) None
      else ArchiveExtractor.entryPayload(b, ref.substring(h + 1))
    }
    Map("zip" -> member, "tar" -> member,
      "warc" -> ((b, ref) => "#r(\\d+)$".r.findFirstMatchIn(ref)
        .flatMap(m => WarcExtractor.recordPayload(b, m.group(1).toInt))),
      "eml" -> ((b, ref) => {
        val h = ref.lastIndexOf("#p")
        if (h < 0) None else EmlExtractor.mediaPayload(b, ref.substring(h + 1))
      }))
  }

  private val FetchByKind: Map[String, Fetch] =
    (Sniffed ++ Suffixed).map(r => r.kind -> r.fetch).toMap ++ ContainerFetch

  /** The bytes behind a media span minted from a `kind` payload,
    * resolved against that ORIGINAL payload; None for refs it did not
    * mint.
    */
  def fetch(kind: String, bytes: Array[Byte],
            mediaRef: String): Option[Array[Byte]] =
    FetchByKind.get(kind).flatMap(_(bytes, mediaRef))
}
