package graft.sources

import graft.core.{InputDoc, Span}
import graft.extract.FrontEnds
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-directory ingestion: the reference's entry point is a stage
  * DIRECTORY of files it lists, suffix-filters, and feeds to the
  * extractor one by one (/root/reference/setup.sql:44-45,220-222);
  * this is its distributed analog over `spark.read.format("binaryFile")`
  * — directory listing, suffix→kind classification, and payload decode
  * all happen inside one scan, producing the engine's canonical
  * interleaved-spans shape `(doc_id, spans)`.
  *
  * Routing is one table, [[graft.extract.FrontEnds]]: suffix → kind
  * (the reference's `LIKE '%.pdf'` plus the UI's validation list,
  * streamlit_app.py:655-678), the one content sniff that overrides a
  * misnamed suffix, one decode and one media byte-fetch per front end,
  * and the child-document rule. Media suffixes pass by reference (the
  * file path is the media_ref; bytes stay in the store); anything else
  * drops, like the reference's suffix filter. Containers fan out here,
  * one InputDoc per unit: WARC records (`<rel>#r<idx>:<target-uri>`),
  * archive members (`<rel>#<member>`), jsonl lines
  * (`<rel>#L<line>:<id>`), whole-file JSON array elements
  * (`<rel>#r<idx>:<id>`), feed entries (`<rel>#e<idx>:<id>`), mbox
  * messages (`<rel>#m<idx>`), and email/PDF attachments
  * (`<rel>#a<idx>:<filename>`); `.gz`/`.zst`/`.xz`/`.bz2`/`.lz4`/
  * `.sz`/`.snappy` inflate and route by the inner suffix.
  *
  * Every text decode goes through the [[graft.extract.CharsetSniff]]
  * WHATWG chain (BOM > transport charset > HTML meta prescan > strict
  * UTF-8 validity > windows-1252), so legacy-charset crawl content
  * reads as real text instead of mojibake.
  *
  * Scale: ONE binaryFile scan feeding one typed flatMap (the routing
  * runs in Scala — [[decodeAny]] — so the plan carries no per-suffix
  * expression trees). Listing parallelizes via the Hadoop
  * InMemoryFileIndex; to skip media payload bytes entirely on a
  * media-heavy store, pre-filter with `pathGlobFilter` at the source.
  */
object RawFiles {

  /** Path relative to the scan root by plain substring search — NO regex
    * (a user dir with regex metacharacters must not crash or corrupt
    * ids), scheme-agnostic (file:/, hdfs://, s3a:// URIs all contain the
    * root path verbatim). Unresolvable → the full URI, never null.
    */
  private def relativize(uriPath: String, root: String): String = {
    val i = uriPath.indexOf(root)
    if (i >= 0) uriPath.substring(i + root.length) else uriPath
  }

  /** File-level decode with container fan-out: a WARC (by suffix OR
    * content magic — a crawler's misnamed `.txt` WARC still routes)
    * expands into one InputDoc PER retained record, an archive per
    * member, and so on; every other kind stays one file = one InputDoc
    * via [[graft.extract.FrontEnds.decode]]. The one definition shared
    * by the batch scan and the streaming source.
    */
  private[graft] def docsOf(kind: String, path: String, bytes: Array[Byte],
                            root: String): Seq[InputDoc] =
    if (kind == "warc" || graft.extract.WarcExtractor.isWarc(bytes) ||
        graft.extract.WarcExtractor.isWarcGz(bytes))
      warcDocs(path, relativize(path, root), bytes)
    else if (kind == "zip" || kind == "tar" ||
             graft.extract.ArchiveExtractor.isPlainZip(bytes) ||
             graft.extract.ArchiveExtractor.isTarGz(bytes) ||
             graft.extract.ArchiveExtractor.isTar(bytes) ||
             graft.extract.ArchiveExtractor.isSevenZ(bytes))
      archiveDocs(path, relativize(path, root), bytes)
    else if (kind == "jsonl") jsonlDocs(relativize(path, root), bytes)
    else if (kind == "json")
      // ONE Jackson parse routes notebook-vs-plain AND yields the
      // records (ADVICE r05: the old isNotebookJson-then-valueRecords
      // pair parsed every payload twice, and a notebook three times)
      graft.extract.JsonlExtractor.routeJson(bytes) match {
        case Right(recs) => jsonDocs(relativize(path, root), recs)
        case Left(_) => nonEmptyDoc(relativize(path, root),
          FrontEnds.decode("ipynb", path, bytes)).toSeq
      }
    else if (kind == "feed" ||
             (kind == "xml" && graft.extract.FeedExtractor.isFeed(bytes)))
      feedDocs(relativize(path, root), bytes)
    else if (kind == "mbox" && graft.extract.EmlExtractor.isMbox(bytes))
      mboxDocs(path, relativize(path, root), bytes)
    else if (kind == "eml" || ((kind == "text" || kind == "mbox") &&
             graft.extract.EmlExtractor.isEml(bytes)))
      emlDocs(path, relativize(path, root), bytes)
    else if (Compressed(kind)) compressedDoc(path, bytes, root, kind)
    else if (graft.extract.RealPdf.isPdf(bytes))
      pdfDocs(path, relativize(path, root), bytes)
    else nonEmptyDoc(relativize(path, root),
      FrontEnds.decode(kind, path, bytes)).toSeq

  /** A document with nothing extractable vanishes (apparatus-only XML,
    * blank text, …) — at every level, files and container units alike.
    */
  private def nonEmptyDoc(id: String, spans: Vector[Span]): Option[InputDoc] =
    if (spans.isEmpty) None else Some(InputDoc(id, spans))

  /** Single-file compression suffixes ([[graft.extract.Codecs]]). */
  private val Compressed = Set("gz", "zst", "xz", "bz2", "lz4", "sz", "snappy")

  /** A child document — archive member, email attachment or PDF
    * embedded file — as `<rel>#<tag>`, routed by the one child-document
    * rule ([[graft.extract.FrontEnds.childKind]]); its in-file media
    * refs live under `<path>#<tag>`.
    */
  private def childDoc(path: String, rel: String, tag: String,
                       name: String, body: Array[Byte]): Option[InputDoc] =
    FrontEnds.childKind(name).flatMap(k =>
      nonEmptyDoc(s"$rel#$tag", FrontEnds.decode(k, s"$path#$tag", body)))

  /** One genuine PDF → its InputDocs: the document itself (positioned
    * spans + embedded-image media) plus one InputDoc per EMBEDDED FILE
    * (`<rel>#a<idx>:<filename>`, ISO 32000 §7.11.4 — the
    * /EmbeddedFiles name tree and /FileAttachment annotations), a
    * child document like an email attachment or an archive member. A
    * PDF reached through a WARC record, archive member, or email
    * attachment does NOT fan out its own attachments — one level.
    */
  private def pdfDocs(path: String, rel: String,
                      bytes: Array[Byte]): Seq[InputDoc] =
    nonEmptyDoc(rel, FrontEnds.decode("pdf", path, bytes)).toSeq ++
      graft.extract.RealPdf.attachments(bytes).flatMap(a =>
        childDoc(path, rel, s"a${a.idx}:${a.name}", a.name, a.body))

  /** One InputDoc per retained jsonl line
    * (`<relpath>#L<lineNo>:<record-id>`) — the shard re-ingestion path;
    * line semantics in [[graft.extract.JsonlExtractor]].
    */
  private def jsonlDocs(rel: String, bytes: Array[Byte]): Seq[InputDoc] =
    graft.extract.JsonlExtractor.records(bytes).map { r =>
      InputDoc(s"$rel#L${r.lineNo}:${r.id}",
        Vector(Span("text", r.text, null, 0)))
    }

  /** Whole-file `.json` documents — the single-object / HF-array
    * sibling of the jsonl shard path: one retained OBJECT is the file
    * itself (`<relpath>`, one file = one corpus unit, like every other
    * front end); an ARRAY fans out one InputDoc per retained element
    * (`<relpath>#r<idx>:<record-id>`, mirroring jsonl's `#L` ids).
    * A notebook-shaped `.json` never reaches here — [[docsOf]] routes
    * it to the ipynb front end by content magic.
    */
  private def jsonDocs(rel: String,
      recs: Seq[graft.extract.JsonlExtractor.Rec]): Seq[InputDoc] = {
    recs.map { r =>
      if (r.lineNo < 0) // the single-object sentinel: the file IS the doc
        InputDoc(rel, Vector(Span("text", r.text, null, 0)))
      else
        InputDoc(s"$rel#r${r.lineNo}:${r.id}",
          Vector(Span("text", r.text, null, 0)))
    }
  }

  /** One syndication feed → one InputDoc per retained RSS item /
    * Atom entry (`<relpath>#e<idx>:<guid-or-link>`): title + body
    * blocks (escaped/CDATA html through the boilerpipe gate with a
    * stripped-text fallback) + enclosure/media:content media by
    * reference, URLs verbatim. A `.xml` that is not a feed never
    * reaches here — [[docsOf]] routes it to the generic-XML front end.
    */
  private def feedDocs(rel: String, bytes: Array[Byte]): Seq[InputDoc] =
    graft.extract.FeedExtractor.entries(bytes).map { e =>
      InputDoc(s"$rel#e${e.idx}:${e.id}", FrontEnds.spans(rel, e.items))
    }

  /** One email message → its InputDocs: the message body (Subject +
    * text parts + html parts through the boilerpipe gate + inline/
    * attached media by reference, `p<idx>:<name>` tails) as ONE
    * InputDoc, plus one child InputDoc per DOCUMENT attachment
    * (`<rel>#a<idx>:<filename>`) — an email with an attached PDF yields
    * the PDF's positioned spans, exactly like a WARC pdf record or an
    * archive member.
    */
  private def emlDocs(path: String, rel: String,
                      bytes: Array[Byte]): Seq[InputDoc] = {
    val msg = graft.extract.EmlExtractor.parse(bytes)
    nonEmptyDoc(rel, FrontEnds.spans(path, msg.items)).toSeq ++
      msg.attachments.flatMap(a =>
        childDoc(path, rel, s"a${a.idx}:${a.filename}", a.filename, a.body))
  }

  /** mbox spool fan-out: one [[emlDocs]] expansion per member message
    * (`<rel>#m<idx>`), mboxrd `>From ` escapes unescaped.
    */
  private def mboxDocs(path: String, rel: String,
                       bytes: Array[Byte]): Seq[InputDoc] =
    graft.extract.EmlExtractor.mboxMessages(bytes).zipWithIndex.flatMap {
      case (msg, i) => emlDocs(s"$path#m$i", s"$rel#m$i", msg)
    }

  /** Generic single-file compression: `<name>.<ext>.<algo>` (algo ∈
    * gz/zst/xz/bz2/lz4/sz/snappy) inflates via [[graft.extract.Codecs]]
    * and routes by
    * the INNER extension (`page.html.gz` is an html doc,
    * `shard.jsonl.zst` a jsonl shard, `seg.warc.zst` a crawl segment) —
    * web corpora compress text at rest; zstd is the Dolma/RedPajama
    * shard codec. The doc id keeps the on-disk compressed name. Inner
    * extensions outside the text family (or a corrupt stream) drop.
    * `.warc.gz`/`.tar.gz` never reach here (matched to their own kinds
    * first — WarcExtractor reads per-record gzip members natively).
    */
  private def compressedDoc(path: String, bytes: Array[Byte],
                            root: String, algo: String): Seq[InputDoc] =
    FrontEnds.TextExt.get(
        FrontEnds.ext(path.substring(0, path.length - (algo.length + 1))))
      match {
      case Some(k) =>
        // corrupt: the prefix decoded so far; over the cap: empty, no doc
        val inflated = graft.extract.Codecs.inflate(algo, bytes)
        if (inflated.isEmpty) Nil else docsOf(k, path, inflated, root)
      case None => Nil
    }

  /** One InputDoc per archive MEMBER file (`<relpath>#<member>`): a
    * child document by the child-document rule, decoded against the
    * pseudo-path `<path>#<member>` (so a member pdf's embedded images
    * mint `<path>#<member>#img<seq>:obj<N>` refs — fetch the member
    * payload via [[mediaPayload]] first); a media-suffixed member is
    * one by-reference span (bytes stay in the archive); anything else
    * drops.
    */
  private def archiveDocs(path: String, rel: String,
                          bytes: Array[Byte]): Seq[InputDoc] =
    graft.extract.ArchiveExtractor.entries(bytes).flatMap { en =>
      childDoc(path, rel, en.name, en.name, en.body).orElse(
        FrontEnds.MediaExt.get(FrontEnds.ext(en.name)).map(k =>
          InputDoc(s"$rel#${en.name}",
            Vector(Span(k, null, s"$path#${en.name}", 0)))))
    }

  /** One InputDoc per retained WARC record. Payload routing:
    * image/audio/video mimes become a single by-reference media span
    * (`<path>#r<idx>` — bytes stay in the archive, recoverable via
    * [[mediaPayload]]); document mimes decode through the front-end
    * table with the pseudo-path `<path>#r<idx>` (so a pdf record's embedded
    * images mint `<path>#r<idx>#img<seq>:obj<N>` refs — fetch the
    * record payload first, then the pdf image against it);
    * unrecognized binary mimes drop UNLESS a content sniff claims them
    * (a pdf, ODT or legacy `.doc` served as application/octet-stream
    * still extracts). A record payload that is itself WARC reads as
    * text — no recursion.
    */
  private def warcDocs(path: String, rel: String,
                       bytes: Array[Byte]): Seq[InputDoc] =
    graft.extract.WarcExtractor.records(bytes).zipWithIndex.flatMap {
      case (rec, idx) =>
        val docId = s"$rel#r$idx:${rec.targetUri}"
        val pseudo = s"$path#r$idx"
        val mediaKind = Seq("image", "audio", "video")
          .find(k => rec.mime.startsWith(k + "/"))
        mediaKind match {
          case Some(mk) =>
            Some(InputDoc(docId, Vector(Span(mk, null, pseudo, 0))))
          case None =>
            warcPayloadKind(rec.mime, rec.body).flatMap(k => nonEmptyDoc(docId,
              FrontEnds.decode(k, pseudo, rec.body, rec.charset)))
        }
    }

  /** MIME → ingest kind for a WARC record payload. Document mimes map
    * to their front ends; `text/`-prefixed and ABSENT mimes read as text
    * (WET conversion records routinely omit parameters) — the content
    * sniff still reroutes binary payloads it recognizes;
    * anything else maps to text iff the content sniff claims it, else
    * the record drops (the reference's suffix-filter posture).
    */
  private def warcPayloadKind(mime: String,
                              body: Array[Byte]): Option[String] =
    if (mime.contains("html")) Some("html")
    else if (mime.contains("pdf")) Some("pdf")
    else if (mime.contains("markdown")) Some("md")
    else if (mime.contains("rtf")) Some("rtf")
    else if (mime.contains("wordprocessingml")) Some("docx")
    else if (mime.contains("spreadsheetml")) Some("xlsx")
    else if (mime.contains("presentationml")) Some("pptx")
    else if (mime.contains("epub")) Some("epub")
    else if (mime.contains("ipynb")) Some("ipynb")
    else if (mime.contains("json")) Some("json") // incl. application/json
    else if (mime.startsWith("text/") || mime.isEmpty) Some("text")
    else if (FrontEnds.sniff(body).isDefined) Some("text") // rerouted
    else None

  /** The bytes behind a media span: `kind` is the ingest kind of the
    * payload that minted it, `bytes` that ORIGINAL payload, `mediaRef`
    * the span's media_ref. Ref forms: pdf `…#img<seq>:obj<N>` (the
    * codec-ready image — DCT as its JPEG, rasters as PNG, feeding
    * [[graft.ops.Multimodal.ImageIoCodec]] directly; `…:inline` has no
    * bytes); docx/pptx/epub/odt/rtf/doc/xls/ppt/ipynb `…#<part>`; zip/tar
    * `…#<member>`; warc `…#r<idx>`; eml `…#p<idx>:<name>`. Spans carry
    * references, the store carries bytes, and a decode stage joins them
    * per partition. None for a ref the payload did not mint.
    */
  def mediaPayload(kind: String, bytes: Array[Byte],
                   mediaRef: String): Option[Array[Byte]] =
    FrontEnds.fetch(kind, bytes, mediaRef)

  /** Classify + decode ONE file into its InputDocs: text kinds decode
    * their payload (containers FAN OUT to one doc per unit), media
    * kinds pass by reference (bytes unused), and unsupported suffixes
    * return empty (the reference's suffix filter). The one routing
    * [[read]] and [[graft.streaming.StreamingIngest.startRawDir]] share.
    */
  def decodeAny(path: String, content: Array[Byte],
                root: String): Seq[InputDoc] = {
    val lp = path.toLowerCase
    val dot = lp.lastIndexOf('.')
    val e = if (dot < 0) lp else lp.substring(dot + 1)
    if (lp.endsWith(".warc.gz")) docsOf("warc", path, content, root)
    else if (lp.endsWith(".tar.gz")) docsOf("tar", path, content, root)
    else if (Compressed(e)) docsOf(e, path, content, root)
    else FrontEnds.TextExt.get(e) match {
      case Some(kind) => docsOf(kind, path, content, root)
      case None => FrontEnds.MediaExt.get(e).map(kind =>
        InputDoc(relativize(path, root),
          Vector(Span(kind, null, path, 0)))).toSeq
    }
  }

  /** Read a directory tree of raw files as InputDocs. `doc_id` is the
    * file path relative to `dir` (the reference's RELATIVE_PATH).
    */
  def read(spark: SparkSession, dir: String): Dataset[InputDoc] = {
    import spark.implicits._
    val root = if (dir.endsWith("/")) dir else dir + "/"
    // ONE typed flatMap over ONE binaryFile scan, all suffix routing in
    // Scala via [[decodeAny]] — the exact dispatch the streaming source
    // uses, so batch and streaming cannot drift (pinned by the
    // ingest-routing fuzz suite). The r05 shape was a UNION of a text
    // branch and a media branch, each with a ~35-branch case-when kind
    // column: that plan cost ~0.25 s of Catalyst analysis/optimization
    // PER ACTION (measured, guide §7.3 driver-side work) — more than
    // the whole scan at bench scale — and scanned the file set twice.
    // Byte traffic does not regress: a computed-column filter never
    // pushed into binaryFile, so the old text branch already
    // materialized every file's content including media files.
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("content"))
      .flatMap(r => decodeAny(r.getString(0),
        r.getAs[Array[Byte]]("content"), root))
  }

  /** Spans-table ingestion from self-describing formats: the engine's
    * canonical parquet shape read instead from JSON lines (schema
    * enforced — a malformed file fails fast, it doesn't infer a wrong
    * shape). CSV cannot hold the nested spans array; for CSV interchange
    * use one-span-per-row staging via [[fromFlatSpans]].
    */
  def readSpansJson(spark: SparkSession, path: String): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.schema(
        "doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, " +
        "media_ref: STRING, offset: INT>>")
      .option("mode", "FAILFAST") // malformed line = job error, not a
                                  // silent all-null row extraction drops
      .json(path).as[InputDoc]
  }

  /** Assemble InputDocs from a FLAT one-span-per-row table (the shape CSV
    * or a relational staging table can hold): groupBy doc_id +
    * collect_list, offsets preserved in the span structs (extraction
    * re-sorts by ExtractionSpec.spanOrdering, so list order is free).
    * One shuffle by doc_id — the same partitioning extraction wants.
    */
  def fromFlatSpans(flat: DataFrame): Dataset[InputDoc] = {
    import flat.sparkSession.implicits._
    flat.select(col("doc_id"), struct(col("kind"), col("text"),
        col("media_ref"), col("offset").cast("int").as("offset")).as("s"))
      .groupBy("doc_id")
      .agg(collect_list(col("s")).as("spans"))
      .as[InputDoc]
  }
}
