package graft.extract

/** JSONL / NDJSON front end: the interchange format extracted web
  * corpora actually ship in (Dolma, RedPajama, CCNet output, HF
  * datasets exports) — one JSON object per line, text under a small
  * set of conventional keys. Each line becomes its own InputDoc
  * (`<file>#L<lineNo>:<record-id>`), so a 100k-line shard fans out to
  * 100k corpus units inside one scan task, mirroring
  * [[WarcExtractor]]'s record fan-out.
  *
  * [north-rule extension] — the reference ingests a directory of PDFs
  * (/root/reference/setup.sql:44-45); a directory of jsonl shards is
  * the post-extraction equivalent of that directory, and re-ingesting
  * it is how pipeline stages compose (extract → filter → re-shard).
  *
  * == Exact line semantics (shared with the test-side twin) ==
  *
  * Lines split on `\n` (trailing `\r` stripped; a UTF-8 BOM on the
  * first line stripped). A line is RETAINED iff it parses as a JSON
  * object AND carries a non-empty string under the first present of
  * `text`, `content`, `raw_content` (the Dolma / HF / CCNet key
  * conventions, in that order). The record id is the first present of
  * `id`, `url`, `doc_id` rendered as text ("" when absent — ids are
  * positional anyway via the physical 0-based line number, which stays
  * stable when OTHER lines are malformed). Anything else — blank
  * lines, arrays, scalars, malformed JSON, objects without a text key
  * — drops silently (degrade, never throw).
  *
  * Parsing uses Jackson's `ObjectMapper` (on every Spark classpath —
  * Spark's own JSON datasource is built on it), not a hand parser:
  * JSON escapes, unicode, nested objects and huge numbers are already
  * solved problems.
  *
  * Scale: shard conventions keep jsonl files in the 100 MB–1 GB band;
  * one shard = one `binaryFile` row decoded linewise in the scan task.
  * A compressed shard inflates whole first, so one inflating past
  * [[Codecs.MaxInflated]] (an eighth of the task's heap) gives no docs.
  * (A splittable `spark.read.json` path would go further for plain
  * jsonl, but shards gzip at rest — `.jsonl.gz` is whole-file work
  * either way, and the binaryFile route keeps ONE ingest contract
  * across batch and streaming.)
  */
object JsonlExtractor {

  final case class Rec(lineNo: Int, id: String, text: String)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val TextKeys = Seq("text", "content", "raw_content")
  private val IdKeys = Seq("id", "url", "doc_id")

  /** Retained records of a jsonl payload, line order. */
  def records(bytes: Array[Byte]): Vector[Rec] = {
    val s0 = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val s = if (s0.startsWith("\uFEFF")) s0.substring(1) else s0
    s.split('\n').iterator.zipWithIndex.flatMap { case (line0, i) =>
      parseLine(line0.stripSuffix("\r")).map { case (id, text) =>
        Rec(i, id, text)
      }
    }.toVector
  }

  /** Whole-file `.json` records — the single-document / HF-array
    * sibling of the linewise shard path. The payload parses as ONE
    * JSON value (UTF-8, BOM stripped):
    *
    *  - an OBJECT retained by the same text-key convention yields one
    *    record at index -1 (the sentinel: one file = one corpus unit,
    *    not an array element);
    *  - an ARRAY yields one record per retained object element, at its
    *    0-based array index (the HF `dataset.json` export shape) —
    *    non-object / text-less elements drop silently, indexes stay
    *    positional;
    *  - anything else (scalars, malformed JSON, text-less objects)
    *    yields nothing — degrade, never throw.
    */
  def valueRecords(bytes: Array[Byte]): Vector[Rec] =
    rootOf(bytes).map(recordsOf).getOrElse(Vector.empty)

  private def recordsOf(
      node: com.fasterxml.jackson.databind.JsonNode): Vector[Rec] = {
    if (node.isObject)
      retained(node).map { case (id, t) => Rec(-1, id, t) }.toVector
    else if (node.isArray)
      (0 until node.size).flatMap(k =>
        Option(node.get(k)).filter(_.isObject).flatMap(retained)
          .map { case (id, t) => Rec(k, id, t) }).toVector
    else Vector.empty
  }

  /** Content magic: a `.json` that is really a Jupyter notebook
    * (object with a NUMERIC `nbformat` and an ARRAY
    * `cells`/`worksheets` — ADVICE r05: key presence alone misrouted
    * corpus objects that merely carry those keys) — routed to the
    * notebook front end upstream, exactly like the lying-extension
    * magics elsewhere (CFB-under-.txt, feed-rooted `.xml`).
    */
  def isNotebookJson(bytes: Array[Byte]): Boolean =
    rootOf(bytes).exists(isNotebookNode)

  private def isNotebookNode(
      n: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    def arr(key: String): Boolean = {
      val v = n.get(key); v != null && v.isArray
    }
    n.isObject && n.get("nbformat") != null &&
      n.get("nbformat").isNumber && (arr("cells") || arr("worksheets"))
  }

  /** One-parse route for a whole-file `.json` payload (ADVICE r05: the
    * ingest path previously Jackson-parsed every payload twice —
    * notebook magic, then records): Left(()) = notebook-shaped (send
    * to the ipynb front end), Right = the retained [[valueRecords]].
    */
  def routeJson(bytes: Array[Byte]): Either[Unit, Vector[Rec]] =
    rootOf(bytes) match {
      case Some(n) if isNotebookNode(n) => Left(())
      case Some(n) => Right(recordsOf(n))
      case None => Right(Vector.empty)
    }

  private def rootOf(bytes: Array[Byte])
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val s0 = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val s = if (s0.startsWith("\uFEFF")) s0.substring(1) else s0
    try Option(mapper.readTree(s))
    catch { case _: Exception => None }
  }

  private def retained(
      node: com.fasterxml.jackson.databind.JsonNode)
      : Option[(String, String)] = {
    val text = TextKeys.iterator
      .map(node.get).find(n => n != null && n.isTextual)
      .map(_.asText).filter(_.nonEmpty)
    text.map { t =>
      val id = IdKeys.iterator
        .map(node.get).find(n => n != null && n.isValueNode)
        .map(_.asText).getOrElse("")
      (id, t)
    }
  }

  /** (id, text) of one retained line, None otherwise. */
  private[graft] def parseLine(line: String): Option[(String, String)] = {
    if (line.trim.isEmpty) return None
    val node =
      try mapper.readTree(line)
      catch { case _: Exception => return None }
    if (node == null || !node.isObject) return None
    retained(node)
  }
}
