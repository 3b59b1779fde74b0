package graft.extract

/** Subtitle front end (`.srt` SubRip, `.vtt` WebVTT) — the text class
  * video corpora carry: every captioned video stages one of these, and
  * speech-transcript text is a first-class pre-training source. The
  * reference is PDF-only (/root/reference/setup.sql:44-45); subtitles
  * decode at the ingest boundary into plain "text" spans like every
  * other front end.
  *
  * == Cue semantics ==
  *
  * One "text" block per cue, in file order; timing apparatus drops
  * (corpus text, not playback data):
  *
  *   - SRT: cues separated by blank lines — an optional all-digit
  *     index line, a timing line `HH:MM:SS,mmm --> HH:MM:SS,mmm`
  *     (optional position settings after), then the payload lines
  *     (joined with `\n`). A block with no timing line is not a cue
  *     and drops (degrade, never mojibake).
  *   - WebVTT: the `WEBVTT` header line (+ its metadata block) drops;
  *     `NOTE`/`STYLE`/`REGION` blocks drop; a cue is an optional id
  *     line followed by a timing line (dot millis, `MM:SS.mmm` short
  *     form allowed) and payload lines.
  *   - Payload cleanup, both formats: angle-bracket tags strip —
  *     formatting (`<i> <b> <u> <font …> <c.class>`), voice spans
  *     (`<v Speaker>`; the speaker NAME is apparatus, the speech is
  *     content), inline karaoke timestamps (`<00:00:01.000>`) —
  *     then HTML entities decode (`&amp;` etc, the [[HtmlExtractor]]
  *     table), whitespace trims per line, blank results vanish.
  *   - CONSECUTIVE identical cue texts collapse to one block (rolling
  *     captions re-emit the same line shifted one row — the standard
  *     de-rollup for caption corpora).
  *
  * Charset: callers hand decoded text ([[FrontEnds]] runs
  * the CharsetSniff chain first — srt files from the DVD era are
  * routinely windows-1252).
  */
object SubtitleExtractor {

  private val SrtTiming =
    "^\\d{1,2}:\\d{2}:\\d{2}[,.]\\d{1,3}\\s+-->\\s+\\d{1,2}:\\d{2}:\\d{2}[,.]\\d{1,3}.*$".r
  private val VttTiming =
    "^(?:\\d{1,2}:)?\\d{2}:\\d{2}\\.\\d{3}\\s+-->\\s+(?:\\d{1,2}:)?\\d{2}:\\d{2}\\.\\d{3}.*$".r

  private def isTiming(line: String): Boolean = {
    val t = line.trim
    SrtTiming.matches(t) || VttTiming.matches(t)
  }

  /** A `.txt`/unknown payload that is really WebVTT (exact header at
    * byte 0, BOM tolerated) — the same at-byte-0-only magic rule as
    * PDF/DOCX/CFB.
    */
  def isVtt(text: String): Boolean = {
    val t = if (text.startsWith("\uFEFF")) text.substring(1) else text
    t.startsWith("WEBVTT") &&
      (t.length == 6 || t.charAt(6) == '\n' || t.charAt(6) == '\r' ||
        t.charAt(6) == ' ' || t.charAt(6) == '\t')
  }

  /** A payload that is really SubRip: an all-digit first line followed
    * by a timing line — conservative enough that prose never matches.
    */
  def isSrt(text: String): Boolean = {
    val t = if (text.startsWith("\uFEFF")) text.substring(1) else text
    val lines = t.linesIterator.filter(_.trim.nonEmpty).take(2).toSeq
    lines.sizeIs == 2 && lines.head.trim.matches("\\d{1,6}") &&
      isTiming(lines(1))
  }

  /** Content magic on raw bytes: [[isVtt]] or [[isSrt]] over the
    * first 512 bytes read as UTF-8.
    */
  def isSubs(bytes: Array[Byte]): Boolean = {
    val head = new String(bytes, 0, math.min(bytes.length, 512),
      java.nio.charset.StandardCharsets.UTF_8)
    isVtt(head) || isSrt(head)
  }

  private def cleanLine(raw: String): String =
    HtmlExtractor.decodeEntities(raw.replaceAll("<[^>]*>", "")).trim

  /** The subtitle file as ordered cue blocks. */
  def items(text: String): Vector[String] = {
    val t = if (text.startsWith("\uFEFF")) text.substring(1) else text
    val lines = t.split("\r\n|\r|\n", -1)
    val out = Vector.newBuilder[String]
    var last: String = null
    var i = 0
    // WebVTT header block (the header line + metadata until blank)
    if (isVtt(t)) {
      while (i < lines.length && lines(i).trim.nonEmpty) i += 1
    }
    while (i < lines.length) {
      // skip blank separators
      while (i < lines.length && lines(i).trim.isEmpty) i += 1
      if (i < lines.length) {
        val first = lines(i).trim
        // block = lines until the next blank
        var j = i
        while (j < lines.length && lines(j).trim.nonEmpty) j += 1
        val block = lines.slice(i, j).toVector
        i = j
        val isApparatus = first.startsWith("NOTE") ||
          first == "STYLE" || first == "REGION"
        if (!isApparatus) {
          // payload starts after the timing line (itself optionally
          // preceded by one id line); no timing line → not a cue
          val timingIdx = block.indexWhere(l => isTiming(l))
          if (timingIdx >= 0 && timingIdx <= 1) {
            val payload = block.drop(timingIdx + 1)
              .map(cleanLine).filter(_.nonEmpty)
            if (payload.nonEmpty) {
              val cue = payload.mkString("\n")
              if (cue != last) { out += cue; last = cue }
            }
          }
        }
      }
    }
    out.result()
  }
}
