package graft

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
  * Every call's output, and one pass over each file generator, is
  * pinned by the ingest golden ([[IngestGolden]]).
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
}
