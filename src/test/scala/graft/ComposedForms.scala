package graft

import graft.ops.Dedup.wordShingles
import graft.ops.Similarity.{l2Norm, l2NormalizeWith}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed-Catalyst forms of the natively implemented operators —
  * pre-r06 higher-order-function and regexp formulations kept as the
  * in-engine semantic references OpsSpec pins the native kernels
  * against. Test-only: `src/main` holds one implementation per
  * operator.
  */
object ComposedForms {

  /** The pre-r06 composed form — the in-engine semantic reference the
    * native kernel is parity-tested against (OpsSpec); interpreted HOF
    * evaluation, not a hot path.
    */
  private[graft] def hyperplaneSketchComposed(vec: Column,
                                              nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val dotp = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) => {
            val h = xxhash64(p * 131071 + i.cast("long"))
            x.cast("double") *
              ((pmod(h, lit(1024L)).cast("double") / 1024.0) - 0.5)
          }),
          lit(0.0), (s, v) => s + v)
        when(dotp > 0, call_function("shiftleft", lit(1L), p)).otherwise(0L)
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Pre-r06 composed int8 forms — semantic references for the OpsSpec
    * parity tests of the native kernels.
    */
  private[graft] def int8ScaleComposed(vec: Column): Column =
    greatest(
      aggregate(transform(vec.cast("array<double>"), x => abs(x)),
        lit(0.0), (s, x) => greatest(s, x)) / 127.0, lit(1e-30))

  private[graft] def int8CodesComposed(vec: Column, scale: Column): Column =
    transform(vec.cast("array<double>"), x => greatest(lit(-127),
      least(lit(127), round(x / scale, 0).cast("int"))))

  private[graft] def codeCosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x),
      lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x),
      lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }

  /** Pre-r06 composed PQ encode — the OpsSpec parity reference. */
  private[graft] def pqEncodeComposed(df: DataFrame, idCol: String,
      vecCol: String, books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val normed = df
      .select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      .select(col(idCol),
        l2NormalizeWith(col(vecCol), col("nrm")).as("nv"))
    val codeCols = (0 until m).map { j =>
      val bookLit = array(books(j).map(cw =>
        array(cw.map(lit(_)): _*)): _*)
      val sub = slice(col("nv"), j * dsub + 1, dsub)
      val dists = transform(bookLit, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    normed.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** Pre-r06 composed ADC score — the OpsSpec parity reference. */
  private[graft] def pqAdcScoreComposed(codes: Column,
                                        lut: Array[Array[Double]]): Column =
    lut.zipWithIndex.map { case (row, j) =>
      element_at(array(row.map(lit(_)): _*),
        element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** Pre-r06 composed IVF assignment — the OpsSpec parity reference. */
  private[graft] def ivfAssignComposed(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[(Long, Array[Float])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val centVecs = array(sorted.map { case (_, v) =>
      array(v.map(x => lit(x.toDouble)): _*) }: _*)
    val centIds = array(sorted.map { case (id, _) => lit(id) }: _*)
    df.select(col(idCol), col(vecCol),
        transform(centVecs,
          c => cosineComposed(col(vecCol).cast("array<double>"), c))
          .as("sims"))
      .withColumn("cell_id",
        element_at(centIds,
          array_position(col("sims"), array_max(col("sims"))).cast("int")))
      .select(col(idCol), col(vecCol), col("cell_id"))
  }

  /** Pre-r06 composed five-regexp form — the in-engine reference the
    * native [[graft.functions.CanonicalUrl]] is parity-tested against
    * (OpsSpec); the independent oracle twin remains
    * PlainOracles.canonicalUrlPlain.
    */
  private[graft] def canonicalUrlComposed(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val prefix =
      regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val lowered = when(length(prefix) === 0, noFrag)
      .otherwise(concat(lower(prefix),
        noFrag.substr(length(prefix) + lit(1), length(noFrag))))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/?#]*):80([/?#]|$)", "$1$2"),
      "^(https://[^/?#]*):443([/?#]|$)", "$1$2")
    val qpos = instr(noPort, "?")
    val base = when(qpos === 0, noPort)
      .otherwise(noPort.substr(lit(1), qpos - 1))
    val query = noPort.substr(qpos + 1, length(noPort))
    val kept = filter(split(query, "&"), x =>
      !x.rlike("^(utm_[a-z0-9_]*|gclid|fbclid|mc_cid|mc_eid|ref)="))
    val joined = array_join(kept, "&")
    val rebuilt = when(qpos === 0 || joined === "", base)
      .otherwise(concat(base, lit("?"), joined))
    regexp_replace(rebuilt, "/$", "")
  }

  /** Pre-r06 composed rlike/contains cascade — the in-engine reference
    * the native [[graft.functions.LangGuess]] is parity-tested against
    * (OpsSpec); the DuckDB twin runs the same cascade in SQL.
    */
  private[graft] def langIdGuessComposed(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[\\u3040-\\u30ff]"), "ja")
      .when(text.rlike("[\\u0400-\\u04ff]"), "ru")
      .when(padded.contains(" el ") || padded.contains(" los ") ||
            padded.contains(" una "), "es")
      .when(padded.contains(" der ") || padded.contains(" und ") ||
            padded.contains(" ist "), "de")
      .when(padded.contains(" le ") || padded.contains(" les ") ||
            padded.contains(" une "), "fr")
      .otherwise("en")
  }

  /** Pure-Catalyst composed formulation (transform + array_min over the
    * shingle array) — semantic twin of the native expression, kept as
    * the in-engine reference it is tested against. O(k x shingles)
    * string re-hashes per row: do not use on a hot path.
    */
  private[graft] def minhashSignatureComposed(text: Column, w: Int,
                                              k: Int): Column = {
    val shingles = wordShingles(text, w)
    val sig = transform(sequence(lit(0), lit(k - 1)), j =>
      array_min(transform(shingles, s => xxhash64(s, j))))
    when(size(shingles) > 0, sig).otherwise(null)
  }

  /** The pre-r06 composed form, kept as the in-engine semantic
    * reference the native kernel is tested against (OpsSpec parity).
    * O(dim) interpreted lambda evaluations per row: not a hot path.
    */
  private[graft] def cosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x),
      lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x),
      lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }
}
