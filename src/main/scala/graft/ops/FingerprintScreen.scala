package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The unit a [[FingerprintScreen]] dedups: a `w`-token [[Passage]] window
  * or a normalized [[Line]]. The unit owns only what differs between the
  * two: its fingerprint projection, the excision rebuild, and the names of
  * its `key` column (addressing a unit within its doc, in the (doc_id,
  * key, fp) fingerprint set) and of the canonical corpus occurrence's key
  * in match rows (`corpusKey`). `kind` names the unit in messages and
  * index views.
  */
sealed abstract class ScreenUnit(val kind: String, val key: String, val corpusKey: String) {
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame

  /** Excise the units listed in `units` (doc_id, key) from `df`: docs with
    * nothing listed keep their text BYTE-EXACT, the rest are rebuilt.
    */
  def excise(df: DataFrame, units: DataFrame, idCol: String, textCol: String): DataFrame

  /** Left-join `covered` (doc id, sorted piece-index array) back to `df`
    * and rebuild each covered doc from its unlisted `pieces` joined by
    * `sep`: a key-equality join plus a map-side indexed filter (the
    * per-piece `array_contains` is linear in the doc's covered count);
    * corpus text never shuffles.
    */
  protected def rebuild(df: DataFrame, covered: DataFrame, idCol: String,
      textCol: String, pieces: Column, sep: String): DataFrame = {
    val Array(coveredId, cov) = covered.columns
    df.join(covered, df(idCol) === col(coveredId), "left")
      .withColumn(textCol,
        when(col(cov).isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(pieces, (p, i) => not(array_contains(col(cov), i))))))
      .drop(coveredId, cov)
  }
}

/** Stride-1 `w`-token windows ([[Dedup.passageFingerprints]]). Rewritten
  * docs are rebuilt from their surviving case-preserving tokens joined by
  * single spaces (whitespace normalization is inherent to a token-level
  * rewrite — a transform stage, documented as such). Matching is
  * case-insensitive, but lowercasing never changes token boundaries, so
  * the lowered window positions index the raw tokens exactly.
  */
final case class Passage(w: Int) extends ScreenUnit("passage", "pos", "corpus_pos") {
  require(w > 0, "w > 0")

  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.passageFingerprints(df, idCol, textCol, w)

  /** The covered token indexes — O(windows × w) ints — are deduped and
    * folded to ONE sorted int array per rewritten doc before the join.
    */
  def excise(df: DataFrame, units: DataFrame, idCol: String, textCol: String): DataFrame =
    rebuild(df,
      units.select(col("doc_id").as("_strip_id"),
          explode(sequence(col("pos"), col("pos") + (w - 1))).as("_ti"))
        .distinct()
        .groupBy(col("_strip_id"))
        .agg(sort_array(collect_set(col("_ti"))).as("_cov")),
      idCol, textCol,
      filter(split(coalesce(col(textCol), lit("")), "\\s+"), t => length(t) > 0), " ")
}

/** Normalized lines ([[Dedup.lineFingerprints]]). Rewritten docs are
  * rebuilt from their surviving RAW lines joined by `\n` — surviving line
  * bytes are preserved exactly; a line excision needs no re-tokenization.
  * No parameter: the line normalization is fixed by contract.
  */
case object Line extends ScreenUnit("line", "line_no", "corpus_line") {
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.lineFingerprints(df, idCol, textCol)

  def excise(df: DataFrame, units: DataFrame, idCol: String, textCol: String): DataFrame =
    rebuild(df,
      units.select(col("doc_id").as("_lstrip_id"), col("line_no"))
        .groupBy(col("_lstrip_id"))
        .agg(sort_array(collect_set(col("line_no"))).as("_lcov")),
      idCol, textCol, split(coalesce(col(textCol), lit("")), "\n"), "\n")
}

/** Cross-doc repeated-unit dedup over either [[ScreenUnit]]: the Lee et
  * al. passage screen and the CCNet/RefinedWeb line screen are one
  * mechanism. Every operator returns its rows unsorted (operator contract
  * — consumers join).
  */
object FingerprintScreen {

  /** Duplicated units: every unit whose fingerprint occurs at least twice
    * in the corpus (within OR across docs). Returns (doc_id, key, fp,
    * n_occurrences).
    *
    * Scale shape (100 TB): ONE hash exchange keyed by the 8-byte
    * fingerprint carrying (fp, doc_id, key) scalars — unit text NEVER
    * shuffles — and the count is a window aggregate over that exchange
    * (the q_dedup_keep shape: no second join, no broadcast of an unbounded
    * set). For passages that is O(corpus tokens × 20 B) on the wire, the
    * honest cost of stride-1 exact passage detection (the suffix-array
    * formulation is single-machine; windowed fingerprints are its
    * distributable equivalent); lines are strictly cheaper, one
    * fingerprint per line. Run it AFTER doc-level dedup so exact-duplicate
    * documents don't multiply the stream.
    */
  def duplicates(unit: ScreenUnit, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    unit.fingerprints(df, idCol, textCol)
      .withColumn("n_occurrences", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("n_occurrences") >= 2)

  /** Every NON-canonical occurrence (doc_id, key) of a duplicated unit.
    * The CANONICAL occurrence of a fingerprint is its lexicographic-min
    * (doc_id, key) — keep-first: the doc holding a unit's first occurrence
    * keeps it, and a doc repeating its OWN unit counts too (its first
    * occurrence is canonical, the repeats are not — self-boilerplate is
    * exactly what the repetition literature screens). The fingerprint
    * exchange plus a row_number within the fp hash partitions (the sort is
    * within-partition, no range exchange); rk > 1 implies >= 2 occurrences.
    */
  def nonCanonical(unit: ScreenUnit, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    unit.fingerprints(df, idCol, textCol)
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"), col(unit.key))))
      .filter(col("_rk") > 1)
      .select(col("doc_id"), col(unit.key))

  /** Dedup applied as a TRANSFORM: every non-canonical occurrence of a
    * duplicated unit is EXCISED from its doc, the canonical occurrence
    * survives verbatim ([[ScreenUnit.excise]]). Returns df's columns with
    * `textCol` replaced.
    */
  def stripDuplicates(unit: ScreenUnit, df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    unit.excise(df, nonCanonical(unit, df, idCol, textCol), idCol, textCol)

  /** One row per DISTINCT fingerprint of a (doc_id, key, fp) set with its
    * canonical occurrence: (fp, corpus_id, corpusKey) — the compacted
    * corpus side of the incremental screens. A boilerplate fingerprint
    * with millions of corpus occurrences joins as ONE row instead of
    * amplifying every batch match by its corpus multiplicity.
    */
  def canonical(unit: ScreenUnit, fps: DataFrame): DataFrame =
    fps.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col(unit.key))).as("_c"))
      .select(col("fp"), col("_c.doc_id").as("corpus_id"),
        col(s"_c.${unit.key}").as(unit.corpusKey))

  /** Units of `batch` whose fingerprint the [[canonical]] set `canon`
    * holds, joined on the fingerprint: (doc_id, key, fp, corpus_id,
    * corpusKey). Shared by the batch and the stream-static faces.
    */
  private[graft] def matchesCanonical(unit: ScreenUnit, canon: DataFrame,
      batch: DataFrame, idCol: String, textCol: String): DataFrame =
    unit.fingerprints(batch, idCol, textCol)
      .join(canon, Seq("fp"))
      .select(col("doc_id"), col(unit.key), col("fp"), col("corpus_id"),
        col(unit.corpusKey))

  /** Matches BETWEEN a batch and a persisted corpus fingerprint set — the
    * daily-ingest face ([[Dedup.minhashPairsBetween]]'s analogue):
    * `corpusFps` is plain scalar parquet ([[ScreenIndex]]), so each ingest
    * pays O(batch units) map work plus one key-equality join; the corpus
    * is never re-fingerprinted, and its side is deduped to one row per
    * fingerprint ([[canonical]]) BEFORE the join.
    */
  def matchesAgainst(unit: ScreenUnit, corpusFps: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    matchesCanonical(unit, canonical(unit, corpusFps), batch, idCol, textCol)

  /** Incremental STRIP: excise from `batch` every unit the corpus
    * fingerprint set already holds (every corpus match is non-canonical by
    * construction — the corpus came first). In-batch self-duplication is
    * [[stripDuplicates]]' job; a full ingest composes the two, then
    * appends the surviving batch's fingerprints to the corpus artifact
    * (`StreamingPipeline.ingestScreenMicroBatch`).
    */
  def stripAgainst(unit: ScreenUnit, corpusFps: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    unit.excise(batch,
      matchesAgainst(unit, corpusFps, batch, idCol, textCol)
        .select(col("doc_id"), col(unit.key)),
      idCol, textCol)
}
