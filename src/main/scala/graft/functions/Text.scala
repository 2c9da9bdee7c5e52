package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline extensions:
  * tokenisation, quality features, language-ID heuristic, fingerprinting,
  * shingling. All are built-in expression compositions (codegen'd, no
  * UDFs) with exact DuckDB-SQL equivalents for the oracle.
  */
object Text {

  /** Whitespace tokens (single-space split, like the synthetic corpus). */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish regex token count: letter runs, digit runs, or single
    * punctuation. Oracle: `len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))`.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))

  /** Distinct word-`k`-grams ("shingles"). Requires size(words) >= k
    * (callers filter; `sequence` would run backwards otherwise).
    * Oracle (k=3): `list_distinct([w[i]||' '||w[i+1]||' '||w[i+2] FOR i IN range(1, len(w)-1)])`.
    */
  def shingles(ws: Column, k: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), size(ws) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*)))

  /** Adjacent-word bigrams. Pass a MATERIALIZED words column (a column
    * reference, not the split expression itself — a lambda body that
    * references the split re-evaluates it per element, O(len²) per doc).
    * Guard: `sequence(1, 0)` DESCENDS in Spark, so a doc with <2 words
    * must yield an empty array explicitly (size(ws)-1 would sweep back).
    * Oracle: `[w[i]||' '||w[i+1] FOR i IN range(1, len(w))]`.
    */
  def bigrams(ws: Column): Column =
    when(size(ws) >= 2,
      transform(
        sequence(lit(1), size(ws) - 1),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Normalised text: lowercase, non-alphanumeric runs → single space,
    * trimmed. The canonical form for fingerprinting.
    */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Document fingerprint: md5 of the normalised text (content identity
    * robust to case/punctuation/whitespace).
    */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Language marker words. Deliberately tiny, fixed sets — the point is a
    * deterministic, engine-portable heuristic, not linguistic accuracy.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "les", "des", "et", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
  )

  /** Marker hits (with multiplicity) for one language's marker set. */
  def markerHits(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isin(markers: _*)))

  /** Predicted language from ALREADY-MATERIALIZED score columns: argmax
    * with fixed priority order (first in `langMarkers` wins ties); "und"
    * when no marker hits. Callers must compute the scores in their own
    * projection first (see TextAnalysis.langid) — passing raw
    * `markerHits(...)` expressions here would re-evaluate each split+filter
    * once per reference in this argmax tree (~10× per row).
    */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lang).otherwise(acc)
    }
  }
}
