package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Catalyst column-level operators built from built-in, codegen'd
  * expressions: the span-array sort of the streaming pass, the C4
  * charset sanitize of whole-text queries and the A5 histogram bin.
  * (The per-document extraction chain is [[ProcessSpans]].)
  */
object SpanOps {

  /** S8/W1 — canonical ordering: re-sort the span array by `offset`
    * (north_rule: output "re-sorted by offset"). Narrow, in-row sort. */
  def sortByOffset(spans: Column): Column =
    array_sort(spans, (l, r) =>
      when(l.getField("offset") < r.getField("offset"), lit(-1))
        .when(l.getField("offset") > r.getField("offset"), lit(1))
        .otherwise(lit(0)))

  /** C4 — charset sanitize as a pure Catalyst chain (the column twin
    * of TextRules.sanitizeChars): strip, delete bad chars, ſ→s, keep
    * tokens len>1, single-space join (lib/ocr_step.py:497-514). Usable
    * on any string column (e.g. a whole document text). */
  def sanitizeCharsCol(text: Column): Column = {
    // translate with a shorter `to` string deletes the unmatched tail,
    // so one pass deletes BadChars and maps the leading ſ→s
    val mapped = translate(trim(text), "ſ" + graft.text.TextRules.BadChars, "s")
    val toks = filter(split(mapped, "\\s+"), t => length(t) > 1)
    array_join(toks, " ")
  }

  /** A5 — histogram bin id: floor(ratio / step) clamped to bins-1
    * (lib/ocr_step.py:441-443). */
  def binId(ratio: Column, bins: Int = 5, step: Int = 15): Column =
    least(floor(ratio / step), lit(bins - 1)).cast("int")
}
