package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Elasticsearch Bulk NDJSON framing (SURVEY.md §2A P1–P2).
  *
  * The reference splits the body on newlines, pairs action/document
  * lines, accepts naked documents with no preceding action line, skips
  * blanks, and drops unparseable lines (reference:
  * filebeat-to-ck/main.go:265-329). Crucially it DISCARDS the action
  * line content entirely — only documents reach the sink — so the
  * positional 2-line pairing is provably equivalent to an order-free
  * filter: keep every parseable non-action line (SURVEY.md §7.3 trap 5).
  * That makes the decode embarrassingly parallel: no intra-file ordering
  * requirement, so a 100 TB NDJSON drop splits freely across executors.
  *
  * Input: one string column (default `value`), one JSON line per row.
  */
object BulkDecoder {

  /** True when the line carries a bulk action verb at top level
    * (reference detects via key presence, main.go:282-288). `{"delete":
    * null}` counts as an action for the reference too (key exists).
    */
  def isActionLine(c: Column): Column = {
    // get_json_object returns null both for "key absent" and for
    // unparseable JSON; an action key mapping to JSON null also returns
    // null, so additionally pattern-check the head of the line for the
    // bare-verb-with-null form.
    val hasKey = Seq("index", "create", "update", "delete")
      .map(k => get_json_object(c, s"$$.$k").isNotNull)
      .reduce(_ || _)
    val nullVerb = trim(c).rlike("""^\{\s*"(index|create|update|delete)"\s*:\s*null\s*\}$""")
    hasKey || nullVerb
  }

  /** Parseable as a JSON object? (garbage lines are dropped, matching
    * main.go:322-324 — unmarshal failure → skip, no error surfaced).
    * `json_object_keys` is NULL for malformed JSON and for non-objects;
    * `from_json` is not a usable test, because PERMISSIVE mode returns
    * a non-null struct for a truncated object.
    */
  def isParseableObject(c: Column): Column =
    trim(c).startsWith("{") && json_object_keys(c).isNotNull

  /** NDJSON bulk body → one document line per row.
    * P1 (blank skip, main.go:269-271) + P2 (action discard + naked-doc
    * acceptance, main.go:274-328).
    */
  def frameBulk(lines: DataFrame, column: String = "value"): DataFrame = {
    val c = col(column)
    lines
      .filter(length(trim(c)) > 0)
      .filter(!isActionLine(c))
      .filter(isParseableObject(c))
  }

  /** Split whole bulk payloads (one request body per row) into lines,
    * then frame. Mirrors `strings.Split(body, "\n")` (main.go:265).
    */
  def frameBulkPayloads(payloads: DataFrame, column: String = "value"): DataFrame = {
    val exploded = payloads
      .select(explode(split(col(column), "\n")).as("value"))
    frameBulk(exploded, "value")
  }
}
