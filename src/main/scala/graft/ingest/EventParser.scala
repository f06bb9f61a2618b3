package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Non-bulk ingestion entry points (SURVEY.md §2A S2–S4).
  *
  * The reference accepts: a JSON array of events (`POST /events`,
  * main.go:348-362), a single event object (`POST /filebeat`,
  * main.go:365-380), and a fallback chain that tries array → typed
  * object → generic object (`POST /logstash`, main.go:562-609).
  * Malformed payloads yield no rows (the HTTP 400 path).
  *
  * All shapes reduce to "one JSON object line per row" and then share
  * [[Normalize.normalize]], exactly like the reference funnels every
  * handler into `writeToClickHouse`.
  */
object EventParser {

  /** S2 — JSON array payload → one event per row. Elements are kept as
    * raw JSON strings (Spark's from_json supports ARRAY<STRING> element
    * extraction), so raw_json fidelity survives the explode.
    */
  def parseJsonArray(payloads: DataFrame, column: String = "value"): DataFrame =
    payloads
      .select(explode(from_json(col(column), ArrayType(StringType))).as("value"))
      .filter(trim(col("value")).startsWith("{"))

  /** S3 — single JSON object payload; non-objects are dropped
    * (reference responds 400 and writes nothing, main.go:367-369).
    */
  def parseSingle(payloads: DataFrame, column: String = "value"): DataFrame =
    payloads
      .filter(BulkDecoder.isParseableObject(col(column)))
      .select(col(column).as("value"))

  /** S4 — Logstash-HTTP fallback chain: array ⇒ explode; object ⇒ as-is
    * (typed vs generic decode is a non-distinction here — normalization
    * is schema-on-read, so the generic path IS the typed path); anything
    * else ⇒ dropped (the 400 path, main.go:592-595).
    */
  def parseLogstash(payloads: DataFrame, column: String = "value"): DataFrame = {
    val c = trim(col(column))
    val arrays  = payloads.filter(c.startsWith("[")).select(col(column).as("value"))
    val objects = payloads.filter(c.startsWith("{")).select(col(column).as("value"))
    parseJsonArray(arrays).unionByName(parseSingle(objects))
  }
}
