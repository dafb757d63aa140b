package graft.pipeline

import java.sql.Timestamp

/** North-rule table shapes — BASELINE.json input_hint + SURVEY §1.2. */

/** Input row: one transcript turn. `tool` tags the payload kind
  * (pdf-b64 | html | plain); `text` carries the payload (base64 for PDF bytes).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

object Turn {
  /** [[Turn]] as a DDL schema string, for streaming file sources. */
  val ddl = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"
}

final case class SpanRow(op: String, start: Int, end: Int)

/** Output row: per-turn extracted text + character-offset spans. `error` carries
  * the reference's panic message for poison payloads instead of failing the stage.
  */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    extracted_text: String,
    spans: Seq[SpanRow],
    payload_kind: String,
    error: String
)

/** Golden fixture row for the equality gate (FIXTURES.md §2). */
final case class Golden(
    conv_id: String,
    turn_idx: Int,
    expected_text: String,
    gate: String // "exact" | "smoke"
)

/** Per-partition checkpoint manifest (SURVEY §1.2 / P8). `rows` counts the
  * shard's output rows, error rows included. `bytes` is
  * `sum(length(extracted_text))`, and Spark's `length` counts characters
  * (code points), not encoded bytes: "a😀é" counts 3, though it is 4 UTF-16
  * units and 7 UTF-8 bytes. An error row counts 0. `wall_ms` is the
  * summed elapsed time of the write tasks that held this shard, each
  * floored to whole milliseconds: it covers extraction, sort and file
  * write, but not the scan and exchange stage or the job commit.
  * `wave_id` groups the shards that one wave wrote in one pass.
  */
final case class PartManifest(
    part_id: Int,
    conv_salt: Int,
    rows: Long,
    bytes: Long,
    wall_ms: Long,
    wave_id: Int,
    status: String
)
