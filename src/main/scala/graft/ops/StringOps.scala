package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** P12: DID-alias string builder — pure built-in string expressions
  * (regexp_replace / lower / trim / concat_ws), no UDFs, so the whole
  * derivation stays codegen'd.
  *
  * Reference: data_synthesizer/service/veramo/create_web_url.go:15-59
  * (sanitize: strip non-[a-zA-Z0-9._-], collapse dashes, lower) and the
  * inverse parse at host_did_web/src/main.go:398-417.
  */
object StringOps {

  /** Sanitize one DID path segment. create_web_url.go:24-43. */
  def sanitizeSegment(c: Column): Column =
    lower(regexp_replace(regexp_replace(c, "[^a-zA-Z0-9._-]", ""), "-+", "-"))

  /** did:web:<host>:<project>:<entity> builder. create_web_url.go:45-59. */
  def didWeb(host: Column, project: Column, entity: Column): Column =
    concat_ws(":", lit("did"), lit("web"),
      sanitizeSegment(host), sanitizeSegment(project), sanitizeSegment(entity))
}
