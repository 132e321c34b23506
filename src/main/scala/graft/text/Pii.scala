package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection / redaction for a training-data pipeline: find and mask
  * emails, NANP-style phone numbers, and IPv4 addresses in a text column.
  *
  * Mirrors the scrubbing stage every large-corpus pipeline runs before
  * training (C4 and its descendants drop or mask address-like spans).
  * Patterns are deliberately RE2-safe (no backreferences, no lookaround)
  * so the identical regex runs in Java (Spark codegen) and in the DuckDB
  * oracle.
  *
  * Built from codegen'd builtins only — a 100 TB scrub pass stays inside
  * WholeStageCodegen with `text` as the single read column.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def countMatches(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  def emailCount(text: Column): Column = countMatches(text, EmailRe)
  def phoneCount(text: Column): Column = countMatches(text, PhoneRe)
  def ipCount(text: Column): Column    = countMatches(text, IpRe)

  /** Mask all three PII classes. Email first (its domain contains dots
    * that the IP pattern could otherwise chew on), then phone, then IP. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
}
