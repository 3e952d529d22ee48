package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for PII redaction WITH match accounting
  * (queries/Docs.scala d17): one `java.util.regex` pass per pattern
  * produces the redacted text AND the match count, replacing the
  * builtin formulation's four passes (regexp_extract_all + regexp_
  * replace per pattern — the count and the replacement each re-scan).
  * Same engine, same patterns, so the match semantics are identical by
  * construction; only the scan count halves. Measured 1.5 s → ~0.9 s at
  * sf1 (50 k docs) on top of the regex-anchoring wins.
  *
  * The phone pass runs over the EMAIL-REDACTED text (d17's contract:
  * n_phones counts what remains after email redaction).
  *
  * Returns null for null input (mirrors the builtin chain, where a null
  * text nulls every derived column).
  */
case class RedactStats(child: Expression, emailRe: String, phoneRe: String)
    extends UnaryKernel[UTF8String, InternalRow](StringType, "redact_stats") {

  override def dataType: DataType = RedactStats.schema

  @transient private lazy val email = java.util.regex.Pattern.compile(emailRe)
  @transient private lazy val phone = java.util.regex.Pattern.compile(phoneRe)

  def compute(text: UTF8String): InternalRow = {
    val (noEmail, nEmails) = RedactStats.replaceCount(email, text.toString, "<EMAIL>")
    val (redacted, nPhones) = RedactStats.replaceCount(phone, noEmail, "<PHONE>")
    new GenericInternalRow(Array[Any](UTF8String.fromString(redacted), nEmails, nPhones))
  }
}

object RedactStats {

  val schema: StructType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_emails", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false)))

  /** One find-loop per pattern: count while substituting — exactly
    * `Matcher.replaceAll`'s traversal, so the redacted text and the
    * counts agree with the separate-pass builtins by construction.
    * The replacement literals contain no `$`/`\`, so raw append (not
    * `appendReplacement`'s escape processing) is sound. */
  private def replaceCount(p: java.util.regex.Pattern, s: String,
      sub: String): (String, Long) = {
    val m = p.matcher(s)
    if (!m.find()) return (s, 0L)
    val sb = new java.lang.StringBuilder(s.length)
    var n = 0L
    var last = 0
    do {
      sb.append(s, last, m.start()).append(sub)
      last = m.end()
      n += 1
    } while (m.find())
    sb.append(s, last, s.length)
    (sb.toString, n)
  }
}

object RedactExprs {
  /** Column wrapper over [[RedactStats]]: string →
    * struct(redacted, n_emails, n_phones). */
  def redactStats(text: Column, emailRe: String, phoneRe: String): Column =
    UnaryKernel.column(text)(RedactStats(_, emailRe, phoneRe))
}
