package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII / secret scrubbing — the C4/CCNet-style curation pass a training
  * corpus runs before anything else: find (q_pii_scan) and strip
  * (q_pii_redact) emails, phone numbers, IP addresses, cloud key ids, and
  * hex-shaped secrets.
  *
  * Both queries are MAP-ONLY regex projections over the documents scan —
  * no shuffle, no state; at 100 TB this is the cheapest possible shape
  * (cost = one pass over the text bytes, embarrassingly parallel), and a
  * PlanSpec guard asserts no Exchange ever appears. Patterns stay in the
  * lookaround-free common subset of Java regex (Spark) and RE2 (DuckDB):
  * character classes, bounded repetition, and ASCII `\b` mean the same
  * thing in both engines, so the oracle is exact. Production would widen
  * the pattern set (locale phone formats, more issuer prefixes) — the
  * operator shape does not change.
  *
  * The synthetic corpus contains no PII, so the queries run over a
  * deterministic PII-INJECTED variant (same device as the dedup queries'
  * variant corpora): docs get an email / phone / IP / AWS-style key /
  * hex secret appended by doc_id modulus, composed identically in both
  * engines — the scan counts are provably non-zero and redaction is
  * provably complete.
  */
object PiiQueries {

  // --- pattern set (Java + RE2 common subset; no lookaround, ASCII \b) ---
  private val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val Ipv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val AwsKey = "\\bAKIA[0-9A-Z]{16}\\b"
  private val HexSecret = "\\b[0-9a-f]{32,}\\b"

  /** Redaction order (fixed, both engines): class → replacement token. */
  private val Redactions: Seq[(String, String)] = Seq(
    Email -> "<EMAIL>", Phone -> "<PHONE>", Ipv4 -> "<IP>",
    AwsKey -> "<KEY>", HexSecret -> "<SECRET>")

  // --- deterministic PII injection (identical composition both engines) ---

  // NOTE: these strings are interpolated into queries that call .stripMargin
  // on the combined text — no line here may start (post-indent) with `|`,
  // or the outer stripMargin eats one pipe of a `||`. Concatenation
  // operators therefore sit at line ENDS.

  /** The PII-injected text as a SQL expression (columns `doc_id`, `text`
    * in scope) — shared with q_corpus_curation so the composed curation
    * pass scrubs the exact corpus the standalone scan/redact queries see.
    */
  val piiTextSql: String =
    s"""text ||
       |CASE WHEN doc_id % 5 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR) ||
       |        '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.com' ELSE '' END ||
       |CASE WHEN doc_id % 7 = 0 THEN ' tel +1-' ||
       |        CAST(100 + doc_id % 900 AS VARCHAR) || '-555-' ||
       |        CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END ||
       |CASE WHEN doc_id % 11 = 0 THEN ' ip 10.' ||
       |        CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |        CAST((doc_id * 7) % 256 AS VARCHAR) || '.' ||
       |        CAST(1 + doc_id % 250 AS VARCHAR) ELSE '' END ||
       |CASE WHEN doc_id % 13 = 0 THEN ' key AKIA' ||
       |        upper(substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)) ELSE '' END ||
       |CASE WHEN doc_id % 17 = 0 THEN ' secret ' ||
       |        md5(CAST(doc_id AS VARCHAR)) ELSE '' END""".stripMargin
      .replace("\n", "\n         ")

  private val baseSql: String =
    s"""base AS (
       |  SELECT doc_id,
       |         $piiTextSql
       |         AS text
       |  FROM documents)""".stripMargin

  /** DuckDB redaction chain over an arbitrary text expression — every
    * class replaced by its token, in the fixed pattern order.
    */
  def redactSql(inner: String): String =
    Redactions.foldLeft(inner) { case (acc, (pat, tok)) =>
      s"regexp_replace($acc, '$pat', '$tok', 'g')"
    }

  /** The PII-injected text as a Column (needs `doc_id` and `text`). */
  def piiText: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    def num(c: org.apache.spark.sql.Column) = c.cast("string")
    concat(
      col("text"),
      when(id % 5 === 0, concat(lit(" mail u"), num(id),
        lit("@ex"), num(id % 10), lit(".com"))).otherwise(""),
      when(id % 7 === 0, concat(lit(" tel +1-"), num(id % 900 + 100),
        lit("-555-"), num(id % 9000 + 1000))).otherwise(""),
      when(id % 11 === 0, concat(lit(" ip 10."), num(id % 256), lit("."),
        num((id * 7) % 256), lit("."), num(id % 250 + 1))).otherwise(""),
      when(id % 13 === 0, concat(lit(" key AKIA"),
        upper(substring(md5(num(id)), 1, 16)))).otherwise(""),
      when(id % 17 === 0, concat(lit(" secret "), md5(num(id)))).otherwise(""))
  }

  /** Spark redaction chain over an arbitrary text column. */
  def redactExpr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Redactions.foldLeft(c) {
      case (acc, (pat, tok)) => regexp_replace(acc, pat, tok)
    }

  private def withPii(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), piiText.as("text"))

  /** Query bodies over an arbitrary documents relation. */
  def scan(documents: DataFrame): DataFrame =
    withPii(documents).select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(Email), lit(0))).as("n_email"),
      size(regexp_extract_all(col("text"), lit(Phone), lit(0))).as("n_phone"),
      size(regexp_extract_all(col("text"), lit(Ipv4), lit(0))).as("n_ipv4"),
      size(regexp_extract_all(col("text"), lit(AwsKey), lit(0))).as("n_key"),
      size(regexp_extract_all(col("text"), lit(HexSecret), lit(0))).as("n_secret"))

  def redact(documents: DataFrame): DataFrame = {
    val redacted = redactExpr(col("text"))
    withPii(documents).select(
      col("doc_id"), redacted.as("redacted"),
      (length(col("text")) - length(redacted)).as("chars_removed"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Per-doc hit counts per PII class — the audit view a curation run
    // reports before deciding to redact vs drop. One regex pass per class
    // over each doc, all inside one codegen'd projection.
    QueryDef(
      "q_pii_scan",
      s"""WITH $baseSql
         |SELECT doc_id,
         |       len(regexp_extract_all(text, '$Email')) AS n_email,
         |       len(regexp_extract_all(text, '$Phone')) AS n_phone,
         |       len(regexp_extract_all(text, '$Ipv4')) AS n_ipv4,
         |       len(regexp_extract_all(text, '$AwsKey')) AS n_key,
         |       len(regexp_extract_all(text, '$HexSecret')) AS n_secret
         |FROM base""".stripMargin) { (s, dir) =>
      scan(Tables.documents(s, dir))
    },

    // Redacted corpus — every class replaced by its token, in one fixed
    // pattern order on both engines. chars_removed is the audit delta
    // (redaction tokens are shorter than everything they replace here).
    QueryDef(
      "q_pii_redact", {
        val redacted = redactSql("text")
        s"""WITH $baseSql
           |SELECT doc_id, $redacted AS redacted,
           |       length(text) - length($redacted) AS chars_removed
           |FROM base""".stripMargin
      }) { (s, dir) =>
      redact(Tables.documents(s, dir))
    })
}
