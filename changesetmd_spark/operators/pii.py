"""PII detection / redaction over the documents corpus.

The scrub a training-data pipeline runs before anything else: find
emails, phone numbers, and IPv4 addresses in raw text, replace them with
typed placeholder tokens, and report per-source audit stats (how many
docs were touched, how many of each entity, how many characters the
redaction removed) plus an order-independent content hash of the
redacted corpus so downstream stages can verify they consumed the
scrubbed text.

The synthetic `documents` fixture contains no real PII, so the query
front-loads a *deterministic injection stage*: for ``doc_id % 7 == 0``
an email, ``% 11 == 0`` a phone, ``% 13 == 0`` an IPv4 — each built with
pure integer/string algebra that Spark and DuckDB evaluate identically.
The injection is test scaffolding; the operator core (regex detect →
regex redact → per-source audit aggregate) is exactly what runs on a
real corpus, and everything downstream of the injection is driven only
by the regexes.

Determinism / oracle parity:

* the three regexes use only constructs Java regex and RE2 agree on
  (char classes, bounded repetition; no backrefs, no lookaround, no
  ``\\b``);
* Spark ``regexp_replace`` is replace-all by default; the DuckDB oracle
  passes the ``'g'`` flag explicitly;
* the corpus hash folds each doc's md5 into a 60-bit integer
  (``conv(substr(md5, 1, 15), 16, 10)`` — ``dedup._md5_long``) and
  combines with ``bit_xor``: commutative, associative, overflow-free,
  so partition order cannot affect it.

Scale shape (100 TB): one scan of documents; injection, regex counting
and redaction are all narrow row-local JVM expressions inside
whole-stage codegen (no Python, no UDF); the only shuffle is the final
hash aggregate on the low-cardinality ``source`` key with map-side
partial aggregation — bytes over the wire are O(#sources), not O(data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .dedup import _md5_long

# Patterns restricted to the Java-regex ∩ RE2 common subset.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE = r"\d{3}-\d{3}-\d{4}"
_IPV4 = r"(\d{1,3}\.)\d{1,3}\.\d{1,3}\.\d{1,3}"


@register(
    "q_pii_redaction_stats",
    oracle=f"""
    WITH aug AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-'
                          || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                          || '-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.' || CAST((doc_id // 256) % 256 AS VARCHAR)
                          || '.' || CAST(doc_id % 250 + 1 AS VARCHAR)
                     ELSE '' END AS aug_text
      FROM documents
    ), scanned AS (
      SELECT source,
             aug_text,
             len(regexp_extract_all(aug_text, '{_EMAIL}')) AS n_email,
             len(regexp_extract_all(aug_text, '{_PHONE}')) AS n_phone,
             len(regexp_extract_all(aug_text, '{_IPV4}'))  AS n_ip,
             regexp_replace(
               regexp_replace(
                 regexp_replace(aug_text, '{_EMAIL}', '[EMAIL]', 'g'),
                 '{_PHONE}', '[PHONE]', 'g'),
               '{_IPV4}', '[IP]', 'g') AS redacted
      FROM aug
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(n_ip) AS BIGINT)    AS n_ips,
           CAST(SUM(length(aug_text)) AS BIGINT)  AS chars_in,
           CAST(SUM(length(redacted)) AS BIGINT)  AS chars_out,
           bit_xor(('0x' || substr(md5(redacted), 1, 15))::BIGINT)
             AS redacted_hash
    FROM scanned
    GROUP BY source
    """,
)
def q_pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect + redact synthetic PII; per-source audit stats and a
    corpus content hash.  See module docstring for the injection fixture
    and the parity / scale argument."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    did = F.col("doc_id")
    email_part = F.when(
        did % 7 == 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise("")
    phone_part = F.when(
        did % 11 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise("")
    ip_part = F.when(
        did % 13 == 0,
        F.concat(
            F.lit(" host 10."),
            (did % 256).cast("string"),
            F.lit("."),
            (F.expr("doc_id div 256") % 256).cast("string"),
            F.lit("."),
            (did % 250 + 1).cast("string"),
        ),
    ).otherwise("")
    aug = docs.select(
        "source",
        F.concat(F.col("text"), email_part, phone_part, ip_part).alias(
            "aug_text"
        ),
    )
    a = F.col("aug_text")
    scanned = aug.select(
        "source",
        "aug_text",
        F.size(F.regexp_extract_all(a, F.lit(_EMAIL), F.lit(0))).alias(
            "n_email"
        ),
        F.size(F.regexp_extract_all(a, F.lit(_PHONE), F.lit(0))).alias(
            "n_phone"
        ),
        F.size(F.regexp_extract_all(a, F.lit(_IPV4), F.lit(0))).alias(
            "n_ip"
        ),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(a, _EMAIL, "[EMAIL]"),
                _PHONE,
                "[PHONE]",
            ),
            _IPV4,
            "[IP]",
        ).alias("redacted"),
    )
    touched = F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0
    return scanned.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(touched, 1).otherwise(0)).cast("long").alias(
            "docs_with_pii"
        ),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum("n_ip").cast("long").alias("n_ips"),
        F.sum(F.length("aug_text")).cast("long").alias("chars_in"),
        F.sum(F.length("redacted")).cast("long").alias("chars_out"),
        F.bit_xor(_md5_long(F.col("redacted"))).alias("redacted_hash"),
    )
