"""PII detection + redaction for training-data pipelines: emails,
phone numbers, SSNs, credit-card numbers, IPv4 addresses.

A 100-TB crawl cleanup must strip contact/identity strings before
training.  Everything here is a chain of JVM-side ``regexp_replace`` /
``regexp_extract_all`` column expressions (whole-stage codegen, narrow
map, zero shuffle, no Python in the hot path) — the canonical "C4-style
badwords/PII scrub" stage of a webtext pipeline.

Pattern dialect is deliberately restricted to the RE2-compatible subset
(no lookaround, no backreferences, ``(?:...)`` groups only) so the SAME
pattern text runs identically under Spark (java.util.regex) and DuckDB
(RE2) — the contract oracle replays the chain verbatim in DuckDB and the
driver hash-compares the redacted text.

Reference analog: the reference scrubs markup rather than PII
(`lucene/analysis/common/src/java/org/apache/lucene/analysis/charfilter/HTMLStripCharFilter.java`
— a char-level rewrite pass ahead of tokenization); this module is the
same pipeline position (pre-tokenize text rewrite) for the training-data
use case the brief adds on top of §2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# (name, RE2-safe pattern, replacement) — applied IN ORDER.  Order
# matters: SSNs and credit cards are digit runs a phone pattern could
# half-eat, so they redact first; emails go before everything because
# their local parts may contain digits.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("cc", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b|\b\d{16}\b", "<CC>"),
    ("phone",
     r"\+\d{1,2}[-. ]\(?\d{3}\)?[-. ]?\d{3}[-. ]\d{4}"
     r"|\(\d{3}\)[-. ]?\d{3}[-. ]\d{4}"
     r"|\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
     "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
]


def redact_expr(col: Column) -> Column:
    """The full redaction chain as one nested column expression."""
    out = col
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "redacted",
               with_counts: bool = True) -> DataFrame:
    """Redact all PII classes from ``text_col``; optionally add one
    ``n_<class>`` LONG column per class (counts over the original text).

    100-TB shape: a pure narrow projection — no shuffle, no Python, one
    codegen stage fused with whatever scan feeds it.  Filters such as
    ``n_email = 0`` push down to the parquet scan like any other
    expression."""
    src = F.col(text_col)
    out = df.withColumn(out_col, redact_expr(src))
    if with_counts:
        for name, pat, _repl in PII_PATTERNS:
            out = out.withColumn(
                f"n_{name}",
                F.size(F.regexp_extract_all(src, F.lit(pat), F.lit(0)))
                .cast("long"))
    return out


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level PII tallies: docs touched + total occurrences per
    class.  One map-side-combinable aggregation (partial agg before the
    single-row shuffle) — scale-safe."""
    red = redact_pii(df, text_col)
    aggs = []
    for name, _p, _r in PII_PATTERNS:
        c = F.col(f"n_{name}")
        aggs.append(F.sum((c > 0).cast("long")).alias(f"docs_{name}"))
        aggs.append(F.sum(c).alias(f"total_{name}"))
    return red.agg(*aggs)
