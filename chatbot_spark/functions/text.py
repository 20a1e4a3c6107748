"""Text scalar functions (SURVEY §2.H H5/H6/H10-H12) — pure Catalyst.

H5  doc-URL rewrite: the reference maps local clone paths to canonical
    GitHub URLs via ordered regex prefix rules (src/rag/ob.py:53-64, 81-93).
H6  citation-marker rewrite: ``[[@N]]`` patterns in generated answers are
    renumbered and linked (src/rag/rag_graph.py:44, 517-548).
H12 ref-strip: drop a trailing reference list from history messages
    (src/frontend/chat_ui.py:333-352).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered (pattern, replacement) rules, mirroring the reference's rule table
# (ob.py:53-64): local clone path prefix → canonical docs URL.
DEFAULT_URL_RULES: list[tuple[str, str]] = [
    (r"^.*?oceanbase-doc/([^#]*)$", "https://github.com/oceanbase/oceanbase-doc/blob/V4.3.4/$1"),
    (r"^.*?ocp-doc/([^#]*)$", "https://github.com/oceanbase/ocp-doc/blob/V4.3.0/$1"),
    (r"^.*?oms-doc/([^#]*)$", "https://github.com/oceanbase/oms-doc/blob/V4.2.5/$1"),
    (r"^.*?obd-doc/([^#]*)$", "https://github.com/oceanbase/obd-doc/blob/V2.10.0/$1"),
    (r"^.*?ob-operator/([^#]*)$", "https://github.com/oceanbase/ob-operator/blob/master/$1"),
    (r"^.*?odp-doc/([^#]*)$", "https://github.com/oceanbase/odp-doc/blob/V4.3.2/$1"),
    (r"^.*?odc-doc/([^#]*)$", "https://github.com/oceanbase/odc-doc/blob/V4.3.2/$1"),
]


def rewrite_doc_url(col: Column, rules: list[tuple[str, str]] | None = None) -> Column:
    """H5: first-matching-rule URL rewrite as chained conditionals —
    rule order preserved like the reference's loop (ob.py:81-93)."""
    out = col
    expr = None
    for pat, repl in rules or DEFAULT_URL_RULES:
        hit = F.regexp_replace(col, pat, repl)
        cond = col.rlike(pat)
        expr = F.when(cond, hit) if expr is None else expr.when(cond, hit)
    return expr.otherwise(out) if expr is not None else out


def extract_citation_orders(col: Column) -> Column:
    """H6a: all ``[[@N]]`` citation orders in a text column, as ARRAY<INT>.
    Pattern mirrors rag_graph.py:44 ``(\\[+\\@(\\d+)\\]+)``."""
    return F.transform(
        F.regexp_extract_all(col, F.lit(r"\[+@(\d+)\]+"), 1), lambda x: x.cast("int")
    )


def rewrite_citations(text_col: Column, urls_col: Column) -> Column:
    """H6b: replace each ``[[@N]]`` with ``[N](url_N)`` given an ARRAY<STRING>
    of URLs (1-indexed, like the reference's docs[order-1] lookup
    rag_graph.py:530-533). Out-of-range orders are left untouched.

    Set-at-a-time form of the reference's streaming-buffer rewrite: a
    bounded reduce over the distinct orders present in the row.
    """
    orders = F.array_distinct(extract_citation_orders(text_col))
    return F.reduce(
        orders,
        text_col,
        lambda acc, n: F.when(
            (n >= 1) & (n <= F.size(urls_col)),
            F.regexp_replace(
                acc,
                F.concat(F.lit(r"\[+@"), n.cast("string"), F.lit(r"\]+")),
                F.concat(F.lit("["), n.cast("string"), F.lit("]("), F.try_element_at(urls_col, n), F.lit(")")),
            ),
        ).otherwise(acc),
    )


def strip_reference_suffix(col: Column, ref_tip: str) -> Column:
    """H12: content before the reference-list marker (chat_ui.py:333-352)."""
    return F.split(col, F.lit(ref_tip).cast("string"), 2).getItem(0)


# PII redaction (beyond-reference §2.J scope): the scrub every shareable
# training corpus runs before release. Patterns are deliberately restricted
# to syntax with IDENTICAL semantics in Java regex (Spark) and RE2 (DuckDB/
# Go scrubbers): character classes, bounded repetition, \b anchors — no
# lookarounds, no backrefs — so one rule table serves engine and oracle.
PII_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{3,4}-\d{4}\b", "<PHONE>"),
]


def count_pii(col: Column, pattern: str) -> Column:
    """Occurrences of one PII pattern (JVM regexp_count — codegen'd)."""
    return F.regexp_count(col, F.lit(pattern))


def redact_pii(col: Column, rules: list[tuple[str, str]] | None = None) -> Column:
    """Replace every PII match with its placeholder, rules applied in
    order. Pure regexp_replace chain: a narrow map with zero shuffle —
    the 100 TB scrub is exactly one scan. Rule ORDER matters (email
    before IP: an address like u.1.2.3.4@x.yz must redact as one email,
    not leave an <IP> island), mirroring the first-match discipline of
    `rewrite_doc_url`.
    """
    out = col
    for pat, repl in rules or PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


# URL canonicalization (beyond-reference §2.J scope): the dedup key for
# web-crawl corpora. Tracking params dropped, params sorted, scheme/host
# lowercased, default port stripped, fragment removed — path case is
# PRESERVED (paths are case-sensitive; hosts are not).
TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|ref)="


def canonicalize_url(col: Column) -> Column:
    """Canonical form of an http(s) URL — pure regex/array builtins, one
    narrow map. Unparseable inputs (no scheme) pass through unchanged."""
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    host = F.when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).otherwise(hostport)
    path = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(col, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qs = F.concat_ws("&", params)
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
    return F.when(scheme == "", col).otherwise(rebuilt)
