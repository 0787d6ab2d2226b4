"""Literal-value pins for the URL canonicalization family.

The cross-engine oracle gate is structurally blind to a rule that is
wrong the same way on both sides (the r8 dollars() lesson), so the
canonicalizer gets the md5-fragment-pin treatment (VERDICT r10 #1):
ground truth here is HAND-WRITTEN expected strings, never cross-engine
agreement. Two derivations are pinned against the same literals:

1. the layered/regex Spark form the catalog queries execute
   (with_canonical_columns);
2. the DuckDB oracle CTE chain (plans/url.CANON_CTES) replayed over a
   literal VALUES table.

The synthetic-URL GENERATOR is pinned the same way (expected URLs
hand-derived from md5 nibbles — doc 0's digest cfcd2084... walked
through every rule by hand), on both engines.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyspark.sql.functions as F

from aircraftutilization_etl_spark.operators.url import (
    synthetic_url_expr,
    with_canonical_columns,
    with_url_columns,
)
from aircraftutilization_etl_spark.plans.url import CANON_CTES, GEN_CTES

# (url, expected_canonical, expected_domain) — every rule covered:
# scheme/host case, www-strip, default-port drop (both schemes),
# non-default port kept, fragment drop, tracking-param removal with
# survivor order preserved, trailing-slash strip, root path kept,
# multi-label public suffixes, deep subdomains, single-label hosts,
# empty path, empty query.
CANON_FIXTURES = [
    (
        "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&id=3&ref=y#frag",
        "http://example.com/a/b?id=3",
        "example.com",
    ),
    (
        "https://news.bbc.co.uk:443/path",
        "https://news.bbc.co.uk/path",
        "bbc.co.uk",
    ),
    (
        "https://a.b.site.com.au:8080/x?gclid=1",
        "https://a.b.site.com.au:8080/x",
        "site.com.au",
    ),
    ("http://localhost/", "http://localhost/", "localhost"),
    ("https://example.io", "https://example.io", "example.io"),
    (
        "http://www.example.de/dir/page?page=2&q=a&utm_medium=z",
        "http://example.de/dir/page?page=2&q=a",
        "example.de",
    ),
    (
        "HTTPS://WWW.STUDY.AC.JP:443/?fbclid=abc#x",
        "https://study.ac.jp/",
        "study.ac.jp",
    ),
    (
        "http://www.www.double.org/p/",
        "http://www.double.org/p",  # exactly ONE leading www. stripped
        "double.org",
    ),
]

# (doc_id, source, expected_url): expected strings hand-derived from
# the md5 nibble rules. Worked example for doc 0 (md5('0') =
# cfcd208495d565ef..., md5('src0') starts '5...'): scheme nibble 'd' ->
# HTTPS; www nibble 'f' -> none; case nibble 'c' -> as-is; tld '5' ->
# net; port nibble '2' -> default :443; path 0%5=0 with trailing slash
# (nibble '0'); params: page=2 (nibble '4'), fbclid=d565 (nibble '5');
# fragment #sec6 (nibbles '5','6').
GEN_FIXTURES = [
    (0, "src0", "HTTPS://src0.net:443/docs/0/?page=2&fbclid=d565#sec6"),
    (
        1,
        "src1",
        "http://WWW.src1.com.au:8080/docs/1/?utm_source=feed&fbclid=b923",
    ),
    (2, "src2", "HTTP://SRC2.COM.AU/docs/2/"),
    (3, "src3", "http://src3.ac.jp/docs/3?utm_source=feed&q=spark"),
    (
        4,
        "src4",
        "HTTP://src4.co.uk/docs/4/?utm_source=feed&fbclid=f3e7#sece",
    ),
    (5, "src5", "http://WWW.src5.com:8080/docs/0?utm_source=feed"),
    (8, "src8", "https://src8.org/docs/3?page=2"),
    (
        10,
        "src10",
        "http://www.src10.co.uk:8080/docs/0/?utm_source=feed&q=spark"
        "&fbclid=a442#sec4",
    ),
]


def test_generator_fixture_doc0_nibbles_are_what_the_comment_says():
    """The hand-derivation in GEN_FIXTURES' comment is checkable: the
    digest and the nibbles driving each rule."""
    h = hashlib.md5(b"0").hexdigest()  # noqa: S324
    assert h.startswith("cfcd208495d565ef")
    assert h[3] == "d"  # scheme nibble -> HTTPS
    assert h[1] == "f"  # www nibble -> none
    assert h[4] == "2"  # port nibble -> default
    assert h[10:14] == "d565"  # fbclid payload
    assert hashlib.md5(b"src0").hexdigest()[0] == "5"  # noqa: S324  tld->net


def test_synthetic_url_spark_matches_literal_pins(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s, _ in GEN_FIXTURES], "doc_id long, source string"
    )
    got = {
        r.doc_id: r.url
        for r in df.select(
            "doc_id", synthetic_url_expr().alias("url")
        ).collect()
    }
    assert got == {i: u for i, _, u in GEN_FIXTURES}


def test_synthetic_url_oracle_matches_literal_pins():
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, 'x', '{s}', 1)" for i, s, _ in GEN_FIXTURES
    )
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM (VALUES {vals}) "
        "AS t(doc_id, lang, source, n_chars)"
    )
    got = dict(
        con.execute(
            f"WITH {GEN_CTES} SELECT doc_id, url FROM urls"
        ).fetchall()
    )
    assert got == {i: u for i, _, u in GEN_FIXTURES}


def test_canonicalization_layered_form_matches_pins(spark):
    df = spark.createDataFrame(
        [(u,) for u, _, _ in CANON_FIXTURES], "url string"
    )
    rows = with_canonical_columns(df).collect()
    got = {r.url: (r.canonical_url, r.domain) for r in rows}
    assert got == {u: (c, d) for u, c, d in CANON_FIXTURES}


def test_canonicalization_oracle_ctes_match_pins():
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, 'x', 's', 1, '{u}')"
        for i, (u, _, _) in enumerate(CANON_FIXTURES)
    )
    sql = (
        f"WITH urls AS (SELECT * FROM (VALUES {vals}) "
        f"AS t(doc_id, lang, source, n_chars, url)), {CANON_CTES} "
        "SELECT url, canonical_url, domain FROM cdocs"
    )
    got = {u: (c, d) for u, c, d in con.execute(sql).fetchall()}
    assert got == {u: (c, d) for u, c, d in CANON_FIXTURES}


def test_canonicalization_is_idempotent_on_corpus(spark):
    """canonical(canonical(url)) == canonical(url) for every synthetic
    URL — the defining property of a canonical form."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    c1 = with_url_columns(d.select("doc_id", "source")).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    c2 = with_canonical_columns(c1)
    bad = c2.filter(F.col("canonical_url") != F.col("url")).count()
    assert bad == 0
