"""COVERAGE.md is the round-entry map — a stale map costs every future
session (VERDICT r10 "What's wrong" #2: seven retired recall-gauge names
survived five rounds in the doc). Pin the doc to the live catalog: every
query name cited must exist in ``queries()``, and every catalog entry
must be cited somewhere in the per-family index. QUERIES.md is pinned
byte for byte to the output of its generator.

No SparkSession needed — the catalog registry imports without one.
"""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# word-anchored so identifiers like `ivfpq_adc_topk` don't yield the
# phantom name `q_adc_topk`
_QNAME = re.compile(r"(?<![a-zA-Z0-9_])q\d*_[a-z0-9_]+")


def _cited(path):
    with open(os.path.join(REPO, path)) as f:
        return set(_QNAME.findall(f.read()))


def test_coverage_doc_names_match_catalog():
    from aircraftutilization_etl_spark.plans import CATALOG

    cited = _cited("COVERAGE.md")
    live = set(CATALOG)
    assert not cited - live, f"COVERAGE.md cites retired names: {sorted(cited - live)}"
    assert not live - cited, f"catalog queries missing from COVERAGE.md: {sorted(live - cited)}"


def test_queries_doc_names_match_catalog():
    """QUERIES.md is generated (tools/gen_query_index.py) — assert it is
    byte-for-byte the generator's output for the live catalog, so a
    docstring edit that is not regenerated fails here, not just a
    renamed query."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_query_index", os.path.join(REPO, "tools", "gen_query_index.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(REPO, "QUERIES.md"), encoding="utf-8") as f:
        assert f.read() == gen.render(), (
            "QUERIES.md is stale: rerun tools/gen_query_index.py"
        )
