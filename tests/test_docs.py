"""Docs ↔ registry consistency guards."""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

from queue_system_simulator_spark.plans import QUERIES, all_queries

ROOT = Path(__file__).resolve().parent.parent


def test_readme_counts_match_registry():
    src = (ROOT / "README.md").read_text()
    m = re.search(
        r"# (\d+) registered queries \((\d+) oracle-backed driver-facing "
        r"\+ (\d+) rows-only pytest-gated\)",
        src,
    )
    assert m, "README layout line with query counts missing"
    assert int(m.group(1)) == len(QUERIES)
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    assert int(m.group(2)) == n_oracle
    assert int(m.group(2)) == len(all_queries())  # rows-only NOT exposed
    assert int(m.group(3)) == len(QUERIES) - n_oracle


def test_queries_md_count_matches_registry():
    src = (ROOT / "QUERIES.md").read_text()
    m = re.search(r"(\d+) queries, (\d+) oracle-checked, (\d+) rows-only", src)
    assert m
    assert int(m.group(1)) == len(QUERIES)
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    assert int(m.group(2)) == n_oracle
    assert int(m.group(3)) == len(QUERIES) - n_oracle


def test_queries_md_is_the_generated_catalog():
    path = ROOT / "tools" / "gen_query_docs.py"
    spec = importlib.util.spec_from_file_location("gen_query_docs", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert (ROOT / "QUERIES.md").read_text() == mod.render(), (
        "QUERIES.md is stale: run python tools/gen_query_docs.py"
    )


def test_driver_window_is_exactly_fifty_and_oracled():
    from queue_system_simulator_spark.plans import DRIVER_WINDOW

    assert len(DRIVER_WINDOW) == 50
    q = all_queries()
    assert list(q)[:50] == DRIVER_WINDOW
    # The driver has no rows-only check (err:"no_oracle" in r01 AND r07),
    # so every graded window slot must carry an oracle.
    for name in DRIVER_WINDOW:
        assert QUERIES[name].oracle is not None, name
    # And rows-only entries must not reach the driver map at all.
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            assert name not in q, name


# A snake_case token with one of these prefixes in a description names a
# query of the registry.
_SNAKE_TOKEN = re.compile(r"\b[a-z][a-z0-9]*(?:_[a-z0-9]+)+\b")
_FAMILY_PREFIXES = (
    "embed_", "kmeans_", "ivf_", "pq_", "sq8_", "lsh_", "minhash_", "dedup_",
    "tpch_q", "streaming_", "kernel_", "fifo_",
)


def test_descriptions_name_only_registered_queries():
    unknown = sorted(
        (name, token)
        for name, spec in QUERIES.items()
        for token in _SNAKE_TOKEN.findall(spec.description)
        if token.startswith(_FAMILY_PREFIXES) and token not in QUERIES
    )
    assert not unknown, unknown
