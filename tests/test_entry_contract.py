"""Driver-contract smoke: entry() runs at sf0.001 with rows>0 and a stable
schema; every query key resolves; oracle keys ⊆ query keys. Full sf0.01
oracle comparison lives in tools/check_correctness.py (driver-equivalent)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "source"}


def test_query_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 15
    assert set(oracles).issubset(set(qs))
    # sketch-estimate queries are intentionally un-oracled
    for name in ("hll_distinct_kgrams_per_source", "cms_token_freq_topk",
                 "kll_ntok_quantiles", "tdigest_ntok_quantiles"):
        assert name in qs and name not in oracles


def test_query_imports_resolve():
    """Query bodies import lazily, so a deleted module or renamed name only
    fails when that query runs: resolve every package import up front."""
    import ast
    import importlib
    import pathlib

    tree = ast.parse(pathlib.Path(entrymod.__file__).read_text())
    dangling, checked = [], 0
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            targets = [(node.module, a.name) for a in node.names]
        else:
            continue
        for module, name in targets:
            if module.split(".")[0] != "bloomine_spark":
                continue
            checked += 1
            try:
                mod = importlib.import_module(module)
                if name is not None and not hasattr(mod, name):
                    importlib.import_module(f"{module}.{name}")
            except ImportError:
                dangling.append(f"line {node.lineno}: {module} {name or ''}")
    assert checked > 0
    assert not dangling, dangling


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_three_oracle_queries_at_sf0001(spark):
    """Cheap end-to-end oracle spot check (full set: tools/check_correctness.py)."""
    import duckdb

    from tools.check_correctness import TABLES, value_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in ("two_phase_screen", "salted_source_counts", "token_freq_topk_exact"):
        got = qs[name](spark, SF).toPandas()
        want = con.sql(oracles[name]).df()
        assert len(got) == len(want), name
        assert value_hash(got) == value_hash(want), name


def test_scrub_pii_crafted(spark):
    import pandas as pd

    from bloomine_spark.operators.textops import scrub_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "mail a.b+c@x-y.co and 10.0.0.1 call 555-123-4567 ok",
                    "clean text only",
                ],
            }
        )
    )
    got = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert got[1]["clean_text"] == "mail <EMAIL> and <IPV4> call <PHONE> ok"
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 1)
    assert got[2]["clean_text"] == "clean text only"
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
