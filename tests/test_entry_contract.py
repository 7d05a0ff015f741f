"""Driver-contract smoke: entry() runs at sf0.001 with rows>0 and a stable
schema; every query key resolves; oracle keys ⊆ query keys. Full sf0.01
oracle comparison lives in tools/check_correctness.py (driver-equivalent)."""

import os
import pathlib
import re
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


REPO = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    str(p.relative_to(REPO))
    for d in ("jobs", "tools", "BENCH")
    for p in (REPO / d).glob("*.py")
)
# a package import at the start of a line, in code or in a worker-script
# template string: ``from bloomine_spark.x import a, b`` (parenthesised
# lists may span lines) or ``import bloomine_spark.x``
_PKG_IMPORT = re.compile(
    r"^[ \t]*from[ \t]+(bloomine_spark[\w.]*)[ \t]+import[ \t]+(\([^)]*\)|[\w \t,]+)"
    r"|^[ \t]*import[ \t]+(bloomine_spark[\w.]*)",
    re.M,
)


def _dangling_imports(script):
    """Resolve every package import in ``script``: (dangling, checked)."""
    import importlib

    text = (REPO / script).read_text()
    dangling, checked = [], 0
    for m in _PKG_IMPORT.finditer(text):
        module = m.group(1) or m.group(3)
        names = [None]
        if m.group(1):
            listed = re.sub(r"#.*", "", m.group(2))
            names = re.findall(r"(\w+)(?:\s+as\s+\w+)?", listed)
        line = text.count("\n", 0, m.start()) + 1
        for name in names:
            checked += 1
            try:
                mod = importlib.import_module(module)
                if name is not None and not hasattr(mod, name):
                    importlib.import_module(f"{module}.{name}")
            except ImportError:
                dangling.append(f"line {line}: {module} {name or ''}")
    return dangling, checked


def test_query_imports_resolve():
    """Query bodies import lazily, so a deleted module or renamed name only
    fails when that query runs: resolve every package import up front."""
    dangling, checked = _dangling_imports("__spark_entry__.py")
    assert checked > 0
    assert not dangling, dangling


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_imports_resolve(script):
    """Scripts import lazily too, and the BENCH scripts import inside
    worker templates: the same up-front check for every script."""
    dangling, checked = _dangling_imports(script)
    assert checked or "bloomine_spark" not in (REPO / script).read_text()
    assert not dangling, dangling


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 testdata absent")
def test_package_shipped_once_per_context(spark, monkeypatch):
    """Queries zip and ship the package once per SparkContext, not once per
    query: Spark ignores a re-add of the same path, so each re-zip is waste."""
    from bloomine_spark import session

    calls = []
    real = session.package_zip
    monkeypatch.setattr(session, "package_zip",
                        lambda: calls.append(1) or real())
    # start as a context the package has not been shipped to yet
    monkeypatch.delattr(spark.sparkContext, "_bloomine_pkg_shipped",
                        raising=False)
    for name in ("two_phase_screen", "mg_token_topk"):
        entrymod.queries()[name](spark, SF)
    assert len(calls) == 1


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
