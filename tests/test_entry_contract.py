"""Driver-contract smoke: entry() produces rows with a stable schema; every
queries() key with an oracle has matching SQL; a sampled subset is verified
against DuckDB here (the full sweep runs in tools/check_entry.py)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.01"
TABLES = ["documents", "embeddings"]
SAMPLE = ["term_stats", "bm25_topk_multi", "dedup_exact", "cosine_topk", "token_counts"]


@pytest.fixture(scope="module")
def entry_mod():
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as m

    return m


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "score", "lang", "source", "n_chars"]


def test_oracle_keys_subset_of_queries(entry_mod):
    qs = set(entry_mod.queries())
    os_ = set(entry_mod.oracle_sql())
    assert os_ <= qs
    assert qs == os_  # every query has a full DuckDB value-hash oracle


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _oracle_match(spark, entry_mod, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    got = _normalize(entry_mod.queries()[name](spark, SF).toPandas())
    want = _normalize(con.execute(entry_mod.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("name", SAMPLE)
def test_sampled_oracle_match(spark, entry_mod, name):
    _oracle_match(spark, entry_mod, name)


@pytest.mark.parametrize("backend", ["resident", "spark"])
@pytest.mark.parametrize("name",
                         ["wand_topk", "batch_wand_topk", "wand_topk_deletes"])
def test_wand_entries_on_both_backends(spark, entry_mod, monkeypatch, name,
                                       backend):
    """The WAND registry entries match their DuckDB oracles whether the
    segments are scored in the driver (resident) or by the Spark plan
    (driver memory budget forced to zero)."""
    from searchengine_spark.operators import wand

    if backend == "spark":
        monkeypatch.setattr(wand, "_budget_postings", lambda: 0)
    real, picked = wand.resident_index, []
    monkeypatch.setattr(wand, "resident_index",
                        lambda *a: picked.append(real(*a)) or picked[-1])
    _oracle_match(spark, entry_mod, name)
    assert picked and (picked[-1] is None) == (backend == "spark")
