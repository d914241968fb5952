"""Driver-contract smoke: entry() + a sample of query/oracle twins at
sf0.001 (the full sweep runs via scripts/check_correctness.py)."""

import importlib.util
import os

import duckdb
import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entrymod():
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def test_entry_returns_rows(spark, entrymod):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"event_id", "user_id", "fetch_epoch", "host_rank"}


def test_queries_all_have_callables(entrymod):
    qs = entrymod.queries()
    assert len(qs) >= 30
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(oracles) >= 25


@pytest.mark.parametrize("name", [
    "flagship_frontier_pop", "q1_pricing_summary", "dedup_exact_fp",
    "token_counts", "record_scalars", "minhash_signatures",
    "ngram_span_dedup", "corpus_resample", "retry_schedules",
    "sitemap_extracts", "semantic_dedup", "embedding_cosine_topk",
    "embedding_dup_pairs", "ann_lsh_topk", "ann_ivf_topk",
])
def test_query_matches_oracle(spark, entrymod, duck, sf_dir, name):
    spdf = entrymod.queries()[name](spark, sf_dir).toPandas()
    dpdf = duck.execute(entrymod.oracle_sql()[name]).fetchdf()
    assert len(spdf) == len(dpdf)
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    a = spdf.reindex(sorted(spdf.columns), axis=1) \
        .sort_values(by=sorted(spdf.columns), na_position="first").reset_index(drop=True)
    b = dpdf.reindex(sorted(dpdf.columns), axis=1) \
        .sort_values(by=sorted(dpdf.columns), na_position="first").reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            assert np.allclose(av.astype(float), bv.astype(float),
                               atol=1e-9, equal_nan=True), c
        else:
            assert av.astype(str).equals(bv.astype(str)), c
