"""Driver-gate mimic: every queries() entry must match its DuckDB
oracle at sf0.001 (row count + columns + order-insensitive values).
The embedding queries must also match on a copy whose first three
vectors are all zeros: a zero vector's cosine is NULL (never a
neighbour, never a near-duplicate) and it ties every centroid, which
the centroid ranking sends to the lower cell id.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, list):
        return tuple(_normalize(x) for x in v)
    return v


def _multiset(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out: dict = {}
    for row in rows:
        key = tuple(_normalize(row[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _entry_module():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ENTRY = _entry_module()


def _all_queries():
    return {**ENTRY.queries(), **ENTRY.extra_queries()}


def _all_oracles():
    return {**ENTRY.oracle_sql(), **ENTRY.extra_oracle_sql()}


QUERY_NAMES = sorted(_all_queries().keys())


def test_driver_window_covers_every_canonical_query():
    """The driver's CORRECTNESS gate records the first 50 dict entries
    of queries() only; the canonical registry must never exceed it."""
    assert len(ENTRY.queries()) <= 50
    # no canonical query may silently lack an oracle (weaker rows-only
    # check) without being a deliberate decision
    assert set(ENTRY.queries()) == set(ENTRY.oracle_sql())
    assert set(ENTRY.extra_queries()) == set(ENTRY.extra_oracle_sql())


def _assert_matches_oracle(spark, con, sf_dir, name):
    sdf = _all_queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    oracles = _all_oracles()
    if name not in oracles:
        assert len(srows) >= 0  # rows-only contract
        return
    cur = con.execute(oracles[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _multiset(srows, sdf.columns) == _multiset(drows, dcols)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, SF_DIR, name)


@pytest.fixture(scope="module")
def zero_vectors(tmp_path_factory):
    """``(sf_dir, duckdb)`` over the sf0.001 embeddings with vectors 0-2
    set to all zeros."""
    table = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    idx = table.schema.get_field_index("embedding")
    field = table.schema.field(idx)
    vecs = table.column(idx).to_pylist()
    vecs[:3] = [[0.0] * len(v) for v in vecs[:3]]
    out = tmp_path_factory.mktemp("zero_vectors")
    pq.write_table(table.set_column(idx, field, pa.array(vecs, field.type)), out / "embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{out}/embeddings.parquet'")
    yield str(out), con
    con.close()


@pytest.mark.parametrize(
    "name",
    ["cosine_topk", "quantized_ann", "lsh_ann", "cosine_neardup", "ivf_ann", "semantic_dedup", "kmeans_centroids"],
)
def test_zero_vectors_match_oracle(spark, zero_vectors, name):
    sf_dir, con = zero_vectors
    _assert_matches_oracle(spark, con, sf_dir, name)


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    assert df.count() > 0
    assert set(df.columns) >= {"doc_id", "title", "plaintext"}
