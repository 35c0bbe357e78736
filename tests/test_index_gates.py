"""The one freshness law behind every persisted index of the registry
(``__spark_entry__._ensure_index``), pinned per index family on a
private copy of the fixtures whose basename — and so whose warehouse
tag — is unique to the test:

- a second call takes the hit path and writes nothing;
- a content edit that keeps the source's row count forces a rebuild,
  and the answer matches the DuckDB twin on the edited data (a gate
  that compares row counts only serves the stale index here);
- a build that raises leaves no sidecar, and the next call rebuilds.
"""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E
from tests.conftest import SF_DIR
from tools.check_oracle import table_to_normalized

WAREHOUSE = os.path.join(os.path.dirname(os.path.abspath(E.__file__)), "spark-warehouse")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _roll(*cols):
    """Shift each column one row up: same rows, new content."""

    def edit(tbl: pa.Table) -> pa.Table:
        for c in cols:
            a = tbl.column(c).combine_chunks()
            tbl = tbl.set_column(
                tbl.schema.get_field_index(c), c, pa.concat_arrays([a[1:], a[:1]])
            )
        return tbl

    return edit


def _halve_value(tbl: pa.Table) -> pa.Table:
    i = tbl.schema.get_field_index("value")
    return tbl.set_column(i, "value", pc.multiply(tbl.column("value"), 0.5))


# family: (source table, content edit, entries, the index the first
# entry builds first)
FAMILIES = {
    "lsh": ("embeddings", _roll("embedding"), ["sim_topk_lsh_precomputed"], "lsh_signatures"),
    "ivf": ("embeddings", _roll("embedding"), ["sim_topk_ivf_precomputed"], "ivf_lists"),
    "ivfpq": ("embeddings", _roll("embedding"), ["ivfpq_adc_topk", "ivfpq_adc_batch"], "ivfpq_codes"),
    "postings": ("documents", _roll("text"), ["bm25_index_retrieval"], "postings_index"),
    "gram_counts": ("documents", _roll("text"), ["dup_spans_incremental"], "gram_counts"),
    "trgm": ("documents", _roll("text"), ["trgm_search", "trgm_similar"], "trgm_index"),
    "bloom": ("documents", _roll("text"), ["bloom_new_rows", "bloom_fill_report"], "bloom_index"),
    "cms": ("documents", _roll("text"), ["cms_freq"], "cms_cube"),
    "hist": ("events", _halve_value, ["hist_quantiles"], "hist_cube"),
    "zonemap": (
        "orders",
        _roll("o_totalprice", "o_orderstatus"),
        ["zonemap_scan", "valueset_scan"],
        "orders_ranged",
    ),
    "kmv": ("lineitem", _roll("l_partkey"), ["kmv_distinct", "kmv_overlap"], "kmv_cube"),
    "zorder": (
        "lineitem",
        _roll("l_partkey", "l_suppkey"),
        ["zorder_zonemap_scan"],
        "lineitem_zordered",
    ),
}


@pytest.fixture()
def private_sf(spark, tmp_path):
    """A copy of the fixtures under a basename no other run shares;
    removes the program's warehouse entries and catalog tables for that
    tag afterwards."""
    tag = f"gates{uuid.uuid4().hex[:12]}"
    sf = str(tmp_path / tag)
    shutil.copytree(SF_DIR, sf)
    yield sf, tag
    for t in spark.catalog.listTables():
        if t.name.endswith(tag) and not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    if os.path.isdir(WAREHOUSE):
        for e in os.listdir(WAREHOUSE):
            if tag in e:
                shutil.rmtree(os.path.join(WAREHOUSE, e), ignore_errors=True)


def _state(tag: str) -> dict[str, tuple[int, int]]:
    out = {}
    for e in os.listdir(WAREHOUSE):
        if tag in e:
            for root, _, files in os.walk(os.path.join(WAREHOUSE, e)):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _assert_oracle_equal(spark, sf: str, name: str) -> None:
    queries = {**E.queries(), **E.retired_queries(), **E.candidate_queries()}
    oracles = {**E.oracle_sql(), **E.retired_oracle_sql(), **E.candidate_oracle_sql()}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    got = table_to_normalized(queries[name](spark, sf).toArrow())
    want = table_to_normalized(con.execute(oracles[name]).arrow())
    assert got == want, f"{name}: index result differs from its twin"


def _run(spark, sf: str, name: str):
    queries = {**E.queries(), **E.retired_queries(), **E.candidate_queries()}
    return queries[name](spark, sf).collect()


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_freshness_law(spark, private_sf, family, monkeypatch):
    sf, tag = private_sf
    table, edit, entries, first_index = FAMILIES[family]
    sidecar = os.path.join(WAREHOUSE, f"{first_index}_{tag}", "_gate.json")
    src = os.path.join(sf, f"{table}.parquet")

    for name in entries:
        _run(spark, sf, name)
    assert os.path.exists(sidecar)

    # hit path: a second call writes nothing
    before = _state(tag)
    for name in entries:
        _run(spark, sf, name)
    assert _state(tag) == before

    # same-row-count content edit: rebuild, and the answer follows it
    pq.write_table(edit(pq.read_table(src)), src)
    with open(sidecar) as f:
        stale_gate = f.read()
    for name in entries:
        _assert_oracle_equal(spark, sf, name)
    with open(sidecar) as f:
        assert f.read() != stale_gate

    # a build that raises leaves no sidecar; the next call rebuilds
    real = E._ensure_index

    def crashing(path, source, params, build):
        def build_then_crash():
            build()
            raise RuntimeError("build crashed")

        return real(path, source, params, build_then_crash)

    pq.write_table(edit(pq.read_table(src)), src)
    monkeypatch.setattr(E, "_ensure_index", crashing)
    with pytest.raises(RuntimeError, match="build crashed"):
        _run(spark, sf, entries[0])
    assert not os.path.exists(sidecar)
    monkeypatch.setattr(E, "_ensure_index", real)
    _assert_oracle_equal(spark, sf, entries[0])
    assert os.path.exists(sidecar)
