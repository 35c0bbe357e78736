"""The benchmark's own tests: seeded generators, the percentile rule,
metric naming, the registry family mapping and the output checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402
from families import FAMILIES  # noqa: E402


def _bytes(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_procurement_same_seed_same_bytes(tmp_path):
    a = gen.procurement(7, str(tmp_path / "a"), 3000)
    b = gen.procurement(7, str(tmp_path / "b"), 3000)
    c = gen.procurement(8, str(tmp_path / "c"), 3000)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")
    assert a.vocab == b.vocab != c.vocab


def test_procurement_shape():
    vocab = gen.vocabulary(3)
    assert 1400 <= len(vocab) <= 1600 and len(set(vocab)) == len(vocab)
    # substring pairs: a LIKE on the root also matches the longer word
    assert {"alat", "peralatan", "gedung", "gedungnya"} <= set(vocab)
    roots = set(vocab)
    derived = [w for w in vocab if w.startswith("per") and w.endswith("an") and w[3:-2] in roots]
    assert len(derived) > 50


def test_sf_tables_same_seed_same_bytes(tmp_path):
    gen.sf_tables(5, str(tmp_path / "a"), 1, 50, 50)
    gen.sf_tables(5, str(tmp_path / "b"), 1, 50, 50)
    gen.sf_tables(6, str(tmp_path / "c"), 1, 50, 50)
    a, b, c = (_bytes(tmp_path / x) for x in "abc")
    assert a == b
    assert sorted(a) == sorted(c) and a["lineitem.parquet"] != c["lineitem.parquet"]


def test_question_stream_seeded():
    vocab = gen.vocabulary(1)
    assert gen.questions(1, vocab, 60) == gen.questions(1, vocab, 60)
    other = gen.questions(2, gen.vocabulary(2), 60)
    assert gen.questions(1, vocab, 60) != other


def test_question_stream_shape_is_fixed():
    """Only words and values vary with the seed; the mix is the same."""

    def shape(qs):
        return [(len(q.concepts), q.unit is None, q.since is None, q.chart, q.retry_of) for q in qs]

    a = gen.questions(1, gen.vocabulary(1), 40)
    b = gen.questions(9, gen.vocabulary(9), 40)
    assert shape(a) == shape(b)
    retries = [q for q in a if q.retry_of is not None]
    assert len(retries) == len(a) // 5
    assert all(q == dataclasses.replace(a[q.retry_of], retry_of=q.retry_of) for q in retries)


@pytest.mark.parametrize(
    "n,want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_rule(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        # at least ten samples lie strictly beyond the reported rank
        vals = list(range(n))
        assert sum(v > stats.percentile(vals, want) for v in vals) >= stats.MIN_BEYOND


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(vals, 50) == 3.0
    assert stats.percentile(vals, 100) == 5.0
    assert stats.percentile(vals, 1) == 1.0
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5


def test_benchmark_json_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.valid_name(n), n
    assert {"setup_s", "lap_cpu_s"} <= {m["name"] for m in spec["end_to_end"]}


def test_family_mapping_covers_registry_once():
    import __spark_entry__ as E

    mapped = [n for names in FAMILIES.values() for n in names]
    assert len(mapped) == len(set(mapped)), "an entry is in two families"
    assert sorted(mapped) == sorted(E.queries()), "families out of step with queries()"
    assert len(mapped) == 150


def test_registry_sample_is_registered_and_stays_in_checkout():
    import __spark_entry__ as E
    from registry import SAMPLE, WRITE_ONLY, stages_under_tmp

    qs = E.queries()
    for name in SAMPLE + WRITE_ONLY:
        assert name in qs, name
        assert not stages_under_tmp(qs[name]), name
    sampled = {f for f, names in FAMILIES.items() if set(names) & set(SAMPLE)}
    assert sampled == set(FAMILIES), "every family has an entry in the lap"


def test_registry_sample_weighs_families_as_the_full_lap():
    from registry import FULL_LAP_S, SAMPLE_S

    assert set(FULL_LAP_S) == set(FAMILIES)
    full, sample = sum(FULL_LAP_S.values()), sum(SAMPLE_S.values())
    for fam, names in FAMILIES.items():
        share = sum(s for n, s in SAMPLE_S.items() if n in names) / sample
        assert abs(share - FULL_LAP_S[fam] / full) <= 0.04, fam


def test_agent_checks_flag_a_wrong_chart(tmp_path):
    """The DuckDB checks accept a right answer and count a changed
    value as wrong."""
    import duckdb

    from agent import Answer, WrongAnswer, _check_answer

    data = gen.procurement(4, str(tmp_path), 3000)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{data.path}')")
    q = gen.Question(("alat",), None, None, "bar_chart", None)
    a = Answer(q, where=gen.stage1_where([["alat", "gedung"]], q))
    n, s, lo, hi = con.execute(
        f"SELECT COUNT(*), SUM(total_pagu), MIN(tanggal_umumkan_paket), MAX(tanggal_umumkan_paket)"
        f" FROM t WHERE {a.where}"
    ).fetchone()
    assert n > 0
    a.preview = {"first_rows": [{"jumlah_paket": n, "total_pagu": s, "first_ts": lo, "last_ts": hi}]}
    groups = con.execute(f"SELECT satuan_kerja, SUM(total_pagu) FROM t WHERE {a.where} GROUP BY 1").fetchall()
    vals = [v for _, v in groups]
    top = max(groups, key=lambda g: g[1])[0]
    bottom = min(groups, key=lambda g: g[1])[0]
    rows = [{"satuan_kerja": k, "total_pagu": v} for k, v in groups]
    ins = {"n": len(vals), "sum_v": sum(vals), "max_v": max(vals), "min_v": min(vals),
           "mean_v": sum(vals) / len(vals), "top_category": top, "bottom_category": bottom}
    a.chart = (rows, ins)
    _check_answer(con, a)
    for wrong in ({**ins, "sum_v": ins["sum_v"] + 1}, {**ins, "n": ins["n"] + 1}):
        a.chart = (rows, wrong)
        with pytest.raises(WrongAnswer):
            _check_answer(con, a)
    a.chart = ([{**rows[0], "total_pagu": rows[0]["total_pagu"] + 1}, *rows[1:]], ins)
    with pytest.raises(WrongAnswer):
        _check_answer(con, a)
