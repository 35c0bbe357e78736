"""``agent_session``: the paper's traffic, one agent in a closed loop.

Each question is the tool chain an agent runs, waiting for every
reply: ``retrieve_keywords`` per concept, ``materialize`` of a keyword
CNF ``LIKE`` query (optional unit and date filters) as
``intermediary_table``, ``preview`` of a stage-2 count query, then one
chart over the intermediary. The benchmark never unpersists the
intermediaries, so the result cache grows as it would in a long
session; ``operators.materialize.cached_*_end`` report it.

Outputs are checked after the timed loop against DuckDB over the same
parquet file: the retrieval ranking against the embedder's Python
twin, the stage-1 row count and sums, and every chart's data and
insights.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from decimal import Decimal

import gen

ROWS = 500_000  # rows of the generated procurement table
TOP_K = 5  # keywords retrieved per concept, OR-ed into one CNF clause
WARM_QUESTIONS = 2  # first pass; the other chart kinds warm up in lap 1
LAP = 5  # questions per lap: one period of the retry pattern
CHART_ARGS = {
    "bar_chart": ("satuan_kerja", "total_pagu"),
    "pie_chart": ("satuan_kerja", "jumlah_paket"),
    "line_chart": ("tanggal_umumkan_paket", "kode_rup", "total_pagu"),
    "histogram": ("total_pagu",),
}


@dataclass
class Answer:
    q: gen.Question
    groups: list[list[dict]] = field(default_factory=list)
    where: str = ""
    preview: dict | None = None
    chart: tuple | None = None


@dataclass
class State:
    engine: object
    answers: list[Answer] = field(default_factory=list)


class AgentSession:
    name = "agent_session"
    why = "the paper's agent loop: per-call fixed cost (gate, Catalyst, jobs, result cache) dominates"
    loop = "closed, 1 client"
    min_laps = 2

    def prepare(self, seed: int, inputs: str, tag: str) -> dict:
        self.seed = seed
        data = gen.procurement(seed, os.path.join(inputs, "procurement"), ROWS)
        self.data = data
        self.stream = gen.questions(seed, data.vocab, 2000)
        return {"rows": data.rows, "bytes": data.bytes, "vocab": len(data.vocab)}

    def bind(self, spark) -> State:
        from data_pengadaan_agent_spark.engine import Engine

        base = spark.read.parquet(self.data.path)
        vocab = spark.read.parquet(self.data.vocab_path)
        engine = Engine(spark, base, vocab_df=vocab)
        engine.schema_check()
        return State(engine)

    def layers(self):
        """(owner, attribute, layer) for every call the traced run
        times: the layers ``run.layer_metrics`` reports."""
        from data_pengadaan_agent_spark import engine as eng
        from data_pengadaan_agent_spark.plans import sql_gate

        out = [(eng.Engine, m, f"engine.{m}") for m in (
            "retrieve_keywords", "materialize", "preview",
            "bar_chart", "line_chart", "pie_chart", "histogram",
        )]
        out.append((sql_gate, "safe_sql", "plans.sql_gate.safe_sql"))
        return out

    def first_pass(self, state: State, traced: bool):
        """A session's first questions, from a stream the timed loop
        never asks: most codegen and class loading is paid here, before
        the timed loop. The same with and without tracing."""
        for q in gen.questions(self.seed, self.data.vocab, WARM_QUESTIONS, stream="warm-up"):
            yield from self.calls(state.engine, Answer(q))

    def cycle(self, state: State, i: int):
        """Lap ``i``: questions ``LAP*i`` to ``LAP*i+LAP-1`` as their
        tool calls, (op name, thunk) each. Every lap has the same
        shape: one retry, two two-concept questions, two one-concept."""
        for q in self.stream[LAP * i : LAP * (i + 1)]:
            a = Answer(q)
            state.answers.append(a)
            yield from self.calls(state.engine, a)

    def calls(self, e, a: Answer):
        q = a.q
        for c in q.concepts:
            yield "retrieve_keywords", lambda c=c: a.groups.append(e.retrieve_keywords(c, top_k=TOP_K))

        def materialize():
            a.where = gen.stage1_where([[r["keyword"] for r in g] for g in a.groups], q)
            e.materialize(f"SELECT {gen.STAGE1_COLS} FROM data_pengadaan WHERE {a.where}")

        yield "materialize", materialize

        def preview():
            a.preview = e.preview(gen.PREVIEW)

        yield "preview", preview
        def draw():
            a.chart = getattr(e, q.chart)(gen.STAGE2[q.chart], *CHART_ARGS[q.chart])

        yield q.chart, draw

    # --- output checks --------------------------------------------------

    def verify(self, state: State) -> list[str]:
        """One message per wrong answer (empty when all are right)."""
        import duckdb

        from data_pengadaan_agent_spark.functions.vectors import hash_ngram_embed

        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.data.path}')")
        emb = {w: hash_ngram_embed(w, 64) for w in self.data.vocab}
        errors = []
        for n, a in enumerate(state.answers):
            try:
                expect(len(a.groups) == len(a.q.concepts) and a.chart is not None, "unanswered")
                for concept, got in zip(a.q.concepts, a.groups):
                    _check_retrieval(hash_ngram_embed(concept, 64), got, emb)
                _check_answer(con, a)
            except Exception as err:  # a check that cannot run is a wrong answer too
                errors.append(f"question {n} {a.q}: {type(err).__name__}: {err}")
        con.close()
        return errors


class WrongAnswer(Exception):
    pass


def expect(ok: bool, message: str) -> None:
    if not ok:
        raise WrongAnswer(message)


def _cos(a: list[float], b: list[float]) -> float:
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        return 0.0
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


def _check_retrieval(q: list[float], got: list[dict], emb: dict) -> None:
    """``got`` is the top-k of the vocabulary by cosine to ``q``."""
    sims = sorted(((_cos(v, q), w) for w, v in emb.items()), key=lambda t: (-t[0], t[1]))
    want = sims[: len(got)]
    expect(len(got) == TOP_K, f"retrieved {len(got)} keywords, want {TOP_K}")
    for g, (s, w) in zip(got, want):
        # equal similarity may order differently in the last bits
        expect(abs(g["similarity"] - s) < 1e-9, f"similarity {g} vs {(w, s)}")
    kth = want[-1][0]
    expect(
        {g["keyword"] for g in got} >= {w for s, w in want if s > kth + 1e-9},
        f"top-{TOP_K} {[g['keyword'] for g in got]} vs {want}",
    )


def _close(a, b, rel: float = 1e-9) -> bool:
    """Equal for integers (exact sums and counts); within ``rel`` for
    floating-point averages and shares."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return abs(float(a) - float(b)) <= rel * max(1.0, abs(float(a)), abs(float(b)))


def _check_answer(con, a: Answer) -> None:
    w = a.where
    n, s, lo, hi = con.execute(
        f"SELECT COUNT(*), SUM(total_pagu), MIN(tanggal_umumkan_paket),"
        f" MAX(tanggal_umumkan_paket) FROM t WHERE {w}"
    ).fetchone()
    p = a.preview["first_rows"][0]
    expect(p["jumlah_paket"] == n, f"stage-1 rows {p['jumlah_paket']} vs {n}")
    expect((p["total_pagu"] or 0) == (s or 0), f"stage-1 sum {p['total_pagu']} vs {s}")
    expect(p["first_ts"] == lo and p["last_ts"] == hi, f"stage-1 dates {p} vs {lo, hi}")
    data, ins = a.chart
    kind = a.q.chart
    if kind in ("bar_chart", "pie_chart"):
        agg = "SUM(total_pagu)" if kind == "bar_chart" else "COUNT(*)"
        y = "total_pagu" if kind == "bar_chart" else "jumlah_paket"
        want = dict(con.execute(f"SELECT satuan_kerja, {agg} FROM t WHERE {w} GROUP BY 1").fetchall())
        got = {r["satuan_kerja"]: r[y] for r in data}
        expect(got == want, f"{kind} data {got} vs {want}")
        vals = list(want.values())
        if kind == "bar_chart":
            expect(ins["n"] == len(vals), f"bar n {ins['n']} vs {len(vals)}")
            expect(_close(ins["sum_v"], sum(vals) if vals else None), f"bar sum {ins}")
            expect(_close(ins["max_v"], max(vals, default=None)), f"bar max {ins}")
            if vals:
                expect(want.get(ins["top_category"]) == max(vals), f"bar top {ins}")
                expect(want.get(ins["bottom_category"]) == min(vals), f"bar bottom {ins}")
        else:
            expect((ins["total"] or 0) == n, f"pie total {ins['total']} vs {n}")
            if vals:
                expect(want.get(ins["largest"]) == max(vals), f"pie largest {ins}")
                expect(want.get(ins["smallest"]) == min(vals), f"pie smallest {ins}")
            for r in data:
                expect(_close(r["share"], r[y] / n), f"pie share {r}")
    elif kind == "line_chart":
        rows = con.execute(
            f"SELECT strftime(tanggal_umumkan_paket, '%Y-%m'), COUNT(kode_rup), SUM(total_pagu)"
            f" FROM t WHERE {w} GROUP BY 1 ORDER BY 1"
        ).fetchall()
        got = [(r["bulan"], r["jumlah_paket"], r["total_pagu"]) for r in data]
        expect(got == [(m, c, Decimal(v)) for m, c, v in rows], f"line data {got[:3]} vs {rows[:3]}")
        expect(ins["total_count"] == (n if rows else None), f"line count {ins}")
        expect(ins["first_month"] == (rows[0][0] if rows else None), f"line first {ins}")
        expect(ins["last_month"] == (rows[-1][0] if rows else None), f"line last {ins}")
        if rows:
            by_value = {m: v for m, _, v in rows}
            by_count = {m: c for m, c, _ in rows}
            expect(by_value.get(ins["peak_value_month"]) == max(by_value.values()), f"line peak value {ins}")
            expect(by_count.get(ins["peak_count_month"]) == max(by_count.values()), f"line peak count {ins}")
    else:
        cnt, mn, mx, mean = con.execute(
            f"SELECT COUNT(total_pagu), MIN(total_pagu), MAX(total_pagu), AVG(total_pagu)"
            f" FROM t WHERE {w}"
        ).fetchone()
        expect(ins["n"] == cnt, f"histogram n {ins['n']} vs {cnt}")
        expect(ins["min_v"] == mn and ins["max_v"] == mx, f"histogram range {ins} vs {mn, mx}")
        expect(_close(ins["mean_v"], mean), f"histogram mean {ins['mean_v']} vs {mean}")
        expect(sum(r["cnt"] for r in data) == cnt, f"histogram bins sum {sum(r['cnt'] for r in data)} vs {cnt}")
