"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from the run's
``--seed``: the same seed gives byte-identical tables and the same
question stream, a different seed gives different ones. Nothing is
read from outside the checkout.

- ``procurement``: the ``data_pengadaan`` fact table of FIXTURES.md
  §A1 (columns, int64 budgets past int32, skewed units and dates,
  keyword lists with substring pairs such as ``alat``/``peralatan``)
  plus its keyword vocabulary.
- ``questions``: the agent's question stream over that table.
- ``sf_tables``: the ten fixture-shaped tables (FIXTURES.md §B) the
  registry entries read, at a small scale factor.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

UNITS = (
    "Dinas Pekerjaan Umum dan Penataan Ruang",
    "Dinas Pendidikan",
    "Dinas Kesehatan",
    "Sekretariat Daerah",
    "Dinas Perhubungan",
    "Dinas Lingkungan Hidup",
    "Badan Pengelolaan Keuangan dan Aset Daerah",
    "Dinas Sosial",
)
# Zipf-like skew: the largest unit holds ~40% of the packages.
UNIT_WEIGHTS = np.array([1 / (i + 1) ** 1.2 for i in range(len(UNITS))])
UNIT_WEIGHTS /= UNIT_WEIGHTS.sum()

PREFIXES = ("Pengadaan", "Belanja", "Pemeliharaan", "Rehabilitasi", "Jasa", "Pembangunan")
# Real substring pairs (FIXTURES.md §A1): each root also appears inside
# a longer keyword, so a LIKE '%root%' filter matches both.
ANCHORS = ("alat", "peralatan", "gedung", "gedungnya", "kantor", "perkantoran", "jalan", "jalanan")
_ONSETS = ("b", "c", "d", "g", "h", "j", "k", "l", "m", "n", "p", "r", "s", "t", "w", "ng", "ny", "kr", "tr", "pr")
_VOWELS = ("a", "e", "i", "o", "u")
_CODAS = ("", "", "n", "ng", "r", "s", "t", "k", "l", "h")

T0 = np.datetime64("2023-12-27T00:00:00", "s")
T1 = np.datetime64("2024-10-08T23:59:59", "s")
JAN0 = np.datetime64("2024-01-01T00:00:00", "s")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so changing one table's
    generator never shifts another's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def vocabulary(seed: int, n_roots: int = 1200, n_derived: int = 300) -> list[str]:
    """~1.5k lowercase keywords: syllable roots plus affixed forms that
    contain a root as a substring (``per``+root+``an``, root+``nya``)."""
    rng = _rng(seed, "vocab")
    words: list[str] = list(ANCHORS)
    seen = set(words)
    while len(words) < n_roots:
        n_syl = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))] + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(n_syl)
        ) + _CODAS[rng.integers(len(_CODAS))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    roots = words[len(ANCHORS):]
    for i in rng.permutation(len(roots)):
        if len(words) >= n_roots + n_derived:
            break
        r = roots[i]
        w = f"per{r}an" if rng.random() < 0.5 else f"{r}nya"
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def keyword_rank(seed: int, n: int) -> np.ndarray:
    """Popularity rank of each vocabulary word (0 = most used); row
    keywords are drawn Zipf-like over it."""
    return _rng(seed, "rank").permutation(n)


@dataclass(frozen=True)
class Procurement:
    path: str  # parquet file of the fact table
    vocab_path: str  # parquet file of the keyword vocabulary
    vocab: list[str]
    rows: int
    bytes: int


def procurement(seed: int, out_dir: str, rows: int) -> Procurement:
    """Write the seeded ``data_pengadaan`` table and its keyword
    vocabulary to ``out_dir``."""
    vocab = vocabulary(seed)
    rng = _rng(seed, "procurement")
    p = 1.0 / (keyword_rank(seed, len(vocab)) + 1.0) ** 0.9
    p /= p.sum()
    n_kw = rng.integers(3, 8, rows)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(n_kw, out=offsets[1:])
    kw_idx = rng.choice(len(vocab), size=int(offsets[-1]), p=p)
    vocab_arr = pa.array(vocab)
    kw_lists = pa.ListArray.from_arrays(pa.array(offsets), vocab_arr.take(pa.array(kw_idx)))
    filtered = pc.binary_join(kw_lists, ",")
    first = vocab_arr.take(pa.array(kw_idx[offsets[:-1]]))
    second = vocab_arr.take(pa.array(kw_idx[offsets[:-1] + 1]))
    prefix = pa.array(PREFIXES).take(pa.array(rng.integers(0, len(PREFIXES), rows)))
    nama = pc.binary_join_element_wise(prefix, first, second, " ")
    uraian = pc.binary_join_element_wise(
        nama, "Lokasi: Kota Bandung", pc.binary_join(kw_lists, " "), "\r\n"
    )
    spes = pc.if_else(
        pa.array(rng.random(rows) < 0.7),
        uraian,
        pc.binary_join_element_wise(uraian, "spesifikasi teknis terlampir", "\r\n"),
    )
    units = pa.array(UNITS).take(pa.array(rng.choice(len(UNITS), rows, p=UNIT_WEIGHTS)))
    # budgets 11 … 5.4e9: log-uniform, so int32 overflow is reachable
    pagu = np.exp(rng.uniform(np.log(11.0), np.log(5.4e9), rows)).astype(np.int64)
    # dates: 40% in January 2024, the rest over the whole window; drawn
    # from a pool so several packages share one announcement timestamp
    pool = np.where(
        rng.random(rows // 4 + 1) < 0.4,
        JAN0 + rng.integers(0, 31 * 86400, rows // 4 + 1).astype("timedelta64[s]"),
        T0 + rng.integers(0, int((T1 - T0).astype(int)), rows // 4 + 1).astype("timedelta64[s]"),
    )
    tanggal = pool[rng.integers(0, len(pool), rows)].astype("datetime64[us]")
    kode = 10_000_000 + rng.permutation(rows).astype(np.int64)
    table = pa.table(
        {
            "kode_rup": kode,
            "nama_paket": nama,
            "nama_klpd": pa.array(["Kota Bandung"] * rows),
            "satuan_kerja": units,
            "uraian_pekerjaan": uraian,
            "spesifikasi_pekerjaan": spes,
            "total_pagu": pagu,
            "tanggal_umumkan_paket": pa.array(tanggal, pa.timestamp("us")),
            "filtered_keywords": filtered,
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "data_pengadaan.parquet")
    pq.write_table(table, path, row_group_size=131072)
    vocab_path = os.path.join(out_dir, "keyword_vocab.parquet")
    pq.write_table(pa.table({"keyword": vocab}), vocab_path)
    return Procurement(path, vocab_path, vocab, rows, os.path.getsize(path))


# --- the agent's question stream -----------------------------------------

CHARTS = ("bar_chart", "line_chart", "pie_chart", "histogram")
STAGE1_COLS = "kode_rup, nama_paket, satuan_kerja, total_pagu, tanggal_umumkan_paket"


@dataclass(frozen=True)
class Question:
    concepts: tuple[str, ...]  # one retrieve_keywords call per concept
    unit: str | None
    since: str | None  # 'YYYY-MM-DD' lower bound on the announcement date
    chart: str
    retry_of: int | None  # index of the question this one re-asks verbatim


def _concept_text(rng: np.random.Generator, words: list[str]) -> str:
    """A user phrase around one vocabulary word: retrieval finds the
    word itself plus its n-gram neighbours (affixed forms included)."""
    w = words[int(rng.integers(len(words)))]
    lead = ("pengadaan", "belanja", "pemeliharaan", "")[int(rng.integers(4))]
    return f"{lead} {w}".strip()


def questions(seed: int, vocab: list[str], n: int, stream: str = "questions") -> list[Question]:
    """The seeded question stream.

    The shape of question ``i`` is fixed, so every run asks the same mix
    and only the words, units and dates come from the seed: chart kinds
    cycle; every fifth question re-asks the one three before it
    verbatim, as an agent retry would; of the others, half AND a second
    concept naming one of the 100 most used keywords (so the
    conjunction still matches rows), a quarter filter on a unit and a
    quarter on a date."""
    rng = _rng(seed, stream)
    rank = keyword_rank(seed, len(vocab))
    popular = [w for w, r in zip(vocab, rank) if r < 100]
    out: list[Question] = []
    for i in range(n):
        if i % 5 == 4:
            src = out[i - 3]
            out.append(Question(src.concepts, src.unit, src.since, src.chart, i - 3))
            continue
        concepts = (_concept_text(rng, vocab),)
        if i % 5 in (1, 3):
            concepts += (_concept_text(rng, popular),)
        unit = UNITS[int(rng.choice(len(UNITS), p=UNIT_WEIGHTS))] if i % 10 in (0, 3) else None
        since = str(JAN0 + np.timedelta64(int(rng.integers(0, 200)), "D"))[:10] if i % 10 in (2, 6) else None
        out.append(Question(concepts, unit, since, CHARTS[i % len(CHARTS)], None))
    return out


def like_any(col: str, keywords: list[str]) -> str:
    """One CNF clause: the keyword group OR-ed as substring matches."""
    return "(" + " OR ".join(f"{col} LIKE '%{k}%'" for k in keywords) + ")"


def stage1_where(groups: list[list[str]], q: Question) -> str:
    clauses = [like_any("filtered_keywords", g) for g in groups]
    if q.unit is not None:
        clauses.append(f"satuan_kerja = '{q.unit}'")
    if q.since is not None:
        clauses.append(f"tanggal_umumkan_paket >= TIMESTAMP '{q.since} 00:00:00'")
    return " AND ".join(clauses)


# Stage-2 SQL per chart kind, over the materialized intermediary.
STAGE2 = {
    "bar_chart": (
        "SELECT satuan_kerja, SUM(total_pagu) AS total_pagu FROM intermediary_table"
        " GROUP BY satuan_kerja"
    ),
    "pie_chart": (
        "SELECT satuan_kerja, COUNT(*) AS jumlah_paket FROM intermediary_table"
        " GROUP BY satuan_kerja"
    ),
    "line_chart": "SELECT kode_rup, total_pagu, tanggal_umumkan_paket FROM intermediary_table",
    "histogram": "SELECT total_pagu FROM intermediary_table",
}
PREVIEW = (
    "SELECT COUNT(*) AS jumlah_paket, SUM(total_pagu) AS total_pagu,"
    " MIN(tanggal_umumkan_paket) AS first_ts, MAX(tanggal_umumkan_paket) AS last_ts"
    " FROM intermediary_table"
)


# --- fixture-shaped tables for the registry entries ------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "bolt", "gear", "ring", "plate", "gizmo", "nut", "screw")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = np.array([0.44, 0.14, 0.14, 0.13, 0.15])
DOC_WORDS = (
    "a the spark data row column table query filter join merge sort hash key value"
    " group agg window stream batch part line order customer vector small big fast"
    " slow scan dup"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    words = pa.array(DOC_WORDS).take(pa.array(rng.integers(0, len(DOC_WORDS), int(offsets[-1]))))
    text = pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": text,
            "lang": pa.array(LANGS).take(pa.array(rng.choice(len(LANGS), n, p=LANG_WEIGHTS))),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64, first_id: int = 0) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    v = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": emb,
            "label": labels.astype(np.int32),
        }
    )


def sf_tables(seed: int, out_dir: str, scale: int, docs: int, vecs: int) -> dict[str, int]:
    """Write the ten fixture-shaped tables (FIXTURES.md §B) to
    ``out_dir``; ``scale`` is the customer count in thousands of
    sf1 rows (150 customers ≈ sf0.001). Returns bytes per table."""
    rng = _rng(seed, "sf")
    n_cust, n_supp, n_part = 150 * scale, max(10, 10 * scale), 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(SEGMENTS).take(pa.array(rng.integers(0, 5, n_cust))),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pa.array(PART_TYPES).take(pa.array(rng.integers(0, 6, n_part))),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pa.array(("F", "O", "P")).take(pa.array(rng.integers(0, 3, n_ord))),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": pa.array(PRIORITIES).take(pa.array(rng.integers(0, 5, n_ord))),
        }
    )
    okeys = np.sort(rng.integers(0, n_ord, n_line))
    lnum = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):  # 1-based line number within each order
        if okeys[i] == okeys[i - 1]:
            lnum[i] = lnum[i - 1] + 1
    keep = lnum <= 7
    n_line = int(keep.sum())
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": okeys[keep].astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": lnum[keep],
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": pa.array(("A", "N", "R")).take(pa.array(rng.integers(0, 3, n_line))),
            "l_linestatus": pa.array(("F", "O")).take(pa.array(rng.integers(0, 2, n_line))),
            "l_shipdate": _days(rng, "1995-01-02", 2497, n_line),
        }
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 15 * scale, n_ev).astype(np.int64),
            "event_type": pa.array(EVENT_TYPES).take(pa.array(rng.integers(0, 5, n_ev))),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents_table(rng, docs)
    t["embeddings"] = embeddings_table(rng, vecs)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes
