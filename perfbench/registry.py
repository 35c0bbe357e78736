"""``registry_lap``: warm laps over a fixed sample of ``queries()``.

The input is a seeded set of the ten fixture-shaped tables, written
under a directory whose basename is unique to the run. The program
keys its persisted indexes on that basename (``_warehouse_path``) and
its freshness gates check row counts only, so a shared name would
serve one commit's index to another.

A build pass runs every sampled entry once on the fresh snapshot:
indexes are written there (the write path), and in a traced run a
streaming sink too. The timed laps then take the freshness gates' hit
path (the read path), so they must write nothing to the warehouse.

A full lap of all 150 entries takes minutes on four cores, longer than
one benchmark run may last, so the lap is a fixed sample, chosen so
that each family's share of the sample's time matches its share of
the full lap (see ``FULL_LAP_S`` and ``SAMPLE_S``). Entries that stage
files under a hard-coded ``/tmp`` path are never sampled, because a
run may write only inside its checkout.

Every sampled entry's result is checked against its ``oracle_sql()``
twin on DuckDB with the normalization of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import inspect
import os
import sys

import gen

SCALE = 10  # sf0.01-shaped: 1,500 customers, 15,000 orders, ~60,000 lineitems
DOCS = 500
VECS = 500
# One full lap of all 150 entries on this input (seed 1), measured
# warm (mean of the second and third of three laps in one session) on
# four cores: 97.1 s in all, and per family (``families.py``):
FULL_LAP_S = {
    "reference": 3.61,  # 17 entries, 3.7% of the lap
    "relational": 25.66,  # 63 entries, 26.4%
    "text": 15.31,  # 24 entries, 15.8%
    "dedup": 13.27,  # 14 entries, 13.7%
    "vector": 13.34,  # 13 entries, 13.7%
    "index": 16.17,  # 11 entries, 16.7%
    "streaming": 9.73,  # 8 entries, 10.0%
}
# The sample, with each entry's warm seconds in the same measurement.
# Per family: the entries at evenly spaced ranks of the family's cost
# whose sum is closest to the family's share of a 6 s lap, among the
# entries that stage nothing under /tmp and have a read path. So the
# families weigh in the sample's 5.9 s as in the full lap (within 4
# points; test_perfbench checks it).
SAMPLE_S = {
    "flagship_monthly_trend": 0.23,  # reference
    "multimodal_audio_chunks": 0.18,  # relational
    "set_ops": 0.30,
    "full_outer_monthly": 0.44,
    "cohort_retention": 0.61,
    "token_rarity": 0.72,  # text
    "fuzzy_dup_pairs": 0.77,  # dedup
    "kmeans_clusters": 1.02,  # vector
    "hist_quantiles": 1.10,  # index
    "sliding_window": 0.20,  # streaming
    "sessionize": 0.31,
}
SAMPLE = tuple(SAMPLE_S)
# Run in a traced run's build pass only: each call ingests a fresh
# stream into a fresh index, so it is all write path and has no
# read-path hit.
WRITE_ONLY = ("ann_ingest_stream_codes",)
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def stages_under_tmp(fn) -> bool:
    """True for an entry that stages its input in the fixed
    ``/tmp`` text-corpus cache."""
    return "_ensure_text_corpus" in inspect.getsource(fn)


class RegistryLap:
    name = "registry_lap"
    why = "ROADMAP aim 1 headline: registry entries whose time is planning and scheduling cost"
    loop = "closed, 1 client"
    min_laps = 2

    def prepare(self, seed: int, inputs: str, tag: str) -> dict:
        self.sf = os.path.join(inputs, f"sf{tag}")
        sizes = gen.sf_tables(seed, self.sf, SCALE, DOCS, VECS)
        self.results: dict[str, object] = {}
        return {"tables": len(sizes), "bytes": sum(sizes.values()), "lineitem_bytes": sizes["lineitem"]}

    def bind(self, spark):
        import __spark_entry__ as E

        from data_pengadaan_agent_spark.sources.catalog import load_tables

        load_tables(spark, self.sf)
        registry = E.queries()
        self.fns = {n: registry[n] for n in SAMPLE + WRITE_ONLY}
        bad = [n for n, f in self.fns.items() if stages_under_tmp(f)]
        if bad:
            raise RuntimeError(f"sampled entries write outside the checkout: {bad}")
        return spark

    def layers(self):
        """(owner, attribute, layer) for every call the traced run
        times: the layers ``run.layer_metrics`` reports."""
        from data_pengadaan_agent_spark.sources import catalog

        import __spark_entry__ as E

        # the registry module imported load_table by name: patch both
        return [(m, "load_table", "sources.catalog.load_table") for m in (catalog, E)]

    def run_entry(self, spark, name: str) -> None:
        self.results[name] = self.fns[name](spark, self.sf).toArrow()

    def cycle(self, spark, i: int = 0):
        """One lap: (op name, thunk) per sampled entry."""
        for name in SAMPLE:
            yield name, lambda name=name: self.run_entry(spark, name)

    def first_pass(self, spark, traced: bool):
        """The build pass over the fresh snapshot: the sampled entries
        build their indexes. A traced run also runs the write-only
        entries, whose streaming sink the streaming.* metrics report;
        they take about ten seconds a run, which the untraced runs,
        most of all runs, do not have to spare."""
        self.checked = SAMPLE + (WRITE_ONLY if traced else ())
        for name in self.checked:
            yield name, lambda name=name: self.run_entry(spark, name)

    def compare(self, name: str, con, oracle_sql: str, normalize) -> str | None:
        """What is wrong with ``name``'s last result against its DuckDB
        twin, or None."""
        import pyarrow as pa

        got = self.results.get(name)
        if got is None:
            return "no result"
        want = con.execute(oracle_sql).arrow()
        risky = [
            f.name
            for f in list(got.schema) + list(want.schema)
            if pa.types.is_decimal(f.type) and f.type.scale == 0
        ]
        if risky:
            return f"scale-0 decimal output {sorted(set(risky))}"
        sn, scn, sct = normalize(got)
        dn, dcn, dct = normalize(want)
        if (scn, sct) != (dcn, dct):
            return f"schema {list(zip(scn, sct))} vs {list(zip(dcn, dct))}"
        if sn != dn:
            return f"{len(sn)} rows vs {len(dn)}, values differ"
        return None

    def verify(self, spark) -> list[str]:
        """One message per wrong result (empty when all are right)."""
        import duckdb

        import __spark_entry__ as E

        sys.path.insert(0, os.path.join(os.path.dirname(E.__file__), "tools"))
        from check_oracle import table_to_normalized

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        oracles = E.oracle_sql()
        errors = []
        for name in self.checked:
            try:
                problem = self.compare(name, con, oracles[name], table_to_normalized)
            except Exception as err:  # a check that cannot run is a wrong answer too
                problem = f"{type(err).__name__}: {err}"
            if problem:
                errors.append(f"{name}: {problem}")
        con.close()
        return errors
