"""``catalog``: a fixed selection of ``queries.CATALOG`` rows, in CATALOG
order, in one session over seeded tables.

Each row is timed from the call that builds its DataFrame through a full
``collect()``, because some rows run jobs while building it
(``dedup_embedding`` collects at build time) and because a full collect
materializes every column, which ``count()`` lets Catalyst skip.  Caches
are cleared before every pass, so the frames rows share (the lookup
dictionary, the gram-pair counts) are rebuilt inside the timed region by
the first row that needs them, as users pay for them.

The selection keeps one cheap row per family, enough to reach
``operators.lookup``, ``operators.compound``, ``kernels.symspell``, the
q-gram blocking family, the streaming path and the shared persisted
frames, at six to nine seconds a pass on four cores.  The whole 129-row
catalog (~75 s a pass) does not fit the benchmark's per-run time, nor do
the linkage-chain rows: ``stream_incremental_linkage`` alone takes ~7 s a
pass, as much as the other five together (``link_capped`` measures the
linkage chain and ``operators.incremental`` instead).

Every row's result is checked against a fingerprint derived once per run
from the row's DuckDB oracle SQL over the same files: row count plus an
order-insensitive hash of all columns.  A mismatch counts as a failed
operation.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import traceback
from contextlib import nullcontext

from harness import Outcome, median
from tables import write_tables

#: selected rows and the family each is reported under
ROWS = {
    "word_counts": "other",
    "lookup_top": "lookup",
    "compound_known": "compound",
    "dedup_embedding": "dedup",
    "qgram_blocking": "blocking",
    "stream_dedup_exact": "streaming",
}


def _norm(v):
    """One canonical value for what both engines return for a cell."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return int(v) if v.is_integer() else v
    if isinstance(v, dict):
        return tuple(_norm(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # arrays, and Spark Rows for structs
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(columns, rows) -> tuple:
    """(sorted column names, row count, order-insensitive row hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        cells = repr(tuple(_norm(r[i]) for i in order)).encode()
        acc += int.from_bytes(hashlib.blake2b(cells, digest_size=8).digest(),
                              "little")
    return (tuple(sorted(columns)), len(rows), acc % (1 << 64))


def oracle_fingerprints(sf_dir: str) -> dict:
    """Row name -> expected fingerprint (None for rows-only entries)."""
    import duckdb

    from spellchecker_wasm_spark.queries import CATALOG, TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in ROWS:
            sql = CATALOG[name][1]
            if callable(sql):
                sql = sql(sf_dir)
            if sql is None:
                out[name] = None
                continue
            res = con.sql(sql)
            out[name] = fingerprint([d[0] for d in res.description],
                                    res.fetchall())
        return out
    finally:
        con.close()


def run(bench):
    from spellchecker_wasm_spark.queries import CATALOG

    sf_dir = bench.rundir.sub("tables")
    write_tables(sf_dir, bench.seed)
    expected = oracle_fingerprints(sf_dir)
    names = [n for n in CATALOG if n in ROWS]
    row_s: dict[str, list[float]] = {n: [] for n in names}

    def one_pass(spark, traced: bool = False) -> tuple[float, float, int]:
        """Run every selected row once; returns (seconds, process-tree CPU
        seconds, failed rows)."""
        spark.catalog.clearCache()
        wall: list[float] = []
        cpu: list[float] = []
        bad = 0
        for name in names:
            fn = CATALOG[name][0]
            span = (bench.tracer.span(f"queries.{ROWS[name]}") if traced
                    else nullcontext())
            try:
                with bench.meter.measure(wall, cpu), span:
                    df = fn(spark, sf_dir)
                    rows = df.collect()
                want = expected[name]
                got = fingerprint(df.columns, rows)
                ok = len(rows) > 0 if want is None else got == want
            except Exception:  # a row that fails is counted, not fatal
                traceback.print_exc()
                ok = False
            row_s[name].append(wall[-1])
            bad += not ok
        return sum(wall), sum(cpu), bad

    bench.set_up(sf_dir, warm=one_pass)
    for times in row_s.values():
        times.clear()
    more = bench.deadline()
    plain, plain_cpu, traced = [], [], []
    failed = 0
    while more(len(plain) + len(traced)):
        use_trace = bench.trace and len(traced) <= len(plain) - 1
        wall, cpu, bad = one_pass(bench.spark, use_trace)
        if use_trace:
            traced.append(wall)
        else:
            plain.append(wall)
            plain_cpu.append(cpu)
        failed += bad
    passes = len(plain) + len(traced)
    layers = {}
    if traced:
        layers["trace.overhead_ratio"] = median(traced) / median(plain)
    return Outcome(
        ops=plain, op_cpu=plain_cpu,
        quality=1.0 - failed / (len(names) * passes),
        attempted=len(names) * passes, failed=failed, layers=layers,
        details={"rows": names, "catalog_s": plain, "traced_catalog_s": traced,
                 "row_s": {n: [round(t, 4) for t in ts]
                           for n, ts in row_s.items()}})
