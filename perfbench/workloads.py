"""The benchmark's workloads, each a closed loop with one client: the next
operation starts only after the previous one and its output check are
done. Checks run outside the timed window; every mismatch or error
counts the operation as failed.

- ``ingest``: registry dump -> ``parse_registry`` -> ``write_parquet`` of
  the four tables, the path ``cli ingest`` takes. One operation is one
  whole dump.
- ``search``: ``search_and_export`` -> ``count`` -> ``write_csv`` against
  a parquet store, the path ``cli export`` takes. One operation is one
  request.
"""

from __future__ import annotations

import csv
import glob
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter

import duckdb

from registry_gen import TEMPLATES, dump_path, search_requests, store_rows, write_dump

TABLES = ("trial", "imp", "sponsor", "location")


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, tracer, null_tracer, work_dir, fixture_dir, seed, seconds, sizes):
        self.spark = spark
        self.tracer = tracer
        self.null_tracer = null_tracer
        self.work_dir = work_dir
        self.fixture_dir = fixture_dir
        self.seed = seed
        self.seconds = seconds
        self.sizes = sizes
        self.attempted = 0
        self.failed = 0
        self.setup_end: float | None = None
        self.gc_at_setup = 0.0

    def gc_seconds(self) -> float:
        """JVM garbage-collection time so far (management beans)."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000

    def mark_setup_done(self) -> None:
        """End of set-up: the timed loop starts next."""
        self.setup_end = time.perf_counter()
        self.gc_at_setup = self.gc_seconds()

    def run_checked(self, label: str, op, check) -> float | None:
        """Run ``op`` (timed) then ``check`` (untimed). Returns the op's
        seconds, or None when it raised or its output mismatched."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = op()
        except Exception:  # noqa: BLE001 - a failed op is a counted outcome
            self.failed += 1
            print(f"[perfbench] {label}: operation raised\n{traceback.format_exc()}", file=sys.stderr)
            return None
        dt = time.perf_counter() - t
        try:
            problems = check(result)
        except Exception:  # noqa: BLE001 - an unreadable output is a mismatch
            problems = [traceback.format_exc()]
        if problems:
            self.failed += 1
            print(f"[perfbench] {label}: output mismatch: {problems[:5]}", file=sys.stderr)
            return None
        return dt


def closed_loop(ctx: Context, op_at, min_ops: int, cycle: int = 1) -> list[tuple[int, float]]:
    """Run ``op_at(i)`` for i = 0, 1, ... until the measured time (op
    time only, checks excluded) reaches ``ctx.seconds``, at least
    ``min_ops`` times, and a whole number of ``cycle``-long cycles.
    Returns (i, seconds) of the ops that succeeded."""
    done: list[tuple[int, float]] = []
    busy, i = 0.0, 0
    while i < min_ops or busy < ctx.seconds or i % cycle:
        t = time.perf_counter()
        dt = op_at(i)
        busy += time.perf_counter() - t if dt is None else dt
        if dt is not None:
            done.append((i, dt))
        i += 1
    return done


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# ---------------------------------------------------------------- ingest


def _ingest_once(spark, tr, path: str, out_dir: str, materialize: bool) -> None:
    """One ``cli ingest``. With ``materialize`` each table is persisted
    and counted before its write, so its build time lands in a
    ``parse.<table>`` span and the write alone in ``sinks.write_parquet``."""
    from eurovision_spark.operators.parse import parse_registry
    from eurovision_spark.sinks import write_parquet

    caches: list = []
    try:
        with tr.span("sources.parse_registry"):
            tables = parse_registry(spark, path, caches=caches)
        for name, df in tables.items():
            rows = None
            if materialize:
                with tr.span(f"parse.{name}") as s:
                    df = df.persist()
                    caches.append(df)
                    rows = df.count()
                    s.rows_out = rows
            with tr.span("sinks.write_parquet", rows_in=rows):
                write_parquet(df, os.path.join(out_dir, name))
    finally:
        for c in caches:
            c.unpersist()


def check_ingest(out_dir: str, truth: dict, sample_seed: int) -> list[str]:
    """Output check for one ingest: the trial id set is exactly the ids
    written (one row each), the (eudract_id, location) set is exact, and
    a seeded sample of 50 trials matches its first-non-empty row."""
    con = duckdb.connect()
    try:
        res = con.execute(f"SELECT * FROM read_parquet('{out_dir}/trial/*.parquet')")
        cols = [d[0] for d in res.description]
        rows = {r[0]: dict(zip(cols, r)) for r in res.fetchall()}
        n_rows = con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/trial/*.parquet')").fetchone()[0]
        locs = set(con.execute(
            f"SELECT eudract_id, location FROM read_parquet('{out_dir}/location/*.parquet')"
        ).fetchall())
    finally:
        con.close()
    problems = []
    want = truth["trials"]
    if n_rows != len(want) or set(rows) != set(want):
        problems.append(f"trial ids: {n_rows} rows, {len(set(rows) ^ set(want))} ids differ from {len(want)}")
    if locs != truth["locations"]:
        problems.append(f"locations: {len(locs ^ truth['locations'])} (id, location) pairs differ")
    rng = random.Random(sample_seed)
    for eid in rng.sample(sorted(want), min(50, len(want))):
        got = rows.get(eid)
        if got is None:
            continue  # already reported as an id mismatch
        bad = {c: (got.get(c), v) for c, v in want[eid].items() if got.get(c) != v}
        if bad:
            problems.append(f"trial {eid}: {bad}")
    return problems


def ingest(ctx: Context) -> dict:
    n = ctx.sizes["ingest_trials"]
    path = dump_path(ctx.fixture_dir, ctx.seed, n)
    truth = write_dump(path, ctx.seed, n)
    out_root = os.path.join(ctx.work_dir, "ingest")
    store_bytes = []

    def op(i: int, traced: bool) -> float | None:
        out = os.path.join(out_root, f"op{i}")
        tr = ctx.tracer if traced else ctx.null_tracer
        tr.request = i

        def run() -> str:
            with tr.span("ingest"):
                _ingest_once(ctx.spark, tr, path, out, materialize=traced)
            return out

        dt = ctx.run_checked(f"ingest op {i}", run, lambda o: check_ingest(o, truth, ctx.seed * 1000 + i))
        store_bytes.append(_dir_bytes(out))
        shutil.rmtree(out, ignore_errors=True)
        return dt

    # No warm-up: every `cli ingest` is a fresh process, so the timed
    # ingest is the cold one a user pays for, JIT and codegen included.
    ctx.mark_setup_done()
    # A traced run adds two warm ingests after the cold one, the first
    # traced and the second not: the pair gives the tracing overhead.
    tracing = ctx.tracer.enabled
    done = closed_loop(ctx, lambda i: op(i, traced=tracing and i == 1), min_ops=3 if tracing else 1)
    return {
        "ops": done,
        "lines": truth["lines"],
        "input_bytes": truth["bytes"],
        "store_bytes": store_bytes[-1],
        "unit": f"cold ingest of {n} trials ({truth['lines']} lines, {truth['bytes']} bytes)",
    }


# ---------------------------------------------------------------- search


def _build_store(rows: dict, store: str) -> None:
    """Write the search store as parquet in the four-table schema
    ``ingest`` produces (flags int32, everything else string), one file
    per table. Written with pyarrow so set-up runs no Spark job: the
    workload measures search, not how its input was made."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eurovision_spark import fieldspec

    flags = {f.name for f in fieldspec.TRIAL_FIELDS if f.dtype == "bool01"}
    columns = {
        "trial": rows["trial_columns"],
        "imp": ["eudract_id", "trade", "product", "code"],
        "sponsor": ["eudract_id", "name", "org", "contact", "email"],
        "location": ["eudract_id", "location"],
    }
    for name, cols in columns.items():
        schema = pa.schema([(c, pa.int32() if c in flags else pa.string()) for c in cols])
        data = list(zip(*rows[name])) if rows[name] else [[] for _ in cols]
        table = pa.Table.from_arrays([pa.array(col, type=f.type) for col, f in zip(data, schema)], schema=schema)
        os.makedirs(os.path.join(store, name), exist_ok=True)
        pq.write_table(table, os.path.join(store, name, "part-00000.parquet"))


def _csv_ids(out_dir: str) -> list[str]:
    ids: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(part, newline="", encoding="utf8") as fh:
            reader = csv.reader(fh)
            header = next(reader, None)
            if header is None:
                continue
            col = header.index("eudract_id")
            ids.extend(r[col] for r in reader)
    return ids


def duck_search_sql(req: dict) -> str:
    """The request's search as DuckDB SQL: the trial predicate plus one
    IN-subquery per child-table predicate (the semi-joins)."""
    conds = [f"({req['trial_where']})" if req["trial_where"] else "TRUE"]
    for table in ("imp", "location", "sponsor"):
        pred = req[f"{table}_where"]
        if pred:
            conds.append(f"eudract_id IN (SELECT eudract_id FROM {table} WHERE {pred})")
    return "SELECT eudract_id FROM trial WHERE " + " AND ".join(conds)


def check_search(con, req: dict, hits: int, out_dir: str) -> list[str]:
    """Hit count and exported id set equal DuckDB's answer to the same
    predicates over the same store."""
    want = [r[0] for r in con.execute(duck_search_sql(req)).fetchall()]
    got = _csv_ids(out_dir)
    problems = []
    if hits != len(want):
        problems.append(f"{req['template']}: count {hits} != oracle {len(want)}")
    if len(got) != len(want) or set(got) != set(want):
        problems.append(f"{req['template']}: exported ids differ ({len(got)} vs {len(want)})")
    return problems


def search(ctx: Context) -> dict:
    from eurovision_spark.plans.search import search_and_export
    from eurovision_spark.sinks import write_csv

    store = os.path.join(ctx.work_dir, "store")
    rows = store_rows(ctx.seed, ctx.sizes["store_trials"])
    _build_store(rows, store)
    tables = {t: ctx.spark.read.parquet(os.path.join(store, t)) for t in TABLES}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{store}/{t}/*.parquet')")
    out = os.path.join(ctx.work_dir, "export")

    def op(i: int, req: dict, traced: bool) -> float | None:
        tr = ctx.tracer if traced else ctx.null_tracer
        tr.request = i
        preds = {k: v for k, v in req.items() if k.endswith("_where")}

        def run() -> int:
            with tr.span("request"):
                with tr.span("search.plan"):
                    df = search_and_export(tables, **preds)
                with tr.span("search.count") as s:
                    hits = df.count()
                    s.rows_out = hits
                with tr.span("sinks.write_csv", rows_in=hits):
                    write_csv(df, out)
            return hits

        return ctx.run_checked(f"search request {i} ({req['template']})", run,
                               lambda hits: check_search(con, req, hits, out))

    try:
        # untimed warm-up, drawn apart from the timed requests
        for j, req in enumerate(search_requests(ctx.seed + 10**6, rows, ctx.sizes["warmup_requests"])):
            op(-1 - j, req, traced=False)
        ctx.mark_setup_done()
        reqs = search_requests(ctx.seed, rows, 600)
        tracing = ctx.tracer.enabled
        # Whole template cycles only, so every run's median is over the same
        # mix. A traced run traces even cycles and leaves odd ones untraced,
        # so both sides of the overhead comparison hold the same templates.
        cycle = len(TEMPLATES)
        done = closed_loop(ctx, lambda i: op(i, reqs[i % len(reqs)], traced=tracing and i // cycle % 2 == 0),
                           min_ops=2 * cycle if tracing else 1, cycle=cycle)
    finally:
        con.close()
    return {
        "ops": done,
        "lines": 0,
        "input_bytes": 0,
        "store_bytes": 0,
        "templates": dict(Counter(reqs[i % len(reqs)]["template"] for i, _ in done)),
        "unit": f"search request over a {ctx.sizes['store_trials']}-trial store",
    }


WORKLOADS = {"ingest": ingest, "search": search}
