"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import registry_gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert run.tail_percentile(n) == want
    if want is not None:
        assert n - math.ceil(want * n / 100) >= 10


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 41)]
    assert run.percentile(values, 50) == 20.0
    assert run.percentile(values, 75) == 30.0
    assert run.percentile([3.0], 99) == 3.0


def test_metric_names_and_units_follow_the_charset():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert run.METRIC_NAME.match(name), name
        assert run.UNIT.match(unit), unit
    for bad in ("_x", "a b", "x" * 65, "ß"):
        assert not run.METRIC_NAME.match(bad)


def test_result_line_shape():
    line = run.result_line(True, 3, 0, {"setup_s": (1.5, "s"), "op_p50_s": (0.25, "s")})
    doc = json.loads(line)
    assert set(doc) == {"correct", "attempted", "failed", "metrics"}
    assert doc["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert isinstance(doc["attempted"], int) and isinstance(doc["failed"], int)


@pytest.mark.parametrize(
    "attempted, failed, metrics",
    [
        (0, 0, {"setup_s": (1.0, "s")}),
        (2, 3, {"setup_s": (1.0, "s")}),
        (1, 0, {"setup_s": (float("nan"), "s")}),
        (1, 0, {"bad name": (1.0, "s")}),
        (1, 0, {"setup_s": (1.0, "seconds per op!")}),
    ],
)
def test_result_line_rejects_bad_values(attempted, failed, metrics):
    with pytest.raises(ValueError):
        run.result_line(True, attempted, failed, metrics)


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_dump_is_a_function_of_seed_and_size(tmp_path):
    a = registry_gen.write_dump(str(tmp_path / "a.txt"), 7, 30)
    b = registry_gen.write_dump(str(tmp_path / "b.txt"), 7, 30)
    c = registry_gen.write_dump(str(tmp_path / "c.txt"), 8, 30)
    assert (tmp_path / "a.txt").read_bytes() == (tmp_path / "b.txt").read_bytes()
    assert a == b
    assert set(a["trials"]).isdisjoint(c["trials"])
    assert len(a["trials"]) == 30
    assert a["lines"] == len((tmp_path / "a.txt").read_text().splitlines())


def test_dump_truth_is_first_non_empty(tmp_path):
    truth = registry_gen.write_dump(str(tmp_path / "d.txt"), 3, 50)
    prefix = "A.3 Full title of the trial: "
    first, eid = {}, None
    for line in (tmp_path / "d.txt").read_text().splitlines():
        if line.startswith("EudraCT Number: "):
            eid = line.split(": ", 1)[1]
        elif line.startswith(prefix) and line[len(prefix):]:
            first.setdefault(eid, line[len(prefix):])
    assert any(first.values())
    for eid, row in truth["trials"].items():
        assert row["official_title"] == first.get(eid, "")


def test_search_mix_cycles_every_template():
    rows = registry_gen.store_rows(5, 100)
    reqs = registry_gen.search_requests(5, rows, 60)
    for k in range(0, 60, len(registry_gen.TEMPLATES)):
        assert {r["template"] for r in reqs[k:k + 6]} == set(registry_gen.TEMPLATES)
    assert reqs == registry_gen.search_requests(5, rows, 60)
    assert reqs != registry_gen.search_requests(6, rows, 60)


def test_duckdb_oracle_runs_every_template(tmp_path):
    import duckdb

    rows = registry_gen.store_rows(2, 80)
    workloads._build_store(rows, str(tmp_path))
    con = duckdb.connect()
    for t in workloads.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}/*.parquet')")
    counts = {}
    for req in registry_gen.search_requests(2, rows, 12):
        counts[req["template"]] = len(con.execute(workloads.duck_search_sql(req)).fetchall())
    assert counts["match_all"] == 80
    assert counts["point"] == 1
