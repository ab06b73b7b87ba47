"""Tests of the benchmark's own parts that need no Spark session: the
seeded generators, the event-log fold and the metric names and units.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import json
import os
import re
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from tracing import METER_THREADS, CpuMeter, fold_event_log  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _dvf_rows(root):
    with gzip.open(os.path.join(root, "raw", "gov", "dvf_full.csv.gz"), "rt") as f:
        return list(csv.DictReader(f))


def test_estate_lake_is_seeded(tmp_path):
    a = gen.make_estate_lake(str(tmp_path / "a"), 5, 2000, 3, 200)
    b = gen.make_estate_lake(str(tmp_path / "b"), 5, 2000, 3, 200)
    c = gen.make_estate_lake(str(tmp_path / "c"), 6, 2000, 3, 200)
    assert a.expected == b.expected and a.input_bytes == b.input_bytes
    assert _dvf_rows(a.root) == _dvf_rows(b.root)
    assert _dvf_rows(a.root) != _dvf_rows(c.root)


def test_estate_lake_properties(tmp_path):
    lake = gen.make_estate_lake(str(tmp_path), 1, 20_000, 6, 500)
    rows = _dvf_rows(lake.root)
    n = len(rows)
    paris = sum(r["code_commune"].startswith("751") for r in rows) / n
    assert abs(paris - gen.ESTATE_RATES["paris_share"]) < 0.02
    assert sum(r["valeur_fonciere"] == "" for r in rows) / n > 0.03
    assert sum(r["latitude"] == "" for r in rows) / n > 0.07
    vals = {float(r["valeur_fonciere"]) for r in rows if r["valeur_fonciere"]}
    assert {999.0, 1000.0, 4999.0, 5000.0, 5e7, 5e7 + 1} <= vals
    # values on both sides of every filter bound survive to the index
    assert 0 < lake.expected["gov-dvf-paris"] < lake.expected["gov-dvf"] < n
    ads_dir = os.path.join(lake.root, "raw", "leboncoin", "annonces", gen.RUN_DAY)
    ads = [a for fn in sorted(os.listdir(ads_dir))
           for a in json.load(open(os.path.join(ads_dir, fn)))]
    assert len(ads) == lake.raw_ads == 3000
    distinct = len({a["list_id"] for a in ads})
    assert distinct == lake.expected["lbc-annonces"]
    assert 0.05 < 1 - distinct / len(ads) < 0.15
    assert 0.02 < sum(a["location"] == "N/A" for a in ads) / len(ads) < 0.08


def test_corpus_duplicates_and_batches():
    c = gen.make_corpus(3, 4000)
    assert c.rows == gen.make_corpus(3, 4000).rows
    ids = [r[0] for r in c.rows]
    assert ids == list(range(4000))
    texts = [r[1] for r in c.rows]
    exact = 1 - len(set(texts)) / len(texts)
    assert abs(exact - gen.CORPUS_RATES["exact_dup"]) < 0.02
    assert abs(len(c.near_dup_of) / 4000 - gen.CORPUS_RATES["near_dup"]) < 0.02
    assert all(len(g) >= 2 for g in c.exact_groups.values())
    langs = {r[2] for r in c.rows}
    assert langs == set(gen.CORPUS_RATES["lang_mix"])
    batches = gen.split_batches(c, 250, 3)
    assert not batches[0].resent_ids
    seen: set[int] = set()
    for b in batches:
        ids = [r[0] for r in b.rows]
        assert b.resent_ids <= seen
        assert len(b.rows) <= 250
        seen.update(ids)
    assert seen == set(range(4000))


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def _task(stage, ok=True, run_ms=100, shuffle=0, spill=0, rows=0):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage, "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Records Read": rows},
        }})


def test_fold_event_log(tmp_path):
    g = {"spark.jobGroup.id": "q.point_lookup#1"}
    log = tmp_path / "events_1_app"
    log.write_text(
        _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1], "Properties": g})
        + _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": g})
        + _task(0, shuffle=2_000_000, rows=500) + _task(0, ok=False, spill=1_000_000)
        # stage 1 was skipped: listed by the job, never run
        + _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}})
        + _task(2, run_ms=50)
    )
    out = fold_event_log([str(log)])
    c = out["q.point_lookup#1"]
    assert (c["jobs"], c["stages"], c["tasks"], c["failed_tasks"]) == (1, 1, 2, 1)
    assert c["executor_run_s"] == 0.2 and c["input_rows"] == 500
    assert c["shuffle_write_mb"] == 2.0 and c["spill_mb"] == 1.0
    assert out[""]["jobs"] == 1 and out[""]["tasks"] == 1


def test_benchmark_json_matches_definitions():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert len(layer) <= 128
    for name, (unit, better) in list(e2e.items()) + list(layer.items()):
        assert NAME.match(name) and UNIT.match(unit) and better in ("lower", "higher")
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_result_line_names_and_units():
    rep = {"problems": [], "attempted": 3, "failed": 0,
           "end_to_end": {k: 1.5 for k in metrics.END_TO_END},
           "per_layer": {k: 2 for k in metrics.PER_LAYER}}
    line = run.result_line(rep, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"]["op_cpu_ms"] == {"value": 1.5, "unit": "ms"}
    assert set(line["metrics"]) == set(metrics.END_TO_END)
    traced = run.result_line(dict(rep, problems=["x"], failed=1), trace=True)
    assert traced["correct"] is False
    assert set(traced["metrics"]) == set(metrics.PER_LAYER)
    assert traced["metrics"]["q.sort_page.jobs"]["unit"] == "count"


def test_cpu_meter_leaves_out_meter_threads():
    meter = CpuMeter(os.getpid())
    ready, go = threading.Event(), threading.Event()

    def measuring_thread():
        METER_THREADS.add(threading.get_native_id())
        ready.set()
        go.wait()
        block = b"x" * 10_000_000
        t = time.perf_counter()
        while time.perf_counter() - t < 1.0:
            hashlib.sha256(block)  # releases the GIL: runs beside the main thread

    th = threading.Thread(target=measuring_thread)
    th.start()
    ready.wait()
    try:
        c0 = meter.seconds()
        go.set()
        t = time.perf_counter()
        while time.perf_counter() - t < 0.5:
            pass  # the program's share: this thread
        c1 = meter.seconds()
    finally:
        th.join()
        METER_THREADS.clear()
    # 0.5 s counted, the measuring thread's concurrent second not
    assert 0.3 < c1 - c0 < 0.8
