"""Self-tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import types

import pytest

from perfbench import gen, run
from perfbench.spans import Span, Tracer, read_event_log, rollup


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("make", [
    lambda d, s: gen.xml_corpus(d, s, n_files=30),
    lambda d, s: gen.graph_tables(d, s),
    lambda d, s: gen.documents(d, s),
])
def test_generators_deterministic_per_seed_and_distinct_across_seeds(tmp_path, make):
    a, b, c = (str(tmp_path / n) for n in "abc")
    ma, mb, mc = make(a, 1), make(b, 1), make(c, 2)
    assert _tree_digest(a) == _tree_digest(b)
    assert ma == mb
    assert _tree_digest(a) != _tree_digest(c)


def test_xml_corpus_structure_is_equal_across_seeds(tmp_path):
    # the seed moves ids, values and text, never the amount of work
    a, b = (gen.xml_corpus(str(tmp_path / n), s, n_files=30) for n, s in (("a", 1), ("b", 2)))
    assert a.pop("xml_bytes") != b.pop("xml_bytes")
    assert a == b


def test_xml_manifest_counts_a_hand_checked_document(tmp_path):
    m = gen.xml_corpus(str(tmp_path), seed=3, n_files=gen.MALFORMED_EVERY)
    assert m["documents"] == gen.MALFORMED_EVERY and m["malformed"] == 1
    xr = m["xrefs"]
    assert xr["parent_child"] == xr["child_parent"] < m["nodes"]
    assert xr["next_sibling"] == xr["previous_sibling"]
    assert xr["sibling"] % 2 == 0 and xr["attribute_reference"] > 0
    assert m["broken_refs"] > 0 and m["multi_refs"] > 0
    assert set(m["properties"]) == {"integer", "float", "boolean", "datetime", "string"}
    assert m["xml_bytes"] == sum(os.path.getsize(tmp_path / f) for f in os.listdir(tmp_path))


def test_infer_type_follows_the_reference_rule():
    cases = {"42": "integer", "4.2": "float", "FALSE": "boolean", "2024-01-02x": "datetime",
             "12:30:00": "datetime", "4.": "string", "": "string", "abc": "string"}
    assert {v: gen._infer_type(v) for v in cases} == cases


def _event_log(path, events) -> str:
    with open(path, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    return str(path)


def _task(stage, run_ms, cpu_ns, gc_ms, shuffle):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_rollup_charges_jobs_by_group_then_by_time_window(tmp_path):
    log = _event_log(tmp_path / "log", [
        # job 0: tagged with span a, two stages, three tasks
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100_000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 10, 2_000_000, 1, 0), _task(0, 20, 3_000_000, 0, 100), _task(1, 5, 1_000_000, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 101_000},
        # job 1: untagged (submitted from a pool thread) inside span b's window
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 104_000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 7, 4_000_000, 2, 50),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 104_500},
        # job 2: a skipped stage id repeats; it stays charged to job 0's span
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 104_600,
         "Stage IDs": [1, 3], "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 104_800},
        # job 3: outside every span
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 200_000,
         "Stage IDs": [4], "Properties": {}},
    ])
    a = Span("a", "x.a", "call", 0, start=99.5, end=102.0)
    b = Span("b", "x.b", "eval", 0, start=103.0, end=106.0)
    unplaced = rollup([a, b], read_event_log(log))
    assert unplaced == 1
    assert (len(a.jobs), a.stages, a.tasks) == (1, 2, 3)
    assert (a.run_ms, a.cpu_ms, a.gc_ms, a.shuffle_write_bytes) == (35, 6.0, 1, 100)
    assert a.job_s == pytest.approx(1.0) and a.self_s == pytest.approx(1.5)
    assert (len(b.jobs), b.stages, b.tasks, b.run_ms, b.shuffle_write_bytes) == (2, 1, 1, 7, 50)
    # jobs 1 and 2 do not overlap: 0.5s + 0.2s of job time in a 3s span
    assert b.job_s == pytest.approx(0.7) and b.self_s == pytest.approx(2.3)


def test_tracer_restores_the_enclosing_job_group():
    props = []
    sc = types.SimpleNamespace(setLocalProperty=lambda k, v: props.append(v))
    tr = Tracer(sc)
    with tr.span("a.outer", "setup"):
        with tr.span("b.inner", "call", op=0):
            pass
    assert props == ["pb0", "pb1", "pb0", None]
    assert [s.depth for s in tr.spans] == [0, 1]


class _FakeWorkload:
    """Ops: 'ok' passes, 'boom' raises, 'wrong' returns a result its check rejects."""

    ops = ("ok", "boom", "wrong")

    def run_op(self, spark, tr, op, i):
        with tr.span(f"fake.{op}", "call", i):
            if op == "boom":
                raise ValueError("no")
        return op

    def check(self, op, result):
        return "bad rows" if result == "wrong" else None


def _fake_spark():
    usage = types.SimpleNamespace(getUsed=lambda: 64 * 2**20)
    bean = types.SimpleNamespace(getHeapMemoryUsage=lambda: usage)
    jvm = types.SimpleNamespace(
        System=types.SimpleNamespace(gc=lambda: None),
        java=types.SimpleNamespace(lang=types.SimpleNamespace(management=types.SimpleNamespace(
            ManagementFactory=types.SimpleNamespace(getMemoryMXBean=lambda: bean)))),
    )
    job = types.SimpleNamespace(collect=lambda: [])
    return types.SimpleNamespace(
        range=lambda *a: types.SimpleNamespace(selectExpr=lambda *e: job),
        catalog=types.SimpleNamespace(clearCache=lambda: None),
        sparkContext=types.SimpleNamespace(_jvm=jvm),
    )


def test_failed_ops_count_raised_errors_and_check_failures():
    m = run.measure(_FakeWorkload(), _fake_spark(), Tracer(), rounds=1, seed=1)
    assert (m["rounds"], m["attempted"], m["failed"]) == (1, 3, 2)
    assert m["heap_mb"] == [64, 64, 64]
    assert len(m["lat"]["ok"]) == 1 and m["lat"]["boom"] == []
    assert any("ValueError" in e for e in m["errors"])
    assert any("check failed: bad rows" in e for e in m["errors"])


def test_pct_interpolates():
    assert run.pct([4, 1, 3, 2], 0.5) == 2.5
    assert run.pct([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11], 0.9) == 10


def test_latency_metrics_use_each_operations_median():
    wl = types.SimpleNamespace(stored_bytes=30, input_bytes=10)
    # "a" has one slow round; its median ignores it
    lat = {"a": [0.1, 0.9, 0.2], "b": [0.4, 0.6]}
    m = {"lat": lat, "cpu": {k: [2 * t for t in ts] for k, ts in lat.items()},
         "ref": {"wall": [0.01, 0.02, 0.05], "cpu": [0.04]}, "errors": []}
    e2e = run.e2e_metrics(5.0, m, wl)
    assert e2e["op_geomean_per_ref"][0] == pytest.approx((200 * 500) ** 0.5 / 20)
    assert e2e["round_per_ref"][0] == pytest.approx(700 / 20)
    raw = run.raw_metrics(m)
    assert raw["op_geomean_ms"] == pytest.approx((200 * 500) ** 0.5)
    assert raw["round_s"] == pytest.approx(0.7)
    assert raw["op_cpu_geomean_ms"] == pytest.approx((400 * 1000) ** 0.5)
    assert raw["round_cpu_s"] == pytest.approx(1.4)
    assert raw["ref_ms"] == {"wall": pytest.approx(20), "cpu": pytest.approx(40)}
    assert e2e["stored_bytes_per_input_byte"][0] == 3.0
