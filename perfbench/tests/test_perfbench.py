"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests            # fast tests
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests   # plus one
        reduced-size run of every workload (builds the engine; minutes)
"""

import json
import os
import re
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def test_percentile_is_nearest_rank():
    v = list(range(1, 21))
    assert metrics.percentile(v, 50) == 10
    assert metrics.percentile(v, 60) == 12
    assert metrics.percentile(v, 100) == 20
    assert metrics.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_tail_pct_leaves_ten_samples_beyond():
    assert metrics.tail_pct(26) == 61
    assert metrics.tail_pct(20) == 50
    assert metrics.tail_pct(10) is None
    for n in (11, 23, 26, 30, 100, 1000):
        p = metrics.tail_pct(n)
        v = list(range(n))
        beyond = sum(1 for x in v if x > metrics.percentile(v, p))
        assert beyond >= 10
        assert sum(1 for x in v if x > metrics.percentile(v, p + 1)) < 10


def test_every_workload_tail_lies_above_its_median():
    for name, w in run.SPEC["workloads"].items():
        assert metrics.tail_pct(w["min_ops_for_tail"]) > 50, name


def test_quartile_spread():
    assert metrics.quartile_spread([1.0] * 10) == 0.0
    assert metrics.quartile_spread(list(range(1, 11))) == pytest.approx((8.25 - 2.75) / 5.5)


def test_failure_accounting_counts_raised_and_wrong_ops():
    ops = [{"name": "a", "ok": True}, {"name": "a", "ok": True},
           {"name": "b", "ok": False}, {"name": "c", "ok": True}]
    assert metrics.account(ops, set()) == (4, 1)
    assert metrics.account(ops, {"a"}) == (4, 3)
    assert metrics.account(ops, {"b", "zzz"}) == (4, 1)


def test_overhead_pairs_names():
    traced = metrics.name_medians([
        {"name": "a", "ok": True, "latency_s": 1.1},
        {"name": "b", "ok": True, "latency_s": 2.2},
        {"name": "x", "ok": True, "latency_s": 9.0}])
    plain = {"a": 1.0, "b": 2.0}
    assert metrics.overhead_pct(traced, plain) == pytest.approx(10.0)
    assert metrics.overhead_pct(traced, {}) is None


def test_differing_ops_names_completed_ops_with_another_output():
    ops = [{"op": 0, "name": "q", "ok": True, "out_sha256": "a"},
           {"op": 1, "name": "q", "ok": True, "out_sha256": "b"},
           {"op": 2, "name": "q", "ok": False},
           {"op": 3, "name": "r", "ok": True, "out_sha256": "b"}]
    assert run.differing_ops(ops, "q", "a") == [1]
    assert run.differing_ops(ops, "r", "b") == []


def test_layer_medians_skip_ops_without_the_value():
    ops = [{"x": 1.0}, {"x": 3.0}, {"y": 5.0}]
    assert metrics.layer_medians(ops, ["x", "y", "z"]) == {"x": 2.0, "y": 5.0}


@pytest.mark.parametrize("kind,size", [("tables", "tiny"), ("corpus", "0.2"), ("stream", "tiny")])
def test_same_seed_same_bytes(tmp_path, kind, size):
    _, m1 = gen.ensure(str(tmp_path / "a"), kind, 5, size)
    _, m2 = gen.ensure(str(tmp_path / "b"), kind, 5, size)
    _, m3 = gen.ensure(str(tmp_path / "c"), kind, 6, size)
    assert m1["sha256"] == m2["sha256"]
    assert m1["sha256"] != m3["sha256"]


def test_cached_input_is_reused_and_a_changed_one_regenerated(tmp_path):
    d, m = gen.ensure(str(tmp_path), "corpus", 1, "0.1")
    stamp = os.path.getmtime(os.path.join(d, "part-00000.txt"))
    assert gen.ensure(str(tmp_path), "corpus", 1, "0.1")[1] == m
    assert os.path.getmtime(os.path.join(d, "part-00000.txt")) == stamp
    with open(os.path.join(d, "part-00001.txt"), "a") as fh:
        fh.write("tampered\n")
    d2, m2 = gen.ensure(str(tmp_path), "corpus", 1, "0.1")
    assert m2["sha256"] == m["sha256"]
    with open(os.path.join(d2, "part-00001.txt")) as fh:
        assert "tampered" not in fh.read()


def test_corpus_ngram_count_is_exact(tmp_path):
    d, m = gen.ensure(str(tmp_path), "corpus", 3, "0.2")
    total = 0
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f)) as fh:
            toks = re.sub(r"[^a-zA-Z0-9\s]+", "", fh.read()).lower().split()
        total += max(0, len(toks) - gen.NGRAM_N + 1)
    assert total == m["facts"]["ngrams"]


def test_stream_files_are_event_time_ordered_and_hold_the_batch(tmp_path):
    import pyarrow.parquet as pq
    d, m = gen.ensure(str(tmp_path), "stream", 2, "tiny")
    files = sorted(f for f in os.listdir(d) if f.startswith("events_"))
    ts = [t for f in files for t in pq.read_table(os.path.join(d, f))["ts"].to_pylist()]
    assert ts == sorted(ts)
    batch = pq.read_table(os.path.join(d, "batch", "events.parquet"))
    assert batch.num_rows == len(ts) == m["facts"]["rows"]
    assert len(set(batch["event_id"].to_pylist())) == m["facts"]["distinct_events"]


def _parts(tmp_path, texts):
    for i, t in enumerate(texts):
        (tmp_path / f"part-{i:05d}-x.csv").write_text(t)
    return str(tmp_path)


def test_ngram_check_accepts_sorted_complete_output(tmp_path):
    d = _parts(tmp_path, ["a b c\t2\nb c d\t1\n", "", "x y z\t3\n"])
    assert checks.check_ngram_output(d, 6)[1] is None


@pytest.mark.parametrize("texts,total,why", [
    (["b c d\t1\na b c\t2\n"], 3, "out of order"),
    (["a b c\t1\n", "a b c\t1\n"], 2, "repeated"),
    (["a b c\t1\n"], 2, "sum to 1"),
])
def test_ngram_check_rejects(tmp_path, texts, total, why):
    assert why.split()[0] in checks.check_ngram_output(_parts(tmp_path, texts), total)[1]


def test_frame_hash_ignores_column_order_not_row_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    assert checks.frame_sha256(a) == checks.frame_sha256(a[["y", "x"]])
    assert checks.frame_sha256(a) != checks.frame_sha256(a.iloc[::-1])


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    declared = [w["name"] for w in b["workloads"]]
    assert set(declared) | {"event_stream"} == set(run.SPEC["workloads"])
    assert [m["name"] for m in b["per_layer"]] == list(run.SPEC["layers"])
    for layer in run.SPEC["layers"].values():
        assert set(layer["on"]) <= set(run.SPEC["workloads"])


SMOKE_SIZES = {"ngram_corpus": "0.2", "query_mix": "tiny", "event_stream": "tiny"}


@pytest.mark.skipif(os.environ.get("PERFBENCH_SMOKE") != "1",
                    reason="set PERFBENCH_SMOKE=1 to build and run every workload")
@pytest.mark.parametrize("workload", list(run.SPEC["workloads"]))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--size", SMOKE_SIZES[workload], "--seed", "1", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    want = run.END_TO_END if trace == 0 else run.PER_LAYER
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
