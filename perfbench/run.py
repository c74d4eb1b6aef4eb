#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and this
harness from source with sbt (offline) into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed (cached under .bench_build/inputs), starts one
fresh JVM with its own warehouse, checkpoint and output directories
under .bench_build/runs, checks the outputs, deletes them, and prints
as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the spans and per-operation layer values
are written to .bench_build/traces/. Metric names and units are read
from BENCHMARK.json; workload inputs and the layer map are in
perfbench/spec.json.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as _fh:
    SPEC = json.load(_fh)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)

END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
JVM_MEM = "3g"
# every JVM of one run must have ended this long after the run started
RUN_TIMEOUT_S = 170
_START = time.time()
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """The JVM classpath of the engine plus harness, building it with
    sbt when the sources changed since the last build."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    stamp_file = os.path.join(BUILD, f"classpath-{source_stamp()}.txt")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            return fh.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if ln.startswith(os.sep) and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise BenchError(f"sbt build failed (exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def prepare_input(workload, seed):
    spec = SPEC["workloads"][workload]["input"]
    d, manifest = gen.ensure(os.path.join(BUILD, "inputs"), spec["kind"], seed, spec["size"])
    return d, manifest


def launch(cp, workload, input_dir, run_dir, seconds, trace, min_ops):
    for sub in ("out", "tmp", "warehouse", "checkpoints"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", *ADD_OPENS, f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--input", input_dir, "--run-dir", run_dir,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(os.cpu_count() or 4), "--min-ops", str(min_ops),
            "--result", result])
    launch_ms = time.time() * 1000.0
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, _START + RUN_TIMEOUT_S - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"the run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise BenchError(f"harness JVM exited {rc}")
    with open(result) as fh:
        res = json.load(fh)
    res["launch_ms"] = launch_ms
    if trace:
        with open(result + ".spans.json") as fh:
            res["spans"] = json.load(fh)
    return res


def differing_ops(ops, name, sha):
    """Ids of the completed operations of `name` whose output hash is
    not `sha`."""
    return [o["op"] for o in ops if o["name"] == name and o["ok"] and o.get("out_sha256") != sha]


def run_once(cp, workload, seed, seconds, trace):
    """One harness JVM on the workload's seeded input; its outputs are
    checked, then deleted. Returns (result, {name: why} of wrong outputs)."""
    input_dir, manifest = prepare_input(workload, seed)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    if workload == "event_stream":
        warm = os.path.join(run_dir, "warm_events")
        os.makedirs(warm)
        for f in sorted(f for f in os.listdir(input_dir) if f.startswith("events_"))[:1]:
            shutil.copy(os.path.join(input_dir, f), warm)
    min_ops = SPEC["workloads"][workload]["min_ops_for_tail"]
    res = launch(cp, workload, input_dir, run_dir, seconds, trace, min_ops)
    wrong = judge(workload, res, manifest, input_dir, run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res, wrong


def judge(workload, res, manifest, input_dir, run_dir):
    """Names of the operations whose output is wrong, with reasons."""
    wrong = {c["name"]: c["detail"] for c in res["checks"] if not c["ok"]}
    out = os.path.join(run_dir, "out")
    ops = res["ops"]
    if workload == "query_mix":
        names = sorted({o["name"] for o in ops} | set(wrong))
        verdicts = checks.check_queries(names, res["oracle_sql"], input_dir, manifest["sha256"],
                                        out, os.path.join(BUILD, "oracle-cache.json"))
        wrong.update({n: v for n, v in verdicts.items() if v and n not in wrong})
        # the oracle checked each query's first completed pass; every
        # later pass must return the same rows
        for n in names:
            first = next((o["out_sha256"] for o in ops if o["name"] == n and o["ok"]), None)
            bad = differing_ops(ops, n, first)
            if first and bad and n not in wrong:
                wrong[n] = f"outputs of ops {bad[:5]} differ from the checked pass"
    elif workload == "ngram_corpus" and "ngram_job" not in wrong:
        sha, why = checks.check_ngram_output(os.path.join(out, "warm"), manifest["facts"]["ngrams"])
        bad = differing_ops(ops, "ngram_job", sha)
        if why:
            wrong["ngram_job"] = why
        elif bad:
            wrong["ngram_job"] = f"outputs of ops {bad[:5]} differ from the checked output"
    return wrong


def end_to_end(workload, res):
    spec = SPEC["workloads"][workload]
    tail_pct = metrics.tail_pct(spec["min_ops_for_tail"])
    ops = res["ops"]
    lat = [o["latency_s"] for o in ops if o["ok"]]
    if not lat:
        raise BenchError("no operation completed")
    measured = res["measured_s"] - res.get("paused_s", 0.0)
    m = {
        "setup_s": (res["first_op_ms"] - res["launch_ms"]) / 1000.0,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": metrics.percentile(lat, tail_pct),
        "ops_per_s": len(ops) / measured,
    }
    if workload == "ngram_corpus":
        work = len(ops) * res["corpus_mb"] / measured
    elif workload == "event_stream":
        work = sum(o.get("rows", 0) for o in ops) / measured
    else:
        work = len(ops) * 60.0 / measured
    extra = {spec["throughput"]["name"]: (work, spec["throughput"]["unit"]),
             "op_tail_pct": (tail_pct, "percentile"),
             "op_tail_beyond": (len(lat) - math.ceil(tail_pct / 100.0 * len(lat)), "count"),
             "ops_total": (len(ops), "count")}
    return m, extra


def per_layer(workload, res):
    """Each per-layer metric: the run-level value when the harness
    measured one by a direct call, else the median over the traced
    operations, else 0 (the layer is not exercised by this workload).
    `trace.overhead_pct` compares the traced passes of the run with its
    untraced passes."""
    traced = [o for o in res["ops"] if o["traced"]]
    plain = [o for o in res["ops"] if not o["traced"]]
    m = {n: 0.0 for n in PER_LAYER}
    m.update(metrics.layer_medians(traced, PER_LAYER))
    m.update({n: res[n] for n in PER_LAYER if n in res})
    m["jvm.start_s"] = (res["session_ready_ms"] - res["launch_ms"]) / 1000.0
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    if workload == "event_stream":
        m["streaming.batch_p50_s"] = statistics.median(o["latency_s"] for o in traced)
    overhead = metrics.overhead_pct(metrics.name_medians(traced), metrics.name_medians(plain))
    if overhead is None:
        raise BenchError("no operation name completed in both traced and untraced passes")
    m["trace.overhead_pct"] = overhead
    return m


def write_trace(workload, seed, res):
    d = os.path.join(BUILD, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "spans": res["spans"], "ops": res["ops"]}, fh)
    return path


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", help="override the workload's input size (tests use a small one)")
    a = ap.parse_args(argv)
    if a.size:
        SPEC["workloads"][a.workload]["input"]["size"] = a.size
    try:
        cp = build()
        res, wrong = run_once(cp, a.workload, a.seed, a.seconds, a.trace == 1)
        ops = res["ops"]
        if a.trace:
            m, units = per_layer(a.workload, res), PER_LAYER
            print(f"trace: {write_trace(a.workload, a.seed, res)}")
            if a.workload == "query_mix":
                # event_stream is not a declared workload, so the traced
                # query-mix run also replays the event stream, in a JVM of
                # its own, to measure the streaming layer
                sres, swrong = run_once(cp, "event_stream", a.seed, 0, True)
                print(f"trace: {write_trace('event_stream', a.seed, sres)}")
                m.update({k: v for k, v in per_layer("event_stream", sres).items()
                          if k.startswith("streaming.")})
                wrong.update(swrong)
                ops = ops + sres["ops"]
        else:
            (m, extra), units = end_to_end(a.workload, res), END_TO_END
            for k, (v, u) in extra.items():
                print(f"{k} {v:.6g} {u}")
        attempted, failed = metrics.account(ops, set(wrong))
        for name, why in sorted(wrong.items()):
            print(f"FAILED {name}: {why}")
        for k, v in m.items():
            print(f"{k} {v:.6g} {units[k]}")
    except BenchError as e:
        log(f"error: {e}")
        return 2
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
