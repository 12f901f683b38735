"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The input and metric tests need no JVM.  The traced-run test starts one
Spark session per Spark workload and takes about two minutes.
"""

import itertools
import json
import os
import subprocess
import sys
import time
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, harness, templates  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _inputs(seed: int) -> bytes:
    docs, truth = gen.documents(seed, 300)
    tables = [*gen.tpch(seed, 0.001).values(), docs, gen.embeddings(seed, 50)]
    ops = {
        "interactive": list(itertools.islice(templates.rounds(seed), 6)),
        "warmup": list(itertools.islice(templates.rounds(seed, True), 2)),
        "queries": gen.query_vectors(seed, 0),
        "truth": truth,
    }
    return gen.table_bytes(tables) + json.dumps(ops, sort_keys=True).encode()


def test_same_seed_same_inputs_and_ops():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_inputs_and_ops():
    assert _inputs(7) != _inputs(8)


def test_rounds_keep_the_template_mix():
    for rnd in itertools.islice(templates.rounds(3), 20):
        assert sorted(n for n, _, _ in rnd) == sorted(templates.TEMPLATES)
    repeats = [r for rnd in itertools.islice(templates.rounds(3), 200)
               for _, _, r in rnd]
    assert 0.15 < sum(repeats) / len(repeats) < 0.3


def test_injected_duplicates_are_well_formed():
    docs, truth = gen.documents(5, 1000)
    text = dict(zip(docs.column("doc_id").to_pylist(),
                    docs.column("text").to_pylist()))
    norm = {i: " ".join(t.lower().split()) for i, t in text.items()}
    assert len(set(norm.values())) == len(norm) - sum(
        len(g) - 1 for g in truth["exact_groups"])
    for g in truth["exact_groups"]:
        assert len({norm[i] for i in g}) == 1
    for a, b in truth["near_pairs"]:
        assert norm[a] != norm[b]


def _check_metrics(result: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in BENCH[section]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, m in got.items():
        assert m["unit"] == want[name], name
        assert isinstance(m["value"], (int, float)), name


def test_bench_json_shape():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    names = [m["name"] for s in ("end_to_end", "per_layer")
             for m in BENCH[s]] + WORKLOADS
    assert len(names) == len(set(names))
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"),
                                           (1, "per_layer")])
def test_printed_metrics_match_bench_json(trace, section):
    """The JVM-free workload prints exactly the listed metrics."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "local",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180, check=True)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    _check_metrics(result, section)
    host = json.loads(lines[-2])["host"]
    assert {"nproc", "slots", "steal_frac", "load1"} <= set(host)


def test_result_line_is_strict_json_when_most_ops_fail():
    from perfbench.run import result_line

    run = types.SimpleNamespace(errors=["op 1 raised"],
                                lat=[[0.2, True], [0.3, False], [0.4, False]])
    raw = {"setup_s": 1.0, "window_s": 0.9, "rss_mb": 50.0, "ops": 3,
           "cycles": [(0.9, 0.8, 3, 30)]}
    result = json.loads(result_line(run, 3, harness.end_to_end(run, raw)))
    assert not result["correct"] and result["failed"] == 2
    assert result["metrics"]["op_p50_s"]["value"] is None
    assert result["metrics"]["ok_frac"]["value"] == 1 / 3


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout the command exits non-zero with no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(
                open(os.path.join(ROOT, "perfbench", name), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "local",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert "metrics" not in out.stdout


def test_traced_runs_cover_every_layer():
    """Across the listed workloads, the traced runs emit a span for every
    per-layer metric that summarises spans, and report every metric."""
    from perfbench.run import _workload

    seen = set()
    for name in WORKLOADS:
        run = harness.Run(name, 1, 0.5, True, time.monotonic(), ROOT)
        try:
            wl = _workload(name, run)
            try:
                raw = harness.measure(run, wl)
                metrics = harness.per_layer(run, raw, wl)
            finally:
                wl.close()
                harness.stop_spark(run)
        finally:
            harness.cleanup(run)
        assert not run.errors, run.errors
        assert set(metrics) == {m["name"] for m in BENCH["per_layer"]}
        seen |= {s.name for s in run.tracer.spans}
    wanted = set(harness.LAYER_SPANS.values()) | {"spark.session_start",
                                                  "warmup", "op"}
    assert wanted <= seen, wanted - seen
