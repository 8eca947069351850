"""Smoke test of the benchmark itself, at tiny scale (sf0.001-shaped
inputs, one or two rounds per workload).

    python3 perfbench/smoke.py

Run from the root of a graft checkout. Asserts that every workload
prints every named metric with its unit, untraced and traced, and that a
tampered known-answer digest fails the command.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "0.01"
NAMED = {
    "query_mix": {"query_p50_s": "s", "query_p90_s": "s", "queries_per_s": "1/s"},
    "transfer_bulk": {"transfer_rows_per_s": "rows/s"},
    "stream_drain": {"stream_rows_per_s": "rows/s", "microbatch_p50_s": "s",
                     "microbatch_p90_s": "s"},
    "index_serve": {"serve_p50_s": "s", "serve_p90_s": "s", "restage_p50_s": "s"},
}
COMMON = {"setup_s": "s", "ops_failed_frac": "frac"}


def run(workload, trace, known=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--scale", SCALE]
    if known:
        cmd += ["--known", known]
    return subprocess.run(cmd, capture_output=True, text=True, timeout=600)


def check_run(workload, trace, spec):
    r = run(workload, trace)
    assert r.returncode == 0, f"{workload} trace={trace} exit {r.returncode}\n{r.stderr[-3000:]}"
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}, sorted(set(got) ^ {m["name"] for m in want})
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float))
    table = {}
    for l in lines[:-1]:
        f = l.split()
        if len(f) == 6 and f[0] == "#" and f[1] == workload and f[5].startswith("n="):
            table[f[2]] = (f[4], int(f[5][2:]))
    for name, unit in {**COMMON, **NAMED[workload]}.items():
        assert name in table, f"{workload}: report lacks {name}"
        assert table[name][0] == unit, (name, table[name])
        assert table[name][1] >= 1, (name, table[name])
    print(f"ok  {workload} trace={trace}: {len(got)} metrics, {len(table)} report lines")


def check_tampered():
    with open(os.path.join(HERE, "known_answers.json")) as fh:
        known = json.load(fh)
    digests = known["query_mix"][f"1@{SCALE}"]
    key = sorted(digests)[0]
    digests[key] = "0" * 32
    out_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.abspath(os.path.join(out_dir, "smoke-tampered.json"))
    with open(path, "w") as fh:
        json.dump(known, fh)
    try:
        r = run("query_mix", 0, known=path)
    finally:
        os.remove(path)
    assert r.returncode != 0, "a tampered known answer must fail the command"
    assert not any(re.match(r"\s*\{", l) for l in r.stdout.splitlines()), r.stdout
    assert key in r.stderr, f"failure report should name {key}"
    print(f"ok  tampered digest for {key} fails the command")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    for w in NAMED:
        for trace in (0, 1):
            check_run(w, trace, spec)
    check_tampered()
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
