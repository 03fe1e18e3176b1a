#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001-sized inputs).

    python3 perfbench/selftest.py [workload ...]

Checks once that perfbench/workloads.json names, for every per-layer
metric of BENCHMARK.json and for no other, the end-to-end metric it should
move on each workload it names. Then, for every workload in
perfbench/workloads.json (or the ones named):
  1. a --trace 0 run prints every end-to-end metric of BENCHMARK.json that
     applies to the workload, and no other, with its unit, in the result
     line and in the report, plus the reported-only figures (op_tail_s,
     epoch_tail_ms, fail_frac);
  2. a --trace 1 run prints every per-layer metric of BENCHMARK.json, and
     no other, with its unit, the self time per layer and the tracing
     overhead;
  3. the count metrics streaming.epochs, operators.jobs, plans.executions
     and sources.input_rows repeat exactly across two traced runs of the
     same seed;
and once:
  4. an op run that throws (--fault-op) is counted as failed, gets no
     timing, and is named in the report;
  5. run.py exits non-zero without a result line in a directory that holds
     only BENCHMARK.json and perfbench/.
Exits 0 iff every check passes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MANIFEST = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
COUNTS = ["streaming.epochs", "operators.jobs", "plans.executions",
          "sources.input_rows"]
SEED = 7
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
         workload, "--seed", str(SEED), "--seconds", "1", "--trace",
         str(trace), "--scale", "sf0.001", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return p.returncode, result, p.stdout


def applies(metric, workload):
    return (metric["name"] != "epoch_p50_ms" or
            MANIFEST["workloads"][workload].get("epochs", True))


def test_moves():
    moves = MANIFEST["moves"]
    layer = {m["name"] for m in BENCH["per_layer"]}
    targets = {m["name"] for m in BENCH["end_to_end"] + MANIFEST["reported"]}
    check(set(moves) == layer,
          "workloads.json moves: one entry per per-layer metric of BENCHMARK.json")
    check(all(w in MANIFEST["workloads"] and t in targets
              for m in moves.values() for w, t in m.items()),
          "workloads.json moves: known workloads and end-to-end targets")


def test_workload(wl):
    code, r, out = run(wl, 0)
    check(code == 0 and r is not None, f"{wl}: trace 0 run completes")
    if r is None:
        print(out[-3000:])
        return
    check(r["correct"] and r["failed"] == 0, f"{wl}: outputs correct")
    want = [m for m in BENCH["end_to_end"] if applies(m, wl)]
    check(set(r["metrics"]) == {m["name"] for m in want},
          f"{wl}: result line holds exactly the end-to-end metrics")
    for m in want:
        got = r["metrics"].get(m["name"], {})
        check(got.get("unit") == m["unit"] and
              isinstance(got.get("value"), (int, float)),
              f"{wl}: {m['name']} in result line with unit {m['unit']}")
        check(f"{m['name']} " in out and f" {m['unit']}" in out,
              f"{wl}: {m['name']} in report")
    for m in MANIFEST["reported"]:
        check(f"  {m['name']} " in out, f"{wl}: {m['name']} in report")

    runs = [run(wl, 1) for _ in range(2)]
    for code, r, out in runs:
        check(code == 0 and r is not None, f"{wl}: trace 1 run completes")
        if r is None:
            print(out[-3000:])
            return
    (_, r1, out1), (_, r2, _) = runs
    check(set(r1["metrics"]) == {m["name"] for m in BENCH["per_layer"]},
          f"{wl}: traced result line holds exactly the per-layer metrics")
    for m in BENCH["per_layer"]:
        got = r1["metrics"].get(m["name"], {})
        check(got.get("unit") == m["unit"] and
              isinstance(got.get("value"), (int, float)),
              f"{wl}: {m['name']} traced with unit {m['unit']}")
    check("self time per layer" in out1 and "tracing overhead" in out1,
          f"{wl}: self time and tracing overhead reported")
    for k in COUNTS:
        a, b = r1["metrics"][k]["value"], r2["metrics"][k]["value"]
        check(a == b, f"{wl}: {k} repeats across runs ({a} vs {b})")


def test_fault():
    wl = "stream_state"
    op = MANIFEST["workloads"][wl]["ops"][0]
    code, r, out = run(wl, 0, "--fault-op", op)
    check(code == 0 and r is not None, "fault run completes")
    if r is None:
        return
    check(not r["correct"] and r["failed"] >= 1,
          f"fault run: failed={r['failed']} of attempted={r['attempted']}")
    check(f"op {op}" in out and f"FAILED {op}" in out and
          [ln for ln in out.splitlines() if ln.strip().startswith(f"op {op} ")
           and "no timing" in ln],
          "fault run: the throwing op has no timing and is named")


def test_bare_dir():
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        shutil.copy(bench, bare)
    code, r, _ = run("stream_state", 0, cwd=bare)
    check(code != 0 and r is None, "bare directory: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)


def main():
    names = sys.argv[1:] or list(MANIFEST["workloads"])
    test_moves()
    test_bare_dir()
    for wl in names:
        test_workload(wl)
    test_fault()
    print(f"--- {len(failures)} failed checks")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
