#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:
  1. builds the program and the harness from source with sbt if the
     sources changed since the last build (the build is cached under
     .bench_build/perfbench, keyed by a hash of every source file);
  2. generates the workload's tables from the seed (gen.py);
  3. runs the workload in one JVM (perfbench.Harness): session start, one
     untimed warm call per op, timed passes for S seconds (at least two);
  4. validates each op's reference output against its DuckDB mirror with
     scripts/oracle_check.py;
  5. prints a report, then one JSON result line as the last stdout line.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(traced passes alternate with untraced ones in the same JVM, which gives
the tracing overhead). Exits non-zero without a result line if the
program cannot be built or the run cannot complete.

Metric names, units and directions come from BENCHMARK.json; op lists,
inputs and report-only figures from perfbench/workloads.json.

Extra options: --scale sf0.001|sf0.01|sf0.1 (input row counts; sf0.01 is
what the benchmark measures, sf0.001 is the self-test's input, sf0.1 is for
comparing the cost split with the repository's bench scale), --fault-op
NAME (make NAME's timed executions throw after the op ran).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

MANIFEST = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# Fixed sizing of the measuring JVM: local[2] with 2 shuffle partitions and
# two GC threads, so its own JIT and GC threads have room on a small host,
# and a 3 GB heap with a fixed 512 MB young generation, so the resident
# size does not follow the collector's adaptive sizing.
CORES = min(2, os.cpu_count() or 1)
JVM_FLAGS = ["-Xmx3g", "-Xmn512m", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
BUILD_TIMEOUT = 600
RUN_BUDGET = 175  # seconds from the end of the build to the result line
SF01_BUDGET = 900  # the same for an sf0.1 comparison run
ORACLE_RESERVE = 25
# A run whose passes were disturbed by CPU steal may time up to
# STRETCH x --seconds, to get an undisturbed pass.
STRETCH = 1.5


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    meta = os.path.join(ROOT, "project")
    if os.path.isdir(meta):
        files += [os.path.join(meta, f) for f in os.listdir(meta)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources (build.sbt, src/main) next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Xmx2g")
    log("building program + harness with sbt ...")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip()][-1].strip()
    if "perfbench" not in cp:
        fail("build produced no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def shm_entries():
    try:
        return {n for n in os.listdir("/dev/shm") if n.startswith("graft_")}
    except OSError:
        return set()


def run_jvm(cp, args, run_dir, timeout):
    """Run the harness; remove the scratch it leaves (the program puts its
    streaming checkpoints on /dev/shm when it can)."""
    shm_before = shm_entries()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *JVM_FLAGS, *JVM_OPENS,
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness"] + args)
    logf = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=logf, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        logf.close()
        for n in shm_entries() - shm_before:
            shutil.rmtree(os.path.join("/dev/shm", n), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return code


def oracle_check(data_dir, out_dir, ops, timeout):
    """Hash-match each op's reference output against its DuckDB mirror with
    the repository's comparator; return {op: None if OK else reason}."""
    script = os.path.join(ROOT, "scripts", "oracle_check.py")
    try:
        p = subprocess.run([sys.executable, script, data_dir, out_dir, *ops],
                           stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=timeout)
        out = p.stdout
    except (OSError, subprocess.TimeoutExpired) as e:
        return {op: f"oracle check did not run: {e}" for op in ops}
    verdict = {op: "no oracle verdict" for op in ops}
    for line in out.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.strip().split(":")[0]
        if name in verdict:
            verdict[name] = None if word == "OK" else rest.strip()
    return verdict


def unstolen(busy, steal):
    """Share of the host's wanted CPU time that the hypervisor did not
    steal during an execution (1 on an undisturbed host). An execution's
    time net of steal is its measured time times this share."""
    return busy / (busy + steal) if busy + steal else 1.0


def tail(values):
    """Highest percentile with >= 10 samples beyond it (needs >= 20)."""
    n = len(values)
    if n < 20:
        return None
    s = sorted(values)
    return {"value": s[n - 11],
            "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(gen.SIZES),
                    default=gen.DEFAULT_SCALE)
    ap.add_argument("--fault-op")
    a = ap.parse_args()
    wl = MANIFEST["workloads"].get(a.workload)
    if wl is None:
        fail(f"unknown workload {a.workload}")
    ops = wl["ops"]

    cp = build()

    t_setup = time.time()
    deadline = t_setup + (SF01_BUDGET if a.scale == "sf0.1" else RUN_BUDGET)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{a.scale}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    props = gen.generate(a.workload, a.seed, data_dir, a.scale)
    gen_s = time.time() - t_setup
    print(f"input {json.dumps(props, sort_keys=True)}")

    out_dir = os.path.join(run_dir, "outputs")
    os.makedirs(out_dir)
    result_file = os.path.join(run_dir, "result.json")
    args = ["--data", data_dir, "--ops", ",".join(ops),
            "--seconds", str(a.seconds),
            "--max-seconds", str(STRETCH * a.seconds), "--trace", str(a.trace),
            "--cores", str(CORES), "--out", result_file,
            "--outputs", out_dir, "--local", os.path.join(run_dir, "local"),
            "--spans", os.path.join(run_dir, "spans.jsonl")]
    if a.fault_op:
        args += ["--fault-op", a.fault_op]
    t_launch = time.time()
    code = run_jvm(cp, args, run_dir, deadline - ORACLE_RESERVE - time.time())
    if code != 0 or not os.path.isfile(result_file):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"harness JVM failed (exit {code})")
    r = json.load(open(result_file))
    boot_s = r["main_start_ms"] / 1000.0 - t_launch
    setup_s = gen_s + boot_s + r["session_s"] + r["warm_s"]

    verdict = oracle_check(data_dir, out_dir, ops,
                           max(5.0, deadline - 2 - time.time()))
    attempted = failed = 0
    failed_ops = {}
    # Per op: its fastest timed execution net of CPU steal, and its lowest
    # per-execution median epoch, net of steal the same way. Interference
    # on a shared host only ever adds time, so the minimum over passes is
    # the steadiest estimate of an op's own cost.
    per_op, per_op_epoch, raw_op, net, net_epochs = {}, {}, {}, {}, {}
    for op in ops:
        o = r["ops"][op]
        attempted += o["attempts"]
        bad = o["failures"]
        why = o["errors"][:1] or ([o["warm_error"]] if o["warm_error"] else [])
        if o["ref"] is not None and verdict[op] is not None:
            # the reference itself is wrong, so every execution is
            bad = o["attempts"]
            why = [f"reference fails the DuckDB mirror: {verdict[op]}"]
        failed += bad
        if bad:
            failed_ops[op] = why[0] if why else "failed"
        if o["times"] and op not in failed_ops:
            f = [unstolen(bj, sj) for bj, sj in zip(o["busy_j"], o["steal_j"])]
            net[op] = [t * k for t, k in zip(o["times"], f)]
            per_op[op] = min(net[op])
            raw_op[op] = min(o["times"])
            net_epochs[op] = [[t * k for t in e]
                              for e, k in zip(o["epoch_ms"], f)]
            eps = [statistics.median(e) for e in net_epochs[op] if e]
            if eps:
                per_op_epoch[op] = min(eps)

    samples = [t for op in per_op for t in net[op]]
    epochs = [t for op in per_op for e in net_epochs[op] for t in e]
    e2e = {
        "setup_s": setup_s,
        "wall_s": sum(per_op.values()),
        "op_p50_s": statistics.median(per_op.values()) if per_op else 0.0,
        "epoch_p50_ms": (statistics.median(per_op_epoch.values())
                         if per_op_epoch and wl.get("epochs", True) else None),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    report = {
        "op_tail_s": tail(samples), "epoch_tail_ms": tail(epochs),
        "fail_frac": {"value": failed / attempted, "attempted": attempted,
                      "failed": failed},
    }
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(ops)} ops, {r['passes']} timed passes in {r['measured_s']:.1f} s")
    print(f"  set-up: inputs {gen_s:.2f} s, JVM + session {boot_s + r['session_s']:.2f} s, "
          f"warm calls {r['warm_s']:.2f} s; host CPU steal while timing "
          f"{100 * r['steal_frac']:.1f}%; steal share per pass " +
          ", ".join(f"{100 * p['steal']:.1f}%{' (traced)' if p['traced'] else ''}"
                    for p in r["pass_walls"]))
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + MANIFEST["reported"]}
    for k, v in e2e.items():
        print(f"  {k:14s} {'n/a (no streaming epochs)' if v is None else f'{v:.4f}'}"
              f" {units[k] if v is not None else ''}")
    for k, v in report.items():
        if k == "fail_frac":
            print(f"  {k:14s} {v['value']:.4f} {units[k]} "
                  f"({v['failed']} failed / {v['attempted']} attempted)")
        elif v is None:
            print(f"  {k:14s} n/a (fewer than 20 samples)")
        else:
            print(f"  {k:14s} {v['value']:.4f} {units[k]} "
                  f"(p{v['percentile']} of {v['samples']} samples)")
    for op in ops:
        ts = r["ops"][op]["times"]
        print(f"  op {op:32s} warm {r['ops'][op]['warm_s']:.3f} s, " +
              (f"fastest {per_op[op]:.3f} s net of steal ({raw_op[op]:.3f} s "
               f"as measured) of {len(ts)} passes"
               if op in per_op else "no timing"))
    for op, why in failed_ops.items():
        print(f"  FAILED {op}: {why}")

    if a.trace == 1:
        layers = dict(r["layers"])
        walls = r["pass_walls"]
        un = [p["wall_s"] for p in walls if not p["traced"]]
        tr = [p["wall_s"] for p in walls if p["traced"]]
        layers["trace.untraced_wall_s"] = statistics.median(un)
        layers["trace.traced_wall_s"] = statistics.median(tr)
        # Each traced pass against the mean of the untraced passes just
        # before and after it, so the warm-up still under way from pass to
        # pass cancels out of the overhead.
        layers["trace.overhead_s"] = statistics.median(
            p["wall_s"] - (walls[i - 1]["wall_s"] + walls[i + 1]["wall_s"]) / 2
            for i, p in enumerate(walls)
            if p["traced"] and 0 < i < len(walls) - 1)
        self_keys = [k for k in layers if k.startswith("self.")]
        print("  self time per layer (traced passes): " + ", ".join(
            f"{k[5:-2]} {layers[k]:.3f} s" for k in self_keys))
        print(f"  tracing overhead {layers['trace.overhead_s']:+.3f} s "
              f"against the untraced passes on each side (median traced pass "
              f"{layers['trace.traced_wall_s']:.3f} s, untraced "
              f"{layers['trace.untraced_wall_s']:.3f} s)")
        print(f"  spans: {os.path.relpath(os.path.join(run_dir, 'spans.jsonl'), ROOT)}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in BENCH["end_to_end"]
                   if e2e[m["name"]] is not None}
    correct = failed == 0 and len(per_op) == len(ops)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
