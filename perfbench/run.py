#!/usr/bin/env python3
"""Full-compute, layer-attributed benchmark of the graft engine.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (perfbench/README.md has the details):
  query_panel  27 registry queries drawn from the three families below
  store_rw     append / merge / delete / scan / compact cycles on ManifestTable
Report-only workloads (a run takes 2-3 minutes, so they are given 600 s):
  survey69     the 69 SURVEY section 2.2 queries over cached tables
  llm_corpus   the LLM-pipeline queries (text, tokenize, dedup, ANN, ...)
  reactive     streaming drives plus pipeline and incremental block runs

One run is one JVM on local[nproc] with one closed-loop client. It builds
the program from source (perfbench/build.py), sets up (session, table
cache, a cold untimed pass that fingerprints every output), then runs
whole passes in a seeded order for at least --seconds and a minimum
number of ops (MIN_OPS). The
last stdout line is the result JSON; with --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer ones. A run whose
outputs do not match perfbench/expected.json exits 1.

The JVM runs in a private mount namespace whose /tmp is an empty
in-memory tmpfs that ends with the run, so the program's fixed /tmp
roots start empty in every run, no disk writeback adds noise, and nothing
is written outside the checkout. A host that cannot make that namespace
gets no result: the run exits 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
DATA = HERE / "data" / "sf0.01"
EXPECTED = HERE / "expected.json"
WORKLOADS = ("query_panel", "store_rw", "survey69", "llm_corpus", "reactive")
# timed op samples a run takes at least (whole passes); report-only
# workloads take one pass (three when traced)
MIN_OPS = {"query_panel": 54, "store_rw": 168}
HEAP = "3g"
# a benchmarked run (a workload in MIN_OPS) must end within 180 s; the
# JVM is killed before that
DEADLINE_S = 170
REPORT_DEADLINE_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def loadavg():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def cpu_ticks():
    """(steal, total) CPU ticks of this machine since boot, from /proc/stat."""
    try:
        t = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return (t[7] if len(t) > 7 else 0), sum(t)
    except (OSError, ValueError):
        return 0, 0


def git_head():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# Runs its arguments with a private in-memory /tmp. A checkout that lives
# under /tmp is bound back into the new /tmp at the same path.
ISOLATE = """
root=$1 rel=$2 run=$3; shift 3
cd "$root" && mount -t tmpfs -o size=2g perfbench /tmp || exit 97
if [ -n "$rel" ]; then mkdir -p "/tmp/$rel" && mount --no-canonicalize --bind . "/tmp/$rel" || exit 97; fi
cd "$run" && exec "$@"
"""


def isolation_prefix(run_dir):
    """Command prefix that runs the JVM in a private mount namespace whose
    /tmp is an empty tmpfs."""
    ns = ["unshare", "--user", "--map-root-user", "--mount"]
    try:
        probe = subprocess.run(ns + ["true"], stdout=subprocess.DEVNULL,
                               stderr=subprocess.DEVNULL)
    except OSError as e:
        raise RuntimeError(f"cannot run unshare for a private /tmp: {e}")
    if probe.returncode != 0:
        raise RuntimeError("this host allows no unprivileged user and mount "
                           "namespace, so the run cannot start from an empty /tmp")
    try:
        rel = str(ROOT.relative_to("/tmp"))
    except ValueError:
        rel = ""
    return ns + ["sh", "-c", ISOLATE, "sh", str(ROOT), rel, str(run_dir)]


def run_jvm(args, cp, run_dir, ops_file, deadline):
    result = run_dir / "result.json"
    cmd = isolation_prefix(run_dir) + (
        ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
         "-Dspark.sql.session.timeZone=UTC"]
        + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + ["-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(DATA), "--out", str(result),
           "--min-ops", str(MIN_OPS.get(args.workload, 1)), "--scratch", "/tmp/perfbench",
           "--ops", str(ops_file)])
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = None
    if rc != 0 or not result.is_file():
        tail = log.read_text(errors="replace")[-3000:]
        what = "timed out" if rc is None else f"exited {rc}"
        raise RuntimeError(f"benchmark JVM {what}; log tail:\n{tail}")
    return json.loads(result.read_text())


def med(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10)[8]


def end_to_end(res):
    st = res["setup"]
    ok = [s["wall"] for s in res["samples"] if s["error"] is None]
    return {
        # session start + the median of three table-cache builds + the
        # cold fingerprinting pass
        "setup_s": (st["session_s"] + med(st["cache_s"]) + st["warm_s"], "s"),
        "pass_s": (med([p["wall"] for p in res["passes"]]), "s"),
        "op_s.p50": (med(ok), "s"),
        "op_s.p90": (p90(ok), "s"),
    }


def per_pass(samples, key):
    """Median over passes of the per-pass sum of key(sample)."""
    by = {}
    for s in samples:
        by.setdefault(s["pass"], []).append(key(s))
    return med([sum(v) for v in by.values()])


def per_layer(res):
    st = res["setup"]
    traced = [s for s in res["samples"] if s["traced"] and s["work"] is not None]
    w = lambda k: (lambda s: s["work"][k])  # noqa: E731
    dur = lambda k: (lambda s: s["work"]["dur_ms"].get(k, 0))  # noqa: E731
    batch = [b for s in traced for b in s["work"]["batch_ms"]]
    kind = lambda k: [s["wall"] for s in res["samples"] if s["kind"] == k and not s["error"]]  # noqa: E731
    commits = kind("append") + kind("merge") + kind("delete") + kind("compact")
    scans = [s for s in res["samples"] if s["kind"] == "scan"]
    extra = lambda k: med([p[k] for p in res["passes"] if k in p])  # noqa: E731
    tw = [p["wall"] for p in res["passes"] if p["traced"]]
    uw = [p["wall"] for p in res["passes"] if not p["traced"]]
    mb = 1e6
    m = {
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "jvm.retained_heap_mb": (res["retained_heap_mb"], "MB"),
        "Tables.cache_s": (med(st["cache_s"]), "s"),
        "Tables.cached_mb": (st["cached_mb"], "MB"),
        "Registry.construct_cold_s": (sum(s["construct"] for s in res["warm"]), "s"),
        "Registry.construct_s": (per_pass(traced, lambda s: s["construct"]), "s"),
        "sources.store_mb": (st["store_b"] / mb, "MB"),
        "sources.store_files": (st["store_files"], "count"),
        "plans.analysis_s": (per_pass(traced, lambda s: s["analysis"]), "s"),
        "plans.optimization_s": (per_pass(traced, lambda s: s["optimization"]), "s"),
        "plans.planning_s": (per_pass(traced, lambda s: s["planning"]), "s"),
        "plans.exchanges": (per_pass(traced, lambda s: s["exchanges"]), "count"),
        "plans.codegen_fallback_exprs": (per_pass(traced, lambda s: s["fallback_exprs"]), "count"),
        "exec.s": (per_pass(traced, lambda s: s["exec"]), "s"),
        "exec.tasks": (per_pass(traced, w("tasks")), "count"),
        "exec.task_busy_s": (per_pass(traced, w("task_busy_ms")) / 1e3, "s"),
        "exec.stage_skew_max": (max([s["work"]["skew"] for s in traced], default=0.0), "ratio"),
        "exec.shuffle_write_mb": (per_pass(traced, w("shuffle_write_b")) / mb, "MB"),
        "exec.shuffle_read_mb": (per_pass(traced, w("shuffle_read_b")) / mb, "MB"),
        "exec.spill_mb": (per_pass(traced, w("spill_b")) / mb, "MB"),
        "exec.input_mb": (per_pass(traced, w("input_b")) / mb, "MB"),
        "exec.gc_s": (per_pass(traced, w("gc_ms")) / 1e3, "s"),
        "streaming.batches": (per_pass(traced, w("batches")), "count"),
        "streaming.input_rows": (per_pass(traced, w("input_rows")), "count"),
        "streaming.batch_ms.p50": (med(batch), "ms"),
        "streaming.batch_ms.p90": (p90(batch), "ms"),
    }
    for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
              "latestOffset", "getBatch"):
        m[f"streaming.{k}_ms"] = (per_pass(traced, dur(k)), "ms")
    m["streaming.state_rows"] = (per_pass(traced, w("state_rows")), "count")
    m["streaming.state_mb"] = (per_pass(traced, w("state_b")) / mb, "MB")
    m.update({
        "ManifestTable.append_s": (med(kind("append")), "s"),
        "ManifestTable.merge_s": (med(kind("merge")), "s"),
        "ManifestTable.delete_s": (med(kind("delete")), "s"),
        "ManifestTable.compact_s": (med(kind("compact")), "s"),
        "ManifestTable.commit_s.p50": (med(commits), "s"),
        "ManifestTable.scan_s.p50": (med([s["wall"] for s in scans if not s["error"]]), "s"),
        # tasks of a full scan: one per input partition
        "ManifestTable.scan_partitions": (med([s["work"]["tasks"] for s in traced
                                               if s["name"].startswith("scan_full")]), "count"),
        "ManifestTable.files_live": (extra("files_live"), "count"),
        "ManifestTable.manifest_kb": (extra("manifest_kb"), "KiB"),
        "ManifestTable.write_bytes_per_row": (extra("write_bytes_per_row"), "B/row"),
        "ManifestTable.store_bytes_per_row": (extra("store_bytes_per_row"), "B/row"),
        "trace.overhead_frac": ((med(tw) / med(uw) - 1.0) if tw and uw else 0.0, "ratio"),
    })
    return m


def check(res, expected):
    """Names of ops whose output is wrong or missing."""
    bad = []
    checks = res["checks"]
    for name, c in checks.items():
        if "error" in c:
            bad.append(name)
        elif expected is not None and expected.get(name) != {"rows": c["rows"], "hash": c["hash"]}:
            bad.append(name)
    if expected is not None:
        bad += [n for n in expected if n not in checks]
    return sorted(set(bad))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # record mode: take the op list from this JSON file ({workload: [ops]})
    # and write the observed fingerprints to --record-out
    ap.add_argument("--record-from", help=argparse.SUPPRESS)
    ap.add_argument("--record-out", help=argparse.SUPPRESS)
    args = ap.parse_args()

    t_start = time.time()
    deadline = t_start + (DEADLINE_S if args.workload in MIN_OPS else REPORT_DEADLINE_S)
    load0 = loadavg()
    ticks0 = cpu_ticks()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1
    if not DATA.is_dir():
        print(f"perfbench: no data at {DATA}", file=sys.stderr)
        return 1

    expected = None
    if args.workload != "store_rw":
        if args.record_from:
            ops = json.loads(Path(args.record_from).read_text())[args.workload]
        else:
            expected = json.loads(EXPECTED.read_text())[args.workload]
            ops = sorted(expected)
    else:
        ops = []
    run_dir = OUT / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    ops_file = run_dir / "ops.txt"
    ops_file.write_text("\n".join(ops) + "\n")
    try:
        res = run_jvm(args, cp, run_dir, ops_file, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load1 = loadavg()
    ticks1 = cpu_ticks()
    total = ticks1[1] - ticks0[1]

    if args.record_out:
        rec = {n: {"rows": c["rows"], "hash": c["hash"]}
               for n, c in res["checks"].items() if "error" not in c}
        errs = {n: c["error"] for n, c in res["checks"].items() if "error" in c}
        Path(args.record_out).write_text(json.dumps(
            {"fingerprints": rec, "errors": errs}, indent=1, sort_keys=True) + "\n")

    bad = check(res, expected)
    errors = sorted({s["name"] for s in res["samples"] if s["error"]})
    attempted = len(res["warm"]) + len(res["samples"])
    failed = len(bad) + sum(1 for s in res["samples"] if s["error"])
    metrics = per_layer(res) if args.trace else end_to_end(res)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_head": git_head(), "nproc": os.cpu_count(), "jvm_cpus": res["cpus"],
        "heap_mb": res["heap_mb"], "spark": res["spark_version"],
        "loadavg_start": load0, "loadavg_end": load1,
        "overloaded": max(load0, load1) > (os.cpu_count() or 1),
        # share of CPU time the hypervisor gave to other guests during the
        # run; a run with much of it is slower for reasons outside the code
        "steal_frac": round((ticks1[0] - ticks0[0]) / total, 4) if total > 0 else 0.0,
        "passes": len(res["passes"]),
        "wall_s": round(time.time() - t_start, 3),
        "wrong_output": bad, "op_errors": errors,
    }
    records = OUT / "records"
    records.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_start)}"
    (records / f"{stem}.json").write_text(json.dumps(
        {"record": record, "metrics": metrics}, indent=1) + "\n")
    # full per-op detail, for perfbench/report.py and for looking into a run
    (records / f"{stem}.raw.json").write_text(json.dumps(res) + "\n")
    print("perfbench run: " + json.dumps(record))
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    correct = not bad and not errors
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
