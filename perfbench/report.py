#!/usr/bin/env python3
"""Writes the per-layer table of traced runs as markdown.

Usage: python3 perfbench/report.py [OUT.md]

Reads the newest traced record (`--trace 1`) of each workload from
.bench_build/perfbench/records and prints (or writes to OUT.md):

  * every per-layer metric, one column per workload; the query_panel run
    is also split by the family each op comes from;
  * the tracing overhead (traced passes vs untraced passes of the run);
  * for each workload, the 10 slowest ops with their layer split and the
    share of the op's wall time that named layers account for.
"""
import json
import statistics
import sys
from pathlib import Path

import run

RECORDS = run.OUT / "records"
ORDER = ["query_panel", "store_rw", "survey69", "llm_corpus", "reactive"]


def newest_traced():
    found = {}
    for f in sorted(RECORDS.glob("*-trace1-*.raw.json"), key=lambda p: p.stat().st_mtime):
        res = json.loads(f.read_text())
        found[res["workload"]] = (f, res)
    return found


def families():
    exp = json.loads(run.EXPECTED.read_text())
    fam = {}
    for w in ("survey69", "llm_corpus", "reactive"):
        for op in exp.get(w, {}):
            fam[op] = w
    return fam


def subset(res, ops):
    r = dict(res)
    r["samples"] = [s for s in res["samples"] if s["name"] in ops]
    r["warm"] = [s for s in res["warm"] if s["name"] in ops]
    return r


def op_rows(res):
    """Median layer split per op over its traced samples."""
    by = {}
    for s in res["samples"]:
        if s["traced"] and s["work"] is not None and not s["error"]:
            by.setdefault(s["name"], []).append(s)
    rows = []
    for name, ss in by.items():
        def m(f):
            return statistics.median(f(s) for s in ss)
        stream = m(lambda s: s["work"]["dur_ms"].get("triggerExecution", 0) / 1e3)
        wall = m(lambda s: s["wall"])
        construct = m(lambda s: s["construct"])
        analysis = m(lambda s: s["analysis"])
        opt = m(lambda s: s["optimization"])
        planning = m(lambda s: s["planning"])
        exe = m(lambda s: s["exec"])
        named = construct + analysis + opt + planning + exe
        rows.append({
            "op": name, "kind": ss[0]["kind"], "wall": wall,
            "construct": construct - min(stream, construct), "streaming": min(stream, construct),
            "analysis": analysis, "optimization": opt, "planning": planning, "exec": exe,
            "busy": m(lambda s: s["work"]["task_busy_ms"] / 1e3),
            "tasks": m(lambda s: s["work"]["tasks"]),
            "shuffle_mb": m(lambda s: (s["work"]["shuffle_write_b"] + s["work"]["shuffle_read_b"]) / 1e6),
            "batches": m(lambda s: s["work"]["batches"]),
            "coverage": named / wall if wall > 0 else 1.0,
        })
    return sorted(rows, key=lambda r: -r["wall"])


def fmt(v):
    if isinstance(v, int) or (isinstance(v, float) and v.is_integer() and abs(v) < 1e9):
        return str(int(v))
    return f"{v:.4g}"


def main():
    found = newest_traced()
    if not found:
        print("no traced records; run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    fam = families()
    cols = []
    for w in ORDER:
        if w not in found:
            continue
        f, res = found[w]
        cols.append((w, res))
        if w == "query_panel":
            for fw in ("survey69", "llm_corpus", "reactive"):
                ops = {s["name"] for s in res["samples"] if fam.get(s["name"]) == fw}
                cols.append((f"query_panel:{fw}", subset(res, ops)))
    metrics = [(w, run.per_layer(res)) for w, res in cols]
    out = []
    first = found[cols[0][0]][1]
    out.append("# Traced-run layer table\n")
    out.append(f"Generated by `python3 perfbench/report.py` from traced runs "
               f"(`--trace 1`) on {first['cpus']} cores, heap {first['heap_mb']:.0f} MB, "
               f"Spark {first['spark_version']}, data `perfbench/data/sf0.01`.\n")
    for w, _ in cols:
        if ":" in w:
            continue
        f, res = found[w]
        rec = json.loads(Path(str(f).replace(".raw.json", ".json")).read_text())["record"]
        out.append(f"- `{w}`: seed {rec['seed']}, git {rec['git_head'][:12]}, "
                   f"{rec['passes']} passes, loadavg {rec['loadavg_start']} -> {rec['loadavg_end']}"
                   f"{' (overloaded)' if rec['overloaded'] else ''}"
                   + (f", CPU steal {rec['steal_frac']:.1%}" if "steal_frac" in rec else ""))
    out.append("")
    out.append("Per-pass figures are the median over the run's traced passes of the "
               "pass total. Family columns (`query_panel:<family>`) restrict the "
               "query_panel run to the ops of one family; their setup and "
               "pass-level rows repeat the whole run's values. "
               "`trace.overhead_frac` compares the traced pass with the untraced "
               "passes on both sides of it; pass-to-pass noise on this host is "
               "about ten per cent, so a value inside that range means no "
               "overhead the run can resolve.\n")
    out.append("| metric | unit | " + " | ".join(w for w, _ in metrics) + " |")
    out.append("|---|---|" + "---|" * len(metrics))
    for k, (_, unit) in metrics[0][1].items():
        out.append(f"| `{k}` | {unit} | " + " | ".join(fmt(m[k][0]) for _, m in metrics) + " |")
    out.append("")
    for w, res in cols:
        if ":" in w:
            continue
        rows = op_rows(res)[:10]
        out.append(f"## `{w}`: the 10 slowest ops (traced passes, median per op)\n")
        out.append("Times in seconds. `streaming` is the micro-batch `triggerExecution` "
                   "total inside construct; `construct` is the rest of it. `covered` is "
                   "construct + streaming + analysis + optimization + planning + exec "
                   "over wall time.\n")
        out.append("| op | wall | construct | streaming | analysis | optimization | planning "
                   "| exec | task busy | tasks | shuffle MB | batches | covered |")
        out.append("|---|" + "---|" * 12)
        for r in rows:
            out.append(f"| `{r['op']}` | " + " | ".join(fmt(r[k]) for k in (
                "wall", "construct", "streaming", "analysis", "optimization", "planning",
                "exec", "busy", "tasks", "shuffle_mb", "batches")) +
                f" | {100 * r['coverage']:.1f}% |")
        out.append("")
    text = "\n".join(out) + "\n"
    if len(sys.argv) > 1:
        Path(sys.argv[1]).write_text(text)
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
