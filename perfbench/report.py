#!/usr/bin/env python3
"""Traced-run report: tracing overhead, count repeatability, attribution.

    python3 perfbench/report.py [--seed N] [--out perfbench/TRACE_REPORT.md]

For each workload, runs one untraced and two traced runs of one seed through
run.py and writes a markdown report:

- tracing overhead: each end-to-end metric of the traced runs against the
  untraced run;
- exact counts (spark.jobs, fs.*, fs.bytes_written, tx.versions_committed)
  across the two traced runs, listing any that differ with the tables they
  differ in;
- filesystem operations by phase, the unattributed rest and where it comes
  from; the chain that blocked each medallion batch; the share of the
  batch wall the phases plus the driver gap account for.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("medallion_incremental", "curation_cycles")
EXACT = ("spark.jobs", "fs.create", "fs.rename", "fs.delete", "fs.list",
         "fs.stat", "fs.mkdirs", "fs.bytes_written", "tx.versions_committed")
# the per-table key of each exact count in the trace report's fs_by_table
BY_TABLE = {"fs.create": "create", "fs.rename": "rename", "fs.delete": "delete",
            "fs.list": "list", "fs.stat": "stat", "fs.mkdirs": "mkdirs",
            "fs.bytes_written": "bytes_written"}


def why_differs(count, reps):
    """Where a count differs between two traced runs: the tables it differs
    in, each with the medallion chain that writes it, if one does."""
    op = BY_TABLE.get(count)
    if op is None:
        return "no per-table breakdown for this count"
    by = [{k.split(" ", 1)[1]: v for k, v in r["fs_by_table"].items()
           if k.split(" ", 1)[0] == op} for r in reps]
    chains = reps[0].get("table_chains", {})
    diffs = [(t, by[0].get(t, 0), by[1].get(t, 0))
             for t in sorted(set(by[0]) | set(by[1]))
             if by[0].get(t, 0) != by[1].get(t, 0)]
    if not diffs:
        return ("equal in every table; the difference is outside the "
                "per-table breakdown")
    def owner(t):
        if t in chains:
            return f" ({chains[t]} chain)"
        return " (both chains)" if t.startswith("control/") else ""
    parts = [f"`{t}` {a} vs {b}{owner(t)}" for t, a, b in diffs]
    return "differs in " + ", ".join(parts)


def run(workload, seed, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "45", "--trace", str(trace)],
        capture_output=True, text=True)
    lines = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines or not lines[-1]["correct"]:
        sys.exit(f"{workload} trace={trace} failed:\n{r.stderr[-3000:]}")
    out = {"result": lines[-1], "context": lines[0]}
    if trace:
        out["traced"] = lines[1]
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def section(workload, seed):
    plain = run(workload, seed, 0)
    traced = [run(workload, seed, 1) for _ in range(2)]
    e2e = plain["result"]["metrics"]
    out = [f"## `{workload}` (seed {seed})", "",
           "### Tracing overhead", "",
           "| Metric | untraced | traced #1 | traced #2 | traced ÷ untraced (mean) |",
           "|---|---|---|---|---|"]
    for k, v in e2e.items():
        t = [r["traced"]["end_to_end_traced"][k]["value"] for r in traced]
        ratio = (sum(t) / len(t)) / v["value"] if v["value"] else float("nan")
        out.append(f"| `{k}` | {fmt(v['value'])} | {fmt(t[0])} | {fmt(t[1])} | {ratio:.3f} |")
    out += ["", "Single runs on a shared 4-core host: a ratio within the "
            "metric's run-to-run spread is not an overhead.", "",
            "### Exact counts across the two traced runs", "",
            "| Count | traced #1 | traced #2 | repeats |", "|---|---|---|---|"]
    m = [r["result"]["metrics"] for r in traced]
    differ = []
    for k in EXACT:
        a, b = m[0][k]["value"], m[1][k]["value"]
        out.append(f"| `{k}` | {fmt(a)} | {fmt(b)} | {'yes' if a == b else 'no'} |")
        if a != b:
            differ.append(k)
    out.append("")
    reps = [r["traced"]["trace_report"] for r in traced]
    for k in differ:
        out.append(f"- `{k}` {why_differs(k, reps)}.")
    if not differ:
        out.append("All listed counts repeat exactly.")
    rep = traced[0]["traced"]["trace_report"]
    out += ["", "### Filesystem operations by phase (traced #1)", "",
            "| Phase | ops |", "|---|---|"]
    for p, n in sorted(rep["fs_ops_by_phase"].items(), key=lambda x: -x[1]):
        out.append(f"| `{p}` | {n} |")
    out += ["", f"`fs.unattributed` = {fmt(m[0]['fs.unattributed']['value'])}; "
            "where those operations come from (innermost program frame, or "
            "the thread when none):", ""]
    for site, n in rep["unattributed_fs_sites"].items():
        out.append(f"- {n} × `{site}`")
    if rep["unattributed_job_sites"]:
        out += ["", "Unattributed jobs:", ""]
        out += [f"- {n} × `{s}`" for s, n in rep["unattributed_job_sites"].items()]
    out += ["", "### Batch wall accounting and chains (traced #1)", "",
            f"- the named phases (overlap counted once; `orchestration` and "
            f"unattributed jobs left out) cover {rep['batch_named_phases_s']:.2f} s "
            f"and the driver gap (no job running) {rep['batch_driver_gap_s']:.2f} s: "
            f"together {rep['batch_wall_accounted']:.1%} of the "
            f"{rep['batch_wall_s']:.2f} s batch wall"]
    for c in rep["chains"]:
        out.append(f"- `{c['step']}` was blocked by the {c['blocked_by']} chain "
                   f"(the other finished {c['slack_s']:.2f} s earlier)")
    out += ["", "### Per-layer metrics (traced #1, non-zero)", "",
            "| Metric | value | unit |", "|---|---|---|"]
    for k, v in m[0].items():
        if v["value"]:
            out.append(f"| `{k}` | {fmt(v['value'])} | {v['unit']} |")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--out", default=os.path.join(HERE, "TRACE_REPORT.md"))
    args = ap.parse_args()
    lines = ["# Traced-run report", "",
             f"Written by `python3 perfbench/report.py --seed {args.seed}` on a "
             f"{os.cpu_count()}-core host.", ""]
    for w in WORKLOADS:
        lines += section(w, args.seed) + [""]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
