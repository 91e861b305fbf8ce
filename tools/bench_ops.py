#!/usr/bin/env python3
"""Per-op table of one traced benchmark run, or of two side by side.

    python3 tools/bench_ops.py .bench_build/perfbench/traces/index_ingest-seed21.json
    python3 tools/bench_ops.py PARENT.json CHANGE.json

A trace is what `python3 perfbench/run.py --workload W --seed N --seconds 3
--trace 1` leaves in `.bench_build/perfbench/traces/W-seedN.json`. Each op
row shows its wall time, the Spark jobs and tasks that started while it ran
(jobs are attributed by start time, so a streaming micro-batch counts under
the op that waited for it), how much of its wall time those jobs covered
(job_ms: the union of their start-to-end intervals, clipped to the op) and
the rest (outside_ms: driver time between and around jobs), and its
filesystem call deltas: opens (read), directory listings (list), status
probes (stat) and mutations (write). With
two traces, ops are paired by name and occurrence, and every cell reads
`first / second`. The last row sums ms, jobs, tasks and fs calls over all
ops. Output is a Markdown table.
"""
import json
import sys

FS = ("read", "list", "stat", "write")  # the first four fields of an op's "fs"


def op_rows(path):
    """[(key, row)] in op order; key = (name, occurrence), row = the
    op's ms, jobs, tasks and fs counts."""
    with open(path) as f:
        rec = json.load(f)
    jobs = [(j["start_ms"] * 1_000_000, j["end_ms"] * 1_000_000, j["tasks"])
            for j in rec["jobs"]]
    seen, out = {}, []
    for o in rec["ops"]:
        name = f'{o["kind"]}:{o["name"]}' + (" (failed)" if o["error"] is not None else "")
        seen[name] = seen.get(name, 0) + 1
        s, e = o["start_ns"], o["start_ns"] + o["ms"] * 1e6
        inside = [(js, je, t) for js, je, t in jobs if s <= js <= e]
        job_ms = covered([(js, min(max(je, js), e)) for js, je, _ in inside]) / 1e6
        row = {"ms": o["ms"], "jobs": len(inside), "tasks": sum(t for _, _, t in inside),
               "job_ms": job_ms, "outside_ms": o["ms"] - job_ms}
        row.update(zip(FS, o["fs"][:len(FS)]))
        out.append(((name, seen[name]), row))
    return out


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


COLS = ("ms", "jobs", "tasks", "job_ms", "outside_ms") + FS


def fmt(v):
    return f"{v:.0f}" if isinstance(v, float) else str(v)


def total(rows):
    return {c: sum(r[c] for r in rows) for c in COLS}


def table(runs):
    """Markdown table over one or two runs' op rows."""
    keys = []
    for rows in runs:
        keys += [k for k, _ in rows if k not in keys]
    by = [dict(rows) for rows in runs]

    def cell(c, k):
        return " / ".join(fmt(b[k][c]) if k in b else "-" for b in by)

    head = ["op"] + list(COLS)
    lines = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
    for k in keys:
        label = k[0] + (f" #{k[1]}" if any(kk[0] == k[0] and kk[1] > 1 for kk in keys) else "")
        lines.append("| " + " | ".join([label] + [cell(c, k) for c in COLS]) + " |")
    sums = [total([r for _, r in rows]) for rows in runs]
    lines.append("| **all ops** | " + " | ".join(
        " / ".join(fmt(s[c]) for s in sums) for c in COLS) + " |")
    return "\n".join(lines)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(table([op_rows(p) for p in argv[1:]]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
