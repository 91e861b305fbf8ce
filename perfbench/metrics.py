"""Turn one run's raw record (ops, spans, jobs, Catalyst phases) into the
benchmark's metrics. Pure functions over plain data; tested in
tests/test_metrics.py."""
import math
import statistics

# Percentile levels the tail helper may report, lowest first.
TAIL_LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
LAYERS = ("bench", "queries", "catalyst", "exec", "index", "streaming",
          "pipeline", "sinks")


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def geomean(values):
    """Geometric mean of positive values; 0 for none."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def tail(values, beyond=10):
    """(level, value, n): the highest level in TAIL_LEVELS that has at
    least `beyond` samples above its rank, with the sample count. Below
    2 * beyond samples no level qualifies and the median is returned."""
    n = len(values)
    level = TAIL_LEVELS[0]
    for lv in TAIL_LEVELS:
        if n - math.ceil(lv / 100.0 * n) >= beyond:
            level = lv
    return level, percentile(values, level), n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover. `spans` are dicts with id,
    parent, start and end; returns {id: self time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], ()) if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def build_tree(rec):
    """All spans of a traced run in one tree (times in ns): the harness's
    own spans, plus one span per Spark job (layer exec) and per Catalyst
    phase (layer catalyst). A job hangs under the span named by its job
    group; a job without one (a streaming micro-batch) and every phase
    hang under the innermost harness span that contains their start."""
    spans = [{"id": s["id"], "parent": s["parent"], "layer": s["layer"],
              "name": s["name"], "start": s["start_ns"], "end": s["end_ns"],
              "fs0": s.get("fs0"), "fs1": s.get("fs1")} for s in rec["spans"]]
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: (s["start"], -s["end"]))

    def innermost(t):
        best = None
        for s in ordered:
            if s["start"] > t:
                break
            if s["end"] >= t and (best is None or s["end"] - s["start"] <= best["end"] - best["start"]):
                best = s
        return best["id"] if best else 0

    nid = max(by_id, default=0)
    extra = []
    for j in rec["jobs"]:
        nid += 1
        start, end = j["start_ms"] * 1_000_000, max(j["end_ms"], j["start_ms"]) * 1_000_000
        g = int(j["group"]) if j["group"].isdigit() and int(j["group"]) in by_id else 0
        extra.append(dict(j, id=nid, parent=g or innermost(start), layer="exec",
                          name="job", start=start, end=end))
    for p in rec["phases"]:
        nid += 1
        start = p["start_ms"] * 1_000_000
        extra.append({"id": nid, "parent": innermost(start), "layer": "catalyst",
                      "name": p["phase"], "start": start,
                      "end": max(p["end_ms"], p["start_ms"]) * 1_000_000})
    return spans + extra


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def unit_latencies(rec):
    """Latency of each unit of work: an op on its own, or the summed ops
    of one group (an ingest batch). A unit with a failed op is left out."""
    units, failed = {}, set()
    for i, o in enumerate(rec["ops"]):
        key = o.get("group") or i
        units[key] = units.get(key, 0.0) + o["ms"]
        if o["error"] is not None:
            failed.add(key)
    return [ms for key, ms in units.items() if key not in failed]


def end_to_end(rec, gen_s, workload):
    """The metrics a user of the engine sees, from an untraced run. Work
    per second divides the workload's units of work by the time its ops
    took, so harness bookkeeping between ops does not count. Set-up time
    is input generation, JVM and session start, and the first, cold set-up
    (query_mix: the cold pass with its codegen; index_ingest: the first
    index builds); the warm-up after it is left out. Latency is the
    geometric mean over units of work: a query mix's median is the
    latency of whichever query ranks in the middle, so it jumps with one
    query's noise, while the geometric mean weighs every query alike. A
    run holds too few units for a percentile with ten samples beyond it
    above the median, so the median and tail (ops.tail_pct, ops.tail_ms,
    over single calls) are traced-run figures."""
    ms = [o["ms"] for o in _ok_ops(rec)] or [0.0]
    return {
        "setup_s": gen_s + rec["session_s"] + rec["setup_s"][0],
        "op_geomean_ms": geomean(unit_latencies(rec)),
        "work_per_s": WORK_UNITS[workload](rec) / (sum(ms) / 1000.0),
        "heap_peak_mb": rec["heap_peak_mb"],
    }


def _ok_ops(rec):
    return [o for o in rec["ops"] if o["error"] is None]


# The unit of work each workload's throughput counts.
WORK_UNITS = {
    "query_mix": lambda rec: len(_ok_ops(rec)),
    "index_ingest": lambda rec: rec["extra"]["docs_in"],
}

UNITS = {"setup_s": "s", "op_geomean_ms": "ms", "work_per_s": "1/s", "heap_peak_mb": "MB"}


FS_COUNTERS = ("read_ops", "list_ops", "stat_ops", "write_ops", "bytes_read", "bytes_written")
PIPELINE_STAGES = ("clean", "exact_dedup", "near_dedup", "history_dedup", "select", "pack")
COMMIT_CALLS = ("append", "segment", "remove", "maintain")

# Every per-layer metric with its unit. A traced run of either workload
# reports all of them; one that a workload never exercises reads 0.
PER_LAYER = dict(
    [("ops.samples", "count"), ("ops.tail_pct", "%"), ("ops.tail_ms", "ms"),
     ("trace.op_geomean_ms", "ms")]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [("queries.construct_ms", "ms"),
       ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
       ("catalyst.planning_ms", "ms"),
       ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
       ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.driver_gap_ms", "ms"),
       ("exec.executor_cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.scan_bytes", "B"),
       ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
       ("exec.spill_bytes", "B"), ("jvm.gc_ms", "ms")]
    + [(f"fs.{c}", "B" if c.startswith("bytes") else "count") for c in FS_COUNTERS]
    + [(f"index.commit_ms.{c}", "ms") for c in COMMIT_CALLS]
    + [("index.fresh_search_p50_ms", "ms"), ("index.write_amp", "ratio"),
       ("index.live_segments", "count"), ("index.tombstone_batches", "count"),
       ("index.data_files", "count"), ("index.maintain_actions", "count"),
       ("index.bytes", "B"), ("index.bytes_per_live_doc", "B"),
       ("streaming.add_batch_ms", "ms"), ("streaming.planning_ms", "ms"),
       ("streaming.wal_commit_ms", "ms")]
    + [(f"pipeline.{st}_ms", "ms") for st in PIPELINE_STAGES]
    + [("sinks.write_ms", "ms"), ("sinks.bytes_written", "B")])
UNITS.update(PER_LAYER)


def _median_of(ops, pred):
    return _median([o["ms"] for o in ops if pred(o)])


def per_layer(rec, workload):
    """Per-layer figures of a traced run, per timed op unless named as a
    median. Spans outside the timed phase (set-ups, checks) are left out.
    `trace.op_geomean_ms` is the untraced `op_geomean_ms` measured with
    tracing on: the two give the tracing overhead."""
    ops = _ok_ops(rec)
    n = max(len(ops), 1)
    t0, t1 = rec["timed_start_ns"], rec["timed_end_ns"]
    m = dict.fromkeys(PER_LAYER, 0.0)

    level, value, count = tail([o["ms"] for o in ops] or [0.0])
    m.update({"ops.samples": count, "ops.tail_pct": level, "ops.tail_ms": value})
    m["trace.op_geomean_ms"] = geomean(unit_latencies(rec))

    # the span tree, restricted to the timed ops and what hangs under them
    tree = build_tree(rec)
    kids = {}
    for sp in tree:
        kids.setdefault(sp["parent"], []).append(sp)
    roots = [sp for sp in tree if sp["parent"] == 0 and sp["layer"] == "bench" and t0 <= sp["start"] <= t1]
    timed, stack = [], list(roots)
    while stack:
        sp = stack.pop()
        timed.append(sp)
        stack.extend(kids.get(sp["id"], ()))
    n_roots = max(len(roots), 1)
    own = self_times(tree)
    for sp in timed:
        m[f"self_ms.{sp['layer']}"] += own[sp["id"]] / 1e6 / n_roots
        if sp["layer"] == "catalyst":
            m[f"catalyst.{sp['name']}_ms"] = m.get(f"catalyst.{sp['name']}_ms", 0.0) \
                + (sp["end"] - sp["start"]) / 1e6 / n_roots
    m = {k: v for k, v in m.items() if k in PER_LAYER}
    m["queries.construct_ms"] = _median([(sp["end"] - sp["start"]) / 1e6 for sp in timed
                                         if sp["layer"] == "queries"])

    m["codegen.compiles"] = rec["codegen_compiles"] / n
    m["codegen.compile_ms"] = rec["codegen_compile_ms"] / n
    m["jvm.gc_ms"] = rec["gc_ms"] / n
    jobs = [j for j in rec["jobs"] if t0 <= j["start_ms"] * 1_000_000 <= t1]
    for key, field, scale in (("exec.tasks", "tasks", 1), ("exec.executor_cpu_ms", "cpu_ns", 1e-6),
                              ("exec.gc_ms", "gc_ms", 1), ("exec.scan_bytes", "input_bytes", 1),
                              ("exec.shuffle_read_bytes", "shuffle_read", 1),
                              ("exec.shuffle_write_bytes", "shuffle_write", 1),
                              ("exec.spill_bytes", "spill", 1)):
        m[key] = sum(j[field] for j in jobs) * scale / n
    m["exec.jobs"] = len(jobs) / n
    gaps = []
    for o in ops:
        s, e = o["start_ns"], o["start_ns"] + o["ms"] * 1e6
        covered = union_length((max(j["start_ms"] * 1e6, s), min(j["end_ms"] * 1e6, e)) for j in jobs
                               if j["end_ms"] * 1e6 > s and j["start_ms"] * 1e6 < e)
        gaps.append((e - s - covered) / 1e6)
    m["exec.driver_gap_ms"] = sum(gaps) / n
    for i, c in enumerate(FS_COUNTERS):
        m[f"fs.{c}"] = sum(o["fs"][i] for o in ops) / n

    if workload == "index_ingest":
        ex = rec["extra"]
        for c in COMMIT_CALLS:
            m[f"index.commit_ms.{c}"] = _median_of(ops, lambda o, c=c: o["kind"] == "commit"
                                                   and o["name"].startswith(c + "."))
        m["index.fresh_search_p50_ms"] = _median_of(ops, lambda o: o["kind"] == "search")
        written = sum(o["fs"][5] for o in ops if o["kind"] == "commit")
        m["index.write_amp"] = written / max(ex["batch_bytes"], 1)
        plans = ex["plans"]
        for key in ("live_segments", "tombstone_batches", "data_files"):
            m[f"index.{key}"] = _median([p[key] for p in plans])
        m["index.maintain_actions"] = sum(p["actions"] for p in plans)
        m["index.bytes"] = ex["index_bytes"]
        m["index.bytes_per_live_doc"] = ex["index_bytes"] / max(ex["live_docs"], 1)
        prog = ex["progress"]
        for key, field in (("add_batch", "addBatch"), ("planning", "queryPlanning"),
                           ("wal_commit", "walCommit")):
            m[f"streaming.{key}_ms"] = _median([p.get(field, 0) for p in prog])
        for st in PIPELINE_STAGES:
            m[f"pipeline.{st}_ms"] = _median_of(ops, lambda o, st=st: o["kind"] == "stage"
                                                and o["name"] == st)
        m["sinks.write_ms"] = _median_of(ops, lambda o: o["kind"] == "stage" and o["name"] == "sink")
        m["sinks.bytes_written"] = ex["batch_bytes"] / max(ex["batches"], 1)
    return {k: float(v) for k, v in m.items()}
