#!/usr/bin/env python3
"""Why each timed op of a benchmark run compiled generated code.

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=$PWD/tools/log4j2-codegen.properties \\
      python3 perfbench/run.py --workload index_ingest --seed 21 --seconds 3 --trace 1
    python3 tools/codegen_misses.py [CODEGEN_LOG [RESULT_JSON]]

The log (default /tmp/graft-codegen.log) holds every compile of the run's
JVM: the generated source Spark logs before compiling and the compile time
it logs after (tools/log4j2-codegen.properties). The result (default
.bench_build/perfbench/last-result.json) gives the timed ops. A compile is
attributed to the op whose wall interval holds its start, and classified
against every source compiled before it in the same JVM, set-up and
warm-up included:

- "other loader": equal to an earlier source once comments are dropped
  (they carry expression ids, and the cache keys on the code without
  them). Spark's code cache also keys on the compiling thread's class
  loader, so a class compiled on the driver thread is compiled once more
  by a task or exchange thread; this is not a plan change.
- "stage id": equal once whole-stage codegen stage ids are dropped, i.e.
  the same pipeline placed at another position of a plan.
- "literal": equal once numeric and string literals are dropped, i.e. a
  value inlined into the code.
- "structure": a plan shape not compiled before.

Output is a Markdown table: one row per timed op with its compile count,
compile ms, the count per cause and each compile as `ms cause`, then a
total row.
"""
import json
import re
import sys

CAUSES = ("other loader", "stage id", "literal", "structure")
HEAD = re.compile(r"^@@ (\d+) (\w+) \[(.*)\]$")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)
STAGE = re.compile(r"(CodegenStage|codegenStageId|stage \(id=)\s*\d+")
LITERAL = re.compile(r'"(?:[^"\\]|\\.)*"|(?<![\w.])-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?[LlDdFf]?\b')


def records(lines):
    """(epoch ms, level, thread, message) per log record."""
    head, body = None, []
    for line in lines:
        m = HEAD.match(line.rstrip("\n"))
        if m:
            if head:
                yield (*head, "".join(body))
            head, body = (int(m.group(1)), m.group(2), m.group(3)), []
        elif head:
            body.append(line)
    if head:
        yield (*head, "".join(body))


def compiles(lines):
    """[(start ms, compile ms, source)] in log order: each thread's DEBUG
    source paired with the "Code generated in" line that follows it."""
    pending, out = {}, []
    for t, level, thread, msg in records(lines):
        if level == "DEBUG":
            pending[thread] = (t, msg)
        else:
            m = re.search(r"Code generated in ([\d.]+) ms", msg)
            if m and thread in pending:
                start, src = pending.pop(thread)
                out.append((start, float(m.group(1)), src))
    return out


def normal(src):
    return " ".join(COMMENT.sub(" ", src).split())


def without_stage(code):
    return STAGE.sub(r"\1#", code)


def without_literals(code):
    return LITERAL.sub("#", code)


def classify(sources):
    """The cause of each compile, against every earlier one."""
    seen = {"other loader": set(), "stage id": set(), "literal": set()}
    out = []
    for src in sources:
        code = normal(src)
        keys = {"other loader": code}
        keys["stage id"] = without_stage(code)
        keys["literal"] = without_literals(keys["stage id"])
        cause = next((c for c in ("other loader", "stage id", "literal")
                      if keys[c] in seen[c]), "structure")
        for c, k in keys.items():
            seen[c].add(k)
        out.append(cause)
    return out


def op_table(ops, comps):
    """Markdown rows: each timed op's compiles, then a total."""
    causes = classify([src for _, _, src in comps])
    rows, seen = [], {}
    tot = {"n": 0, "ms": 0.0, **{c: 0 for c in CAUSES}}
    for o in ops:
        name = f'{o["kind"]}:{o["name"]}'
        seen[name] = seen.get(name, 0) + 1
        s = o["start_ns"] / 1e6
        e = s + o["ms"]
        mine = [(ms, c) for (t, ms, _), c in zip(comps, causes) if s <= t < e]
        row = {"n": len(mine), "ms": sum(ms for ms, _ in mine),
               **{c: sum(1 for _, x in mine if x == c) for c in CAUSES}}
        for k in tot:
            tot[k] += row[k]
        detail = ", ".join(f"{ms:.0f} {c}" for ms, c in mine)
        rows.append(f'| {name} #{seen[name]} | {row["n"]} | {row["ms"]:.0f} | '
                    + " | ".join(str(row[c]) for c in CAUSES) + f" | {detail} |")
    rows.append(f'| total ({len(ops)} ops) | {tot["n"]} | {tot["ms"]:.0f} | '
                + " | ".join(str(tot[c]) for c in CAUSES) + " | |")
    header = ("| op | compiles | ms | " + " | ".join(CAUSES) + " | each (ms cause) |\n"
              "|---|---:|---:|" + "---:|" * len(CAUSES) + "---|")
    return header + "\n" + "\n".join(rows)


def main(argv):
    log = argv[1] if len(argv) > 1 else "/tmp/graft-codegen.log"
    res = argv[2] if len(argv) > 2 else ".bench_build/perfbench/last-result.json"
    with open(log) as f:
        comps = compiles(f)
    with open(res) as f:
        ops = json.load(f)["ops"]
    print(op_table(ops, comps))


if __name__ == "__main__":
    main(sys.argv)
