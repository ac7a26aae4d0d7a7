"""Per-layer metrics of a traced run, named by module.

The audit workload reports the median over measured operations (every
operation has the same shape); ``sinks.*`` counts and task figures add
the report call and the CSV call.  ``analytics_mix`` reports, per package,
the mean over measured passes of that package's calls in a pass, so the
packages' figures add up to a pass.  A layer a workload never calls reads 0.
"""

from __future__ import annotations

import re
import statistics

from .eventlog import GroupStats, plan_nodes, union_s

PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("catalog.build_s", "s"),
    ("catalog.columns", "count"),
    ("rules.plan_s", "s"),
    ("rules.catalog_scans", "count"),
    ("rules.exchanges", "count"),
    ("sinks.report_s", "s"),
    ("sinks.csv_s", "s"),
    ("sinks.csv_bytes", "bytes"),
    ("sinks.jobs", "count"),
    ("sinks.stages", "count"),
    ("sinks.tasks", "count"),
    ("sinks.task_cpu_s", "s"),
    ("sinks.shuffle_bytes", "bytes"),
    ("sinks.idle_s", "s"),
    *[
        (f"{pkg}.{m}", unit)
        for pkg in ("queries", "llm")
        for m, unit in (
            ("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s"), ("jobs", "count"),
            ("tasks", "count"), ("task_cpu_s", "s"), ("gc_s", "s"), ("idle_s", "s"),
            ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"),
        )
    ],
    ("memo.entries", "count"),
    ("memo.cold_extra_s", "s"),
    ("memo.cold_extra_jobs", "count"),
    ("trace.op_p50_s", "s"),
    ("trace.cpu_s_per_op", "s"),
]

# Columns only ``columns_meta`` has; a leaf scan that outputs one of them
# is a scan of the catalog fact table.
_COLUMNS_META_ONLY = {"ordinal", "data_type", "char_max_length", "is_nullable", "is_primary_key"}
_EXCHANGES = {"Exchange", "BroadcastExchange"}


def plan_shape(plans: list[dict]) -> tuple[int, int]:
    """(scans of columns_meta, broadcast + shuffle exchanges) executed."""
    scans = exchanges = 0
    for plan in plans:
        for node in plan_nodes(plan):
            name = node.get("nodeName", "")
            if name in _EXCHANGES:
                exchanges += 1
            elif not node.get("children") and "Scan" in name:
                attrs = set(re.findall(r"(\w+)#\d+", node.get("simpleString", "")))
                if attrs & _COLUMNS_META_ONLY:
                    scans += 1
    return scans, exchanges


def compute(run) -> dict[str, float]:
    """``run`` is the harness's record of a traced run (see run.py)."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = run.session_s
    out["registry.load_s"] = run.registry_s
    out["memo.entries"] = run.memo_entries
    out["trace.op_p50_s"] = statistics.median(run.latencies.values())
    out["trace.cpu_s_per_op"] = run.cpu_s / len(run.latencies)
    groups, counts = run.groups, run.counts
    by_op: dict[str, dict] = {}
    for s in run.spans:
        by_op.setdefault(s.op, {})[s.layer] = s

    def jobs(op):
        return sum(counts.get(s.group, {}).get("jobs", 0) for s in by_op[op].values())

    # Cold extra: the operation run on the settled JVM right after every
    # memo was cleared, against the steady median of its kind.
    kinds: dict[str, list[str]] = {}
    for op in run.latencies:
        kinds.setdefault(run.kinds[op], []).append(op)
    for kind, ops in kinds.items():
        first = next((op for op in by_op if op.startswith("w") and run.kinds.get(op) == kind), None)
        if first is None:
            continue
        cold = sum(s.seconds for s in by_op[first].values())
        out["memo.cold_extra_s"] += cold - statistics.median(run.latencies[o] for o in ops)
        out["memo.cold_extra_jobs"] += jobs(first) - statistics.median(jobs(o) for o in ops)

    measured = [op for op in run.latencies if op in by_op]
    if run.workload == "audit_interactive":
        rows = []
        for op in measured:
            sp = by_op[op]
            if "sinks.csv" not in sp:  # the operation raised before its last call
                continue
            sinks = [sp["sinks.report"], sp["sinks.csv"]]
            stats = [groups.get(s.group, GroupStats()) for s in sinks]
            c = [counts.get(s.group, {}) for s in sinks]
            # The rule plan as the report call executed it.
            scans, exchanges = plan_shape(stats[0].plans)
            rows.append({
                "catalog.build_s": sp["catalog"].seconds,
                "catalog.columns": run.columns.get(op, 0),
                "rules.plan_s": sp["rules"].seconds,
                "rules.catalog_scans": scans,
                "rules.exchanges": exchanges,
                "sinks.report_s": sinks[0].seconds,
                "sinks.csv_s": sinks[1].seconds,
                "sinks.csv_bytes": run.csv_bytes.get(op, 0),
                "sinks.jobs": sum(x.get("jobs", 0) for x in c),
                "sinks.stages": sum(x.get("stages", 0) for x in c),
                "sinks.tasks": sum(x.get("tasks", 0) for x in c),
                "sinks.task_cpu_s": sum(st.task_cpu_s for st in stats),
                "sinks.shuffle_bytes": sum(st.shuffle_bytes for st in stats),
                "sinks.idle_s": max(0.0, sinks[0].seconds + sinks[1].seconds
                                    - union_s(stats[0].intervals + stats[1].intervals)),
            })
        for key in rows[0] if rows else ():
            out[key] = statistics.median(r[key] for r in rows)
    else:
        for pkg in ("queries", "llm"):
            ops = [op for op in measured if f"{pkg}.exec" in by_op[op]]
            for op in ops:
                build, exe = by_op[op][f"{pkg}.build"], by_op[op][f"{pkg}.exec"]
                stats = [groups.get(build.group, GroupStats()), groups.get(exe.group, GroupStats())]
                cb, ce = counts.get(build.group, {}), counts.get(exe.group, {})
                share = 1.0 / len(ops)
                for key, value in (
                    ("build_s", build.seconds),
                    ("build_jobs", cb.get("jobs", 0)),
                    ("exec_s", exe.seconds),
                    ("jobs", ce.get("jobs", 0)),
                    ("tasks", cb.get("tasks", 0) + ce.get("tasks", 0)),
                    ("task_cpu_s", sum(s.task_cpu_s for s in stats)),
                    ("gc_s", sum(s.gc_s for s in stats)),
                    ("idle_s", max(0.0, build.seconds + exe.seconds
                                    - union_s(stats[0].intervals + stats[1].intervals))),
                    ("input_bytes", sum(s.input_bytes for s in stats)),
                    ("shuffle_bytes", sum(s.shuffle_bytes for s in stats)),
                ):
                    out[f"{pkg}.{key}"] += value * share
    return out
