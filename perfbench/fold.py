"""Fold the traced passes' spans and the Spark event log into per-layer numbers.

Every number is per steady pass (summed over the pass's ops), and the run
reports its median over the traced passes. A layer's self time is its span
minus the part its child spans cover; jobs are attributed the same way.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from spans import Span, covered

# The per-layer metrics a traced run reports, with their units. Counts and
# seconds are per steady pass unless the name says otherwise.
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "catalog.loads": "count",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "plan.s": "s",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_run_s": "s",
    "execute.shuffle_bytes": "bytes",
    "execute.spill_bytes": "bytes",
    "cache.persisted_rdds": "count",
    "cache.cached_mb": "MB",
    "ingest.validate_s": "s",
    "ingest.ingest_csv_s": "s",
    "ingest.write_table_s": "s",
    "ingest.quarantine_frac": "ratio",
    "ingest.leaked_caches_per_upload": "count",
    "jobs.wait_overhead_s": "s",
    "http_sink.upload_s": "s",
    "http_sink.attempts_per_upload": "count",
    "audit.records": "count",
    "audit.append_s": "s",
    "trace.coverage_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def job_metrics(event_log: str | None) -> dict[int, dict[str, float]]:
    """Executor run time, shuffle bytes written and bytes spilled per job,
    from a Spark event log. A stage's tasks belong to the first job that
    listed the stage (later jobs list it again only as skipped)."""
    per_job: dict[int, dict[str, float]] = defaultdict(
        lambda: {"run_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    )
    if event_log is None:
        return per_job
    stage_job: dict[int, int] = {}
    with open(event_log) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                acc = per_job[job]
                acc["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return per_job


def fold_pass(ops: list[Span], op_records: list[dict], storage: tuple[dict, dict],
              jobs: dict[int, dict[str, float]]) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    out: dict[str, float] = defaultdict(float)
    uploads = quarantined = rows = 0
    coverage = []
    for op in ops:
        coverage.append(covered(op.children, op.start, op.end) / op.seconds)
        job_stages = op.info["job_stages"]
        by_name: dict[str, list[Span]] = defaultdict(list)
        for s in op.walk():
            by_name[s.name].append(s)
        for s in by_name["catalog.load"]:
            out["catalog.loads"] += 1
            out["catalog.load_s"] += s.seconds
            out["catalog.load_jobs"] += len(s.jobs)
        for s in by_name["operators.build"]:
            out["operators.build_self_s"] += s.self_seconds()
            out["operators.build_jobs"] += len(s.self_jobs())
        for s in by_name["plan"]:
            out["plan.s"] += s.seconds
        for s in by_name["execute"]:
            out["execute.s"] += s.seconds
            out["execute.jobs"] += len(s.jobs)
            for j in s.jobs:
                stages, tasks = job_stages.get(j, (0, 0))
                out["execute.stages"] += stages
                out["execute.tasks"] += tasks
                out["execute.task_run_s"] += jobs[j]["run_s"]
                out["execute.shuffle_bytes"] += jobs[j]["shuffle_bytes"]
                out["execute.spill_bytes"] += jobs[j]["spill_bytes"]
        for layer, metric in (("ingest.validate", "ingest.validate_s"),
                              ("ingest.ingest_csv", "ingest.ingest_csv_s"),
                              ("ingest.write_table", "ingest.write_table_s"),
                              ("http_sink.upload", "http_sink.upload_s"),
                              ("audit.append", "audit.append_s")):
            out[metric] += sum(s.seconds for s in by_name[layer])
        out["audit.records"] += len(by_name["audit.append"])
        for s in by_name["ingest.ingest_csv"]:
            res = s.info["result"]
            uploads += 1
            quarantined += res.n_quarantined
            rows += res.n_good + res.n_quarantined
        writes = sum(s.seconds for s in by_name["ingest.write_table"])
        for submit, wait in zip(by_name["jobs.submit"], by_name["jobs.wait"]):
            out["jobs.wait_overhead_s"] += (wait.end - submit.start) - writes
    if uploads:
        attempts = sum(r.get("attempts", 0) for r in op_records)
        out["http_sink.attempts_per_upload"] = attempts / uploads
        out["ingest.quarantine_frac"] = quarantined / rows
        out["ingest.leaked_caches_per_upload"] = (
            storage[1]["persisted_rdds"] - storage[0]["persisted_rdds"]
        ) / uploads
    out["cache.persisted_rdds"] = storage[1]["persisted_rdds"]
    out["cache.cached_mb"] = storage[1]["cached_mb"]
    out["trace.coverage_frac"] = min(coverage)
    return out


def fold_passes(passes: list[dict], event_log: str | None) -> dict[str, float]:
    """Median over the traced passes of each per-layer number."""
    jobs = job_metrics(event_log)
    folded = [
        fold_pass(p["spans"], p["ops"], (p["storage_before"], p["storage_after"]), jobs)
        for p in passes
    ]
    names = [n for n in LAYER_UNITS if any(n in f for f in folded)]
    out = {n: statistics.median(f.get(n, 0.0) for f in folded) for n in names}
    # coverage is a floor over every traced op, not a typical pass
    out["trace.coverage_frac"] = min(f["trace.coverage_frac"] for f in folded)
    return out
