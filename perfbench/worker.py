"""One benchmark run, in a fresh process.

run.py writes the plan (workload, seed, inputs, op list) and starts this
process; everything from that spawn to the end of the first (cold) pass
over the op list is set-up. After it come the output checks that run once
per run (DuckDB oracle diffs for query ops), then steady passes until the
run's seconds are spent and the workload's minimum pass count is met. A
traced run wraps every layer (spans.py) and alternates untraced and traced
passes. The raw timings go to result.json.

Usage: python3 worker.py <plan.json>
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import sys
import time
import urllib.request
from contextlib import nullcontext

TRACED_ROUNDS = 2  # minimum (untraced, traced) pass pairs of a traced run


class QueryOps:
    """Registry queries, each materialised with the noop sink. An observation
    on the same job yields the output's row count and an order-insensitive
    hash of every value, which each pass must reproduce."""

    def __init__(self, spark, specs, data_dir: str) -> None:
        self.spark, self.specs, self.data_dir = spark, specs, data_dir
        self.first: dict[str, dict] = {}

    def observed(self, df):
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        obs = Observation()
        digest = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(digest).alias("hash")), obs

    def before_pass(self, pass_no: int, ops: list[dict]) -> None:
        pass

    def before_op(self, op: dict) -> None:
        pass

    def run(self, op: dict, tracer) -> dict:
        span = tracer.span if tracer else (lambda name: nullcontext())
        with span("operators.build"):
            df, obs = self.observed(self.specs[op["name"]].fn(self.spark, self.data_dir))
        if tracer:
            with span("plan"):
                df._jdf.queryExecution().executedPlan()
        with span("execute"):
            df.write.mode("overwrite").format("noop").save()
            got = obs.get
        return {"rows": int(got["rows"]), "hash": str(got["hash"])}

    def check(self, op: dict, out: dict) -> str | None:
        first = self.first.setdefault(op["name"], out)
        if out != first:
            return f"output {out} differs from the first pass {first}"
        return None

    def oracle_diffs(self, ops: list[dict], skip: frozenset[str]) -> list[dict]:
        """Diff each op against its DuckDB oracle on the generated inputs; the
        Spark side must also reproduce the first pass's row count and hash."""
        from vena_etl_tool_spark import testing

        con = testing.duckdb_connection(self.data_dir)
        out = []
        for op in ops:
            name = op["name"]
            if name in skip:
                continue
            spec = self.specs[name]
            holder = {}

            def fn(spark, sf_dir, _spec=spec):
                df, holder["obs"] = self.observed(_spec.fn(spark, sf_dir))
                return df

            res = testing.diff_query(self.spark, con, dataclasses.replace(spec, fn=fn), self.data_dir)
            ok, detail = res.ok, res.detail
            if ok:
                got = holder["obs"].get
                seen = {"rows": int(got["rows"]), "hash": str(got["hash"])}
                if seen != self.first.get(name):
                    ok, detail = False, f"oracle-checked output {seen} != timed output {self.first.get(name)}"
            out.append({"name": name, "ok": ok, "detail": detail})
        con.close()
        return out


class UploadOps:
    """``pipeline.cli.cmd_upload`` on a fresh path per op and pass, through
    the real urllib transport to the loopback endpoint."""

    def __init__(self, spark, plan: dict, run_dir: str) -> None:
        from vena_etl_tool_spark.pipeline import cli
        from vena_etl_tool_spark.pipeline.audit import AuditLog
        from vena_etl_tool_spark.pipeline.envconfig import EnvConfig
        from vena_etl_tool_spark.pipeline.jobs import JobRegistry
        from vena_etl_tool_spark.pipeline.spec import default_registry

        self.cli = cli
        self.spark = spark
        self.in_dir = os.path.join(run_dir, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.audit = AuditLog(os.path.join(run_dir, "logs"))
        self.jobs = JobRegistry(spark, self.audit)
        self.specs = default_registry()
        self.target = os.path.join(run_dir, self.specs.get("lineitem-csv").target)
        self.endpoint = plan["endpoint"]
        self.cfg = EnvConfig(
            api_url=self.endpoint, template_id="lineitem-csv", username="bench", password="bench"
        )
        self.pass_no = 0
        self.seen_uploads = 0
        self.seen_records = 0

    def path(self, op: dict) -> str:
        return os.path.join(self.in_dir, f"p{self.pass_no:03d}_{op['name']}")

    def before_pass(self, pass_no: int, ops: list[dict]) -> None:
        self.pass_no = pass_no
        for op in ops:
            if not op["rewrite"]:
                os.link(op["source"], self.path(op))

    def before_op(self, op: dict) -> None:
        if op["rewrite"]:  # a new file at the earlier op's path
            tmp = self.path(op) + ".new"
            os.link(op["source"], tmp)
            os.replace(tmp, self.path(op))

    def run(self, op: dict, tracer) -> dict:
        rc = self.cli.cmd_upload(
            [self.path(op), "lineitem-csv"], self.spark, self.audit, self.jobs, self.specs,
            env_cfg=self.cfg,
        )
        return {"rc": rc}

    def endpoint_log(self) -> list[dict]:
        with urllib.request.urlopen(self.endpoint + "/log", timeout=10) as resp:  # noqa: S310
            return json.load(resp)

    def check(self, op: dict, out: dict) -> str | None:
        import pyarrow.parquet as pq

        uploads = self.audit.read_channel("upload-history")
        records = self.endpoint_log()
        new_uploads, new_records = uploads[self.seen_uploads:], records[self.seen_records:]
        self.seen_uploads, self.seen_records = len(uploads), len(records)
        out["attempts"] = sum(r["attempts"] for r in new_records)
        truth = (op["n_good"], op["n_bad"])
        if out["rc"] != 0 or len(new_uploads) != 1:
            return f"cmd_upload returned {out['rc']} with {len(new_uploads)} audit records"
        got = (new_uploads[0]["rowsLoaded"], new_uploads[0]["rowsQuarantined"])
        if got != truth:
            return f"loaded/quarantined {got} != generated {truth}"
        written = pq.ParquetDataset(self.target).read(columns=[]).num_rows
        if written != op["n_good"]:
            return f"sink holds {written} rows, expected {op['n_good']}"
        if len(new_records) != 1 or not new_records[0]["payload_ok"]:
            return f"endpoint records {new_records} for {self.path(op)}"
        return None


def storage_status(sc) -> dict:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return {
        "persisted_rdds": len(sc._jsc.getPersistentRDDs()),
        "cached_mb": sum(i.memSize() + i.diskSize() for i in infos) / 2**20,
    }


def main(plan_path: str) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["root"])
    t_spawn = plan["t_spawn"]
    seconds, traced_run = plan["seconds"], bool(plan["trace"])

    t = time.perf_counter()
    from vena_etl_tool_spark.session import get_spark

    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    t = time.perf_counter()
    from vena_etl_tool_spark.registry import all_specs

    specs = all_specs()
    registry_import_s = time.perf_counter() - t

    sc = spark.sparkContext
    ops = plan["ops"]
    kind = ops[0]["kind"]
    runner = (
        QueryOps(spark, specs, plan["data_dir"]) if kind == "query"
        else UploadOps(spark, plan, plan["run_dir"])
    )
    passes: list[dict] = []

    def run_pass(label: str, tracer=None) -> dict:
        pass_no = len(passes)
        runner.before_pass(pass_no, ops)
        before = storage_status(sc) if tracer else None
        rec = {"label": label, "ops": [], "spans": []}
        for i, op in enumerate(ops):
            runner.before_op(op)
            group = f"perfbench-{pass_no}-{i}"
            sc.setJobGroup(group, op["name"])
            t0 = time.perf_counter()
            if tracer:
                with tracer.op_span(op["name"], group) as root:
                    out = runner.run(op, tracer)
                rec["spans"].append(root)
            else:
                out = runner.run(op, None)
            latency = time.perf_counter() - t0
            error = runner.check(op, out)
            rec["ops"].append({"name": op["name"], "latency_s": latency, "error": error, **out})
        sc.setJobGroup("perfbench-idle", "between passes")
        rec["pass_s"] = sum(o["latency_s"] for o in rec["ops"])
        if tracer:
            rec["storage_before"], rec["storage_after"] = before, storage_status(sc)
        passes.append(rec)
        return rec

    run_pass("cold")
    setup_s = time.time() - t_spawn

    oracle: list[dict] = []
    t = time.perf_counter()
    if kind == "query":
        from workloads import NO_ORACLE_CHECK

        sc.setJobGroup("perfbench-oracle", "oracle diffs")
        oracle = runner.oracle_diffs(ops, NO_ORACLE_CHECK)
    oracle_s = time.perf_counter() - t
    t = time.perf_counter()

    def steady(min_rounds: int, *round_passes) -> None:
        start, n = time.perf_counter(), 0
        while n < min_rounds or time.perf_counter() - start < seconds:
            if time.time() > plan["stop_at"]:  # leave time to report before the deadline
                break
            # every other round runs its passes in reverse order
            for label, tracer in round_passes[:: -1 if n % 2 else 1]:
                run_pass(label, tracer)
            n += 1

    patched = {}
    if traced_run:
        from spans import Tracer

        tracer = Tracer(spark)
        patched = tracer.install()
        # untraced and traced passes alternate in U T T U order, so warm-up
        # drift cancels out of the overhead; an untraced pass opens no op
        # span, which leaves the installed wrappers inert
        steady(TRACED_ROUNDS, ("untraced", None), ("traced", tracer))
    else:
        steady(plan["min_passes"], ("steady", None))

    steady_s = time.perf_counter() - t
    spark.stop()
    result = {
        "phase_s": {"oracle": oracle_s, "steady": steady_s},
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "registry_import_s": registry_import_s,
        "oracle": oracle,
        "patched": patched,
        "passes": [{k: v for k, v in p.items() if k != "spans"} for p in passes],
    }
    if traced_run:
        from fold import fold_passes

        events = glob.glob(os.path.join(plan["run_dir"], "events", "*"))
        result["layers"] = fold_passes(
            [p for p in passes if p["label"] == "traced"], events[0] if events else None
        )
    with open(os.path.join(plan["run_dir"], "result.json"), "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
