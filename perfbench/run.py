"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It generates the workload's inputs from the
seed under a per-run directory in ``.bench_build/``, starts the loopback
upload endpoint when the workload needs one, runs worker.py in a fresh
process, checks the outputs and prints the metrics. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones); the
line before it carries the detail behind them. The run takes no input from
outside the checkout and writes nothing outside it.
"""

from __future__ import annotations

import argparse
import ctypes
import errno
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import stats
import workloads
from fold import LAYER_UNITS

HERE = os.path.dirname(os.path.abspath(__file__))

DEADLINE_S = 170.0  # the whole run, set-up included


def spark_conf(run_dir: str, trace: bool) -> str:
    """A benchmark-owned SPARK_CONF_DIR: JVM temp files stay in the run
    directory (no perf-data file in the system temp dir), and only the
    traced run writes a Spark event log."""
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(conf_dir)
    lines = [f"spark.driver.extraJavaOptions -Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"]
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{run_dir}/events",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf_dir


def start_endpoint(run_dir: str, manifest: dict, log) -> tuple[subprocess.Popen, str]:
    path = os.path.join(run_dir, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f)
    port_file = os.path.join(run_dir, "endpoint.port")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "endpoint.py"), path, port_file],
        stdout=log, stderr=log,
    )
    deadline = time.time() + 20
    while not os.path.exists(port_file):
        if proc.poll() is not None or time.time() > deadline:
            raise RuntimeError("upload endpoint did not start")
        time.sleep(0.05)
    with open(port_file) as f:
        return proc, f"http://127.0.0.1:{f.read().strip()}"


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt every orphaned descendant (Linux). The worker's JVM and the
    Python daemons it forks outlive the worker by a few seconds; as our
    children they can be found, stopped and reaped before the run ends."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, pids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the field after the parenthesised command name is the state, then the ppid
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
            pids.append(int(entry))
    return pids


def stop(proc: subprocess.Popen | None) -> None:
    if proc is not None and proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_all(grace_s: float = 10.0) -> None:
    """Stop and reap every remaining descendant: a grace period to exit on
    its own (the JVM shuts down once the worker has gone), then SIGTERM,
    then SIGKILL. Returns once none is left."""
    t0 = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        while True:  # reap whatever has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        pids = children()
        if not pids:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        for pid in pids:
            if sig is not None and signalled.get(pid) != sig:
                signalled[pid] = sig
                try:
                    os.kill(pid, sig)
                except OSError as e:
                    if e.errno != errno.ESRCH:
                        raise
        time.sleep(0.05)


def end_to_end(result: dict, plan: dict) -> tuple[dict, dict]:
    steady = [p for p in result["passes"] if p["label"] == "steady"]
    latencies = [o["latency_s"] for p in steady for o in p["ops"]]
    tail_q = stats.tail_level(plan["min_passes"] * len(plan["ops"]))
    pass_s = statistics.median([p["pass_s"] for p in steady])
    rows = plan["rows_per_pass"]
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (stats.percentile(latencies, 0.5), "s"),
        "op_tail_s": (stats.percentile(latencies, tail_q), "s"),
        "rows_per_s": (rows / pass_s, "rows/s"),
    }
    detail = {
        "steady_pass_s": [round(p["pass_s"], 3) for p in steady],
        "latency_samples": len(latencies),
        "op_tail_percentile": round(100 * tail_q, 2),
        "op_s": {
            o["name"]: [round(p["ops"][i]["latency_s"], 3) for p in steady]
            for i, o in enumerate(steady[0]["ops"])
        },
    }
    return metrics, detail


def per_layer(result: dict) -> tuple[dict, dict]:
    layers = dict(result["layers"])
    untraced = [p["pass_s"] for p in result["passes"] if p["label"] == "untraced"]
    traced = [p["pass_s"] for p in result["passes"] if p["label"] == "traced"]
    layers["trace.overhead_frac"] = statistics.median(traced) / statistics.median(untraced) - 1
    layers["session.start_s"] = result["session_start_s"]
    layers["registry.import_s"] = result["registry_import_s"]
    metrics = {n: (layers.get(n, 0.0), unit) for n, unit in LAYER_UNITS.items()}
    detail = {
        "untraced_pass_s": statistics.median(untraced),
        "traced_pass_s": statistics.median(traced),
        "traced_passes": len(traced),
        "patched_bindings": result["patched"],
    }
    return metrics, detail


def account(result: dict) -> tuple[int, int, list[str]]:
    """Ops attempted and failed: every timed op, failed when its output
    check fails; a cold-pass op also fails when its oracle diff does."""
    errors = [
        f"pass {i} op {j} {o['name']}: {o['error']}"
        for i, p in enumerate(result["passes"]) for j, o in enumerate(p["ops"]) if o["error"]
    ]
    errors += [f"oracle {d['name']}: {d['detail']}" for d in result["oracle"] if not d["ok"]]
    attempted = sum(len(p["ops"]) for p in result["passes"])
    return attempted, len(errors), errors


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    started = time.time()
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vena_etl_tool_spark", "session.py")):
        print(f"no engine source under {root}; run from the repository root", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="perfbench-", dir=os.path.join(root, ".bench_build"))
    endpoint = worker = None
    log = open(os.path.join(run_dir, "worker.log"), "w")
    try:
        plan = workloads.prepare(args.workload, args.seed, run_dir)
        if "manifest" in plan:
            endpoint, plan["endpoint"] = start_endpoint(run_dir, plan.pop("manifest"), log)
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(run_dir, sub))
        env = dict(os.environ)
        for k in [k for k in env if k.lower().endswith("_proxy")]:
            del env[k]
        env.update({
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_CONF_DIR": spark_conf(run_dir, bool(args.trace)),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            "NO_PROXY": "*",
        })
        plan.update(root=root, run_dir=run_dir, seconds=args.seconds, trace=args.trace,
                    stop_at=started + DEADLINE_S - 30)
        plan_path = os.path.join(run_dir, "plan.json")
        plan["t_spawn"] = time.time()
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            stdout=log, stderr=log, env=env, cwd=run_dir,
        )
        try:
            rc = worker.wait(timeout=max(1.0, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            log.flush()
            with open(log.name, errors="replace") as f:
                tail = f.read()[-4000:]
            print(f"worker failed ({rc}):\n{tail}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
        n_ops = len(plan["ops"])
        if args.trace:
            metrics, detail = per_layer(result)
        else:
            metrics, detail = end_to_end(result, plan)
        attempted, failed, errors = account(result)
        detail.update(workload=args.workload, seed=args.seed, ops_per_pass=n_ops,
                      errors=errors[:20], oracle_checked=len(result["oracle"]),
                      phase_s=result["phase_s"], wall_s=time.time() - started)
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        stop(worker)
        stop(endpoint)
        stop_all()
        log.close()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
