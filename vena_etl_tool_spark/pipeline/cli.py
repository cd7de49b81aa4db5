"""CLI mirroring the reference's command surface.

Reference parity: command dispatch upload/status/cancel/templates/template/
help with default `upload` (/root/reference/import.js:26-32, 73-221), usage
text (import.js:35-70), error → exit 1 (import.js:217-228). The remote ETL
service is replaced by the local engine: upload = validate + typed ingest +
parquet sink under a job id; status/cancel hit the JobRegistry; templates/
template hit the SpecRegistry.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from ..session import get_spark
from .audit import AuditLog
from .envconfig import ConfigError, EnvConfig, load_config, validate_config
from .http_sink import basic_auth_headers, upload_file_multipart
from .ingest import ingest_csv, validate_csv_file
from .jobs import JobRegistry
from .spec import SpecError, default_registry

USAGE = """vena-etl-tool-spark — PySpark-native ETL pipeline tool

Commands:
  upload <file.csv> [spec-id]   Validate + ingest a CSV under a pipeline spec
  status <job-id>               Show job state and details
  cancel <job-id>               Cancel a running job
  templates                     List registered pipeline specs
  template <spec-id>            Show one spec's full definition
  run <query> [sf_dir] [n]      Run a registered analytics query
  help                          Show this message
"""


def build_services(log_dir: str = "logs"):
    spark = get_spark("vena-etl-tool-spark-cli")
    audit = AuditLog(log_dir)
    return spark, audit, JobRegistry(spark, audit), default_registry()


def cmd_upload(
    args: list[str],
    spark,
    audit: AuditLog,
    jobs: JobRegistry,
    specs,
    env_cfg: EnvConfig | None = None,
    transport=None,
) -> int:
    if not args:
        print("❌ Usage: upload <file.csv> [spec-id]")
        return 1
    cfg = env_cfg if env_cfg is not None else load_config()
    if cfg.api_url:
        # HTTP upload target configured → credentials are REQUIRED before
        # any work starts (reference: validateConfig hard-exits,
        # config.js:28-34 / import.js:79).
        try:
            validate_config(cfg)
        except ConfigError as e:
            print(f"❌ {e}")
            audit.log_error({"operation": "upload", "error": str(e)})
            return 1
    path = args[0]
    v = validate_csv_file(path)
    if not v.success:
        print(f"❌ {v.error}")
        audit.log_error({"operation": "upload", "error": v.error})
        return 1
    if v.warning:
        print(f"⚠️  {v.warning}")
    # spec precedence: explicit arg > VENA_TEMPLATE_ID > default
    # (reference: import.js uses config.api.defaultTemplateId when the
    # CLI doesn't name one)
    spec_id = args[1] if len(args) > 1 else (cfg.template_id or "lineitem-csv")
    try:
        spec = specs.get(spec_id)
    except SpecError as e:
        print(f"❌ {e}")
        return 1
    started = time.time()
    result = ingest_csv(spark, path, spec)
    target = f"{audit.log_dir}/../{spec.target}" if spec.target else "loaded"
    handle = jobs.submit_batch(lambda: result.write(target), description=f"upload {v.file_name}")
    try:
        if cfg.api_url:
            # Reference wire format: POST the raw CSV as multipart/form-data
            # field `file` with contentType text/csv to the template's
            # startWithFile endpoint (templates.js:133-160), basic auth,
            # retry/backoff inside upload_file_multipart. It runs while the
            # sink job writes on the registry's thread.
            with open(path, "rb") as f:
                payload = f.read()
            extra = {"transport": transport} if transport is not None else {}
            upload_file_multipart(
                f"{cfg.api_url}/api/public/v1/etl/templates/{spec_id}/startWithFile",
                payload,
                v.file_name,
                basic_auth_headers(cfg.username, cfg.password),
                **extra,
            )
    finally:  # a POST that gives up still leaves no sink job running
        jobs.wait(handle.job_id)
    duration = time.time() - started
    # The counts come from the sink job's scan. A failed job's observation
    # holds a partial run's metrics, so its record carries null counts.
    ok = handle.state == "SUCCEEDED"
    n_good = result.n_good if ok else None
    n_quarantined = result.n_quarantined if ok else None
    audit.log_upload(
        {
            "fileName": v.file_name,
            "fileSize": v.file_size_kb,
            "specId": spec_id,
            "jobId": handle.job_id,
            "rowsLoaded": n_good,
            "rowsQuarantined": n_quarantined,
            "durationSeconds": round(duration, 2),
        }
    )
    print(f"✅ Loaded {n_good} rows ({n_quarantined} quarantined) "
          f"in {duration:.2f}s — job {handle.job_id} [{handle.state}]")
    print(f"   Check status: status {handle.job_id}")
    return 0 if ok else 1


def cmd_status(args: list[str], spark, audit, jobs: JobRegistry, specs) -> int:
    if not args:
        print("❌ Usage: status <job-id>")
        return 1
    try:
        print(json.dumps(jobs.status(args[0]), indent=2, default=str))
        return 0
    except KeyError as e:
        print(f"❌ {e}")
        return 1


def cmd_cancel(args: list[str], spark, audit, jobs: JobRegistry, specs) -> int:
    if not args:
        print("❌ Usage: cancel <job-id>")
        return 1
    try:
        print(json.dumps(jobs.cancel(args[0]), indent=2, default=str))
        return 0
    except KeyError as e:
        print(f"❌ {e}")
        return 1


def cmd_run(args: list[str], spark, audit: AuditLog, jobs, specs) -> int:
    """Run any registered analytics query: run <query-name> [sf_dir] [n].
    The engine-side extension of the reference's surface — the remote ETL
    service's transformations, executed locally and inspectably."""
    from ..catalog import DEFAULT_SF_DIR
    from ..registry import all_specs

    qspecs = all_specs()
    if not args or args[0] not in qspecs:
        print("❌ Usage: run <query-name> [sf_dir] [n_rows]")
        if args:
            close = [n for n in sorted(qspecs) if args[0].lower() in n][:8]
            print(f"   Unknown query {args[0]!r}." + (f" Close: {close}" if close else ""))
        else:
            print(f"   {len(qspecs)} queries available — see OPERATORS.md")
        return 1
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else DEFAULT_SF_DIR
    n = int(args[2]) if len(args) > 2 else 20
    started = time.time()
    df = qspecs[name].fn(spark, sf_dir)
    df.show(n, truncate=False)
    audit.log_api_operation(
        {"operation": "run_query", "query": name, "sfDir": sf_dir,
         "durationSeconds": round(time.time() - started, 2)}
    )
    return 0


def cmd_templates(args, spark, audit: AuditLog, jobs, specs) -> int:
    rows = specs.list()
    audit.log_api_operation({"operation": "list_templates", "count": len(rows)})
    print(f"{'ID':<16} {'NAME':<28} DESCRIPTION")
    for s in rows:
        print(f"{s.spec_id:<16} {s.name:<28} {s.description}")
    return 0


def cmd_template(args: list[str], spark, audit: AuditLog, jobs, specs) -> int:
    if not args:
        print("❌ Usage: template <spec-id>")
        return 1
    try:
        spec = specs.get(args[0])
    except SpecError as e:
        print(f"❌ {e}")
        return 1
    audit.log_api_operation({"operation": "get_template", "specId": args[0]})
    print(json.dumps(spec.describe(), indent=2))
    return 0


COMMANDS = {
    "upload": cmd_upload,
    "status": cmd_status,
    "cancel": cmd_cancel,
    "templates": cmd_templates,
    "template": cmd_template,
    "run": cmd_run,
}


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(add_help=False)
    parser.add_argument("command", nargs="?", default="help")
    parser.add_argument("args", nargs="*")
    parser.add_argument("--log-dir", default="logs")
    ns = parser.parse_args(argv)
    if ns.command in ("help", "-h", "--help"):
        print(USAGE)
        return 0
    if ns.command not in COMMANDS:
        # the reference defaults unknown first-args to `upload <arg>`
        ns.args = [ns.command, *ns.args]
        ns.command = "upload"
    spark, audit, jobs, specs = build_services(ns.log_dir)
    try:
        return COMMANDS[ns.command](ns.args, spark, audit, jobs, specs)
    except Exception as e:  # noqa: BLE001 — map to exit code like import.js:217-228
        audit.log_error({"operation": ns.command, "error": str(e)})
        print(f"❌ {type(e).__name__}: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
