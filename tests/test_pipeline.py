"""Tests for the pipeline-orchestration layer (reference Part A surface)."""

from __future__ import annotations

import json
import os
import pathlib
import re
import threading
import time
import uuid

import pytest
from pyspark.sql import types as T

from vena_etl_tool_spark.catalog import load_table
from vena_etl_tool_spark.pipeline.audit import AuditLog
from vena_etl_tool_spark.pipeline.http_sink import HttpSinkConfig, post_with_retry, write_http
from vena_etl_tool_spark.pipeline.ingest import ingest_csv, validate_csv_file
from vena_etl_tool_spark.pipeline.jobs import JobRegistry
from vena_etl_tool_spark.pipeline.spec import (
    PipelineSpec,
    SpecError,
    SpecRegistry,
    default_registry,
)
from vena_etl_tool_spark.session import FILE_SPLIT_FLOOR


@pytest.fixture()
def csv_fixture(tmp_path, spark, sf_dir):
    """Lineitem CSV with 3 corrupt rows appended (FIXTURES.md ingest-path)."""
    li = load_table(spark, sf_dir, "lineitem").limit(200)
    pdf = li.toPandas()
    path = tmp_path / "lineitem.csv"
    pdf.to_csv(path, index=False)
    with open(path, "a") as f:
        f.write("not,a,valid,row\n")
        f.write("1,2,3,4,NOT_A_NUMBER,6,7,8,A,F,2024-01-01 00:00:00\n")
        f.write("garbage line\n")
    return str(path)


def test_validate_csv_file(tmp_path):
    missing = validate_csv_file(str(tmp_path / "nope.csv"))
    assert not missing.success and "not found" in missing.error.lower()

    p = tmp_path / "data.txt"
    p.write_text("a,b\n1,2\n")
    soft = validate_csv_file(str(p))
    assert soft.success and soft.warning and ".csv" in soft.warning
    assert soft.file_name == "data.txt" and float(soft.file_size_kb) > 0


def test_ingest_quarantine_split(spark, csv_fixture):
    spec = default_registry().get("lineitem-csv")
    res = ingest_csv(spark, csv_fixture, spec)
    assert res.n_good == 200
    assert res.n_quarantined == 3
    assert res.good.schema.fieldNames()[:2] == ["l_orderkey", "l_partkey"]
    quarantined = [r.raw_record for r in res.quarantine.collect()]
    assert any("NOT_A_NUMBER" in r for r in quarantined)


def test_spec_registry_validation():
    reg = default_registry()
    assert [s.spec_id for s in reg.list()] == ["lineitem-csv"]
    described = reg.get("lineitem-csv").describe()
    assert described["schema"]["type"] == "struct"
    with pytest.raises(SpecError):
        reg.get("missing-spec")
    with pytest.raises(SpecError):
        PipelineSpec("", "", "", schema=None).validate()  # type: ignore[arg-type]


def test_job_registry_batch_lifecycle(spark, tmp_path):
    jobs = JobRegistry(spark, AuditLog(str(tmp_path)))
    handle = jobs.submit_batch(lambda: spark.range(1000).count(), "count job")
    jobs.wait(handle.job_id, timeout=60)
    st = jobs.status(handle.job_id)
    assert st["state"] == "SUCCEEDED"
    assert handle.result == 1000
    with pytest.raises(KeyError):
        jobs.status("nope")


def test_job_registry_failure_is_captured(spark, tmp_path):
    jobs = JobRegistry(spark, AuditLog(str(tmp_path)))

    def boom():
        raise RuntimeError("exploded")

    handle = jobs.submit_batch(boom)
    jobs.wait(handle.job_id, timeout=30)
    assert handle.state == "FAILED"
    assert "exploded" in handle.error


def test_audit_log_channels(tmp_path):
    audit = AuditLog(str(tmp_path / "logs"))
    audit.log_upload({"fileName": "x.csv"})
    audit.log_job_operation({"jobId": "j1"})
    audit.log_api_operation({"operation": "list"})
    audit.log_error({"error": "boom"})
    for channel in ("upload-history", "job-history", "api-history", "error"):
        records = audit.read_channel(channel)
        assert len(records) == 1
        assert "timestamp" in records[0]  # ISO-8601 prefix like the reference
        # shape check: one JSON object per line
        raw = open(os.path.join(audit.log_dir, f"{channel}.jsonl")).read().strip()
        assert json.loads(raw)


def test_basic_auth_headers():
    from vena_etl_tool_spark.pipeline.http_sink import basic_auth_headers

    h = basic_auth_headers("user", "pass")
    assert h["authorization"] == "Basic dXNlcjpwYXNz"  # base64("user:pass")
    assert h["accept"] == "application/json"
    with pytest.raises(ValueError):
        basic_auth_headers("user", "")


def test_post_with_retry_backoff():
    attempts, sleeps = [], []

    def flaky(url, body, headers):
        attempts.append(1)
        if len(attempts) < 3:
            raise IOError("503")
        return 200

    assert post_with_retry("http://x", b"{}", {}, flaky, retries=3,
                           backoff_s=0.3, sleep=sleeps.append) == 200
    assert len(attempts) == 3
    assert sleeps == [0.3, 0.6]  # exponential doubling, templates.js:39

    with pytest.raises(IOError):
        post_with_retry("http://x", b"{}", {}, lambda *a: (_ for _ in ()).throw(IOError("down")),
                        retries=2, backoff_s=0.01, sleep=lambda s: None)


def test_http_sink_batches(spark, tmp_path):
    """write_http posts every partition's rows as JSONL with idempotency
    keys. The fake transport runs on executor python workers, so it
    captures through the shared local filesystem."""
    capture_dir = str(tmp_path / "sent")
    os.makedirs(capture_dir, exist_ok=True)

    def fs_transport(url, body, headers):
        import uuid as _uuid

        assert url == "http://sink.test/batch"
        key = headers["idempotency-key"]
        assert key.startswith("p")
        with open(os.path.join(capture_dir, f"{key}-{_uuid.uuid4().hex}.jsonl"), "wb") as f:
            f.write(body)
        return 200

    df = spark.range(0, 20, 1, 2).selectExpr("id", "id * 2 AS doubled")
    write_http(df, HttpSinkConfig(url="http://sink.test/batch", batch_size=7),
               transport=fs_transport)
    rows = []
    for fn in os.listdir(capture_dir):
        with open(os.path.join(capture_dir, fn)) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    assert len(rows) == 20
    assert {r["id"] for r in rows} == set(range(20))
    assert all(r["doubled"] == r["id"] * 2 for r in rows)
    # 2 partitions × batch_size 7 over 10 rows each → 2 flushes per partition
    assert len(os.listdir(capture_dir)) == 4


def test_cli_end_to_end(tmp_path, csv_fixture, capsys):
    from vena_etl_tool_spark.pipeline import cli

    assert cli.main(["help"]) == 0
    assert cli.main(["templates", "--log-dir", str(tmp_path / "logs")]) == 0
    assert cli.main(["template", "lineitem-csv", "--log-dir", str(tmp_path / "logs")]) == 0
    rc = cli.main(["upload", csv_fixture, "lineitem-csv", "--log-dir", str(tmp_path / "logs")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "Loaded 200 rows (3 quarantined)" in out
    audit = AuditLog(str(tmp_path / "logs"))
    uploads = audit.read_channel("upload-history")
    assert uploads and uploads[-1]["rowsLoaded"] == 200
    job_id = uploads[-1]["jobId"]
    assert cli.main(["status", job_id, "--log-dir", str(tmp_path / "logs")]) == 1  # new registry → unknown
    assert cli.main(["nonexistent.csv"]) == 1  # default-to-upload path: missing file


# --- multipart upload fidelity (VERDICT r10 #6) -----------------------------


def test_encode_multipart_body_shape():
    """The body must be exactly the reference's FormData shape
    (templates.js:140-144): one part, field `file`, the caller's
    filename, Content-Type text/csv, CRLF framing, closing boundary."""
    from vena_etl_tool_spark.pipeline.http_sink import encode_multipart

    payload = b"l_orderkey,l_partkey\n1,2\n"
    body, ctype = encode_multipart(payload, "lineitem.csv")
    assert ctype.startswith("multipart/form-data; boundary=")
    boundary = ctype.split("boundary=", 1)[1]
    assert body.startswith(f"--{boundary}\r\n".encode())
    head, _, rest = body.partition(b"\r\n\r\n")
    assert b'Content-Disposition: form-data; name="file"; filename="lineitem.csv"' in head
    assert b"Content-Type: text/csv" in head
    assert rest == payload + f"\r\n--{boundary}--\r\n".encode()
    # deterministic: same payload -> same body (safe idempotent retries)
    assert encode_multipart(payload, "lineitem.csv") == (body, ctype)
    # boundary never collides with the payload
    body2, ctype2 = encode_multipart(body, "nested.csv")
    assert ctype2.split("boundary=", 1)[1].encode() not in body


def test_upload_file_multipart_retries_then_posts():
    from vena_etl_tool_spark.pipeline.http_sink import upload_file_multipart

    calls = []

    def flaky(url, body, headers):
        calls.append((url, body, headers))
        return 500 if len(calls) == 1 else 200

    status = upload_file_multipart(
        "http://x/api/public/v1/etl/templates/t1/startWithFile",
        b"a,b\n1,2\n",
        "f.csv",
        {"authorization": "Basic zz"},
        transport=flaky,
        sleep=lambda s: None,
    )
    assert status == 200 and len(calls) == 2
    url, body, headers = calls[-1]
    assert headers["content-type"].startswith("multipart/form-data; boundary=")
    assert headers["authorization"] == "Basic zz"
    assert b'name="file"' in body and b"a,b\n1,2\n" in body


# --- dotenv-parity env config (VERDICT r10 #7) ------------------------------


def test_parse_env_file_semantics(tmp_path):
    from vena_etl_tool_spark.pipeline.envconfig import load_config, parse_env_file

    text = (
        "# comment\n"
        "VENA_USERNAME=alice\n"
        "export VENA_PASSWORD='s3cret#not-a-comment'\n"
        'VENA_API_URL="http://etl.test"\n'
        "VENA_TEMPLATE_ID=t42 # trailing comment\n"
        "MALFORMED LINE\n"
    )
    parsed = parse_env_file(text)
    assert parsed == {
        "VENA_USERNAME": "alice",
        "VENA_PASSWORD": "s3cret#not-a-comment",
        "VENA_API_URL": "http://etl.test",
        "VENA_TEMPLATE_ID": "t42",
    }
    envfile = tmp_path / ".env"
    envfile.write_text(text)
    # process environment WINS over the file (npm dotenv default)
    cfg = load_config(str(envfile), environ={"VENA_USERNAME": "bob"})
    assert cfg.username == "bob" and cfg.password == "s3cret#not-a-comment"
    assert cfg.api_url == "http://etl.test" and cfg.template_id == "t42"


def test_validate_config_fails_fast_like_reference():
    from vena_etl_tool_spark.pipeline.envconfig import (
        ConfigError,
        EnvConfig,
        validate_config,
    )

    with pytest.raises(ConfigError, match="VENA_USERNAME and VENA_PASSWORD"):
        validate_config(EnvConfig(api_url="http://etl.test", username="u"))
    validate_config(EnvConfig(username="u", password="p"))  # no raise


def test_cmd_upload_env_config_paths(tmp_path, spark, csv_fixture, capsys):
    """cmd_upload mirrors validateConfig semantics (config.js:28-34):
    an HTTP target without credentials exits 1 BEFORE any work; with
    credentials it posts the raw CSV as multipart to the template's
    startWithFile endpoint, template id from VENA_TEMPLATE_ID."""
    from vena_etl_tool_spark.pipeline.cli import build_services, cmd_upload
    from vena_etl_tool_spark.pipeline.envconfig import EnvConfig

    _, audit, jobs, specs = build_services(str(tmp_path / "logs"))

    bad = EnvConfig(api_url="http://etl.test")
    rc = cmd_upload([csv_fixture], spark, audit, jobs, specs, env_cfg=bad)
    assert rc == 1
    assert "credentials not found" in capsys.readouterr().out.lower()

    calls = []
    good = EnvConfig(
        api_url="http://etl.test",
        template_id="lineitem-csv",
        username="u",
        password="p",
    )
    rc = cmd_upload(
        [csv_fixture],
        spark,
        audit,
        jobs,
        specs,
        env_cfg=good,
        transport=lambda u, b, h: calls.append((u, b, h)) or 200,
    )
    assert rc == 0 and len(calls) == 1
    url, body, headers = calls[0]
    assert url == "http://etl.test/api/public/v1/etl/templates/lineitem-csv/startWithFile"
    assert headers["content-type"].startswith("multipart/form-data")
    assert headers["authorization"].startswith("Basic ")
    with open(csv_fixture, "rb") as f:
        assert f.read() in body


# --- one scan per upload ----------------------------------------------------

_DEMO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("label", T.StringType()),
    ]
)


def _demo_spec(target: str = "demo_loaded") -> PipelineSpec:
    return PipelineSpec("demo-csv", "Demo CSV", "id/amount/label", _DEMO_SCHEMA, target=target)


def _demo_csv(path, n_good: int, n_bad: int) -> str:
    """`n_good` typed rows, then `n_bad` rows whose `id` does not parse."""
    rows = [f"{i},{i}.5,l{i % 2}" for i in range(n_good)]
    rows += [f"x{i},1.0,bad" for i in range(n_bad)]
    path.write_text("id,amount,label\n" + "\n".join(rows) + "\n")
    return str(path)


def _persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


class _SinkJobs(JobRegistry):
    """A JobRegistry that runs `before()` on each batch job's own thread
    ahead of the job, and keeps the handles it returns."""

    def __init__(self, spark, audit, before) -> None:
        super().__init__(spark, audit)
        self.before = before
        self.handles = []

    def submit_batch(self, fn, description=""):
        def run():
            self.before()
            return fn()

        handle = super().submit_batch(run, description)
        self.handles.append(handle)
        return handle


def _upload(spark, tmp_path, csv, spec, jobs=None, env_cfg=None, transport=None):
    """cmd_upload of `csv` under `spec`; returns (rc, audit, jobs)."""
    from vena_etl_tool_spark.pipeline.cli import cmd_upload
    from vena_etl_tool_spark.pipeline.envconfig import EnvConfig

    audit = AuditLog(str(tmp_path / "logs"))
    jobs = jobs if jobs is not None else JobRegistry(spark, audit)
    specs = SpecRegistry()
    specs.register(spec)
    rc = cmd_upload(
        [csv, spec.spec_id], spark, audit, jobs, specs,
        env_cfg=env_cfg or EnvConfig(), transport=transport,
    )
    return rc, audit, jobs


def test_reingest_of_rewritten_path_reads_the_new_file(spark, tmp_path):
    path = tmp_path / "same.csv"
    first = ingest_csv(spark, _demo_csv(path, 4, 1), _demo_spec())
    assert (first.n_good, first.n_quarantined) == (4, 1)
    second = ingest_csv(spark, _demo_csv(path, 7, 3), _demo_spec())
    assert (second.n_good, second.n_quarantined) == (7, 3)
    assert second.good.count() == 7


def test_upload_leaves_no_persisted_rdd(spark, tmp_path):
    before = _persisted_rdds(spark)
    rc, audit, _ = _upload(spark, tmp_path, _demo_csv(tmp_path / "in.csv", 5, 2), _demo_spec())
    assert rc == 0
    assert audit.read_channel("upload-history")[-1]["rowsLoaded"] == 5
    assert _persisted_rdds(spark) == before


def _grouped_upload(spark, tmp_path, csv, spec):
    """cmd_upload of `csv` under `spec`; returns (rc, audit, job ids).
    Jobs on the calling thread and on the sink job's thread are put in one
    group, and a fence job in a second group, run after cmd_upload
    returns, marks when every earlier job is visible to the tracker."""
    sc = spark.sparkContext
    group = f"upload-test-{uuid.uuid4().hex}"
    jobs = _SinkJobs(spark, AuditLog(str(tmp_path / "logs")), lambda: sc.setJobGroup(group, group))
    sc.setJobGroup(group, group)
    try:
        rc, audit, _ = _upload(spark, tmp_path, csv, spec, jobs=jobs)
    finally:
        sc.setJobGroup(group + "-fence", "fence")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not status.getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return rc, audit, status.getJobIdsForGroup(group)


def test_upload_runs_one_spark_job(spark, tmp_path):
    """The sink's parquet write is the upload's only job: the counts come
    from its observation."""
    csv = _demo_csv(tmp_path / "in.csv", 6, 2)
    rc, audit, job_ids = _grouped_upload(spark, tmp_path, csv, _demo_spec())
    assert rc == 0
    record = audit.read_channel("upload-history")[-1]
    assert (record["rowsLoaded"], record["rowsQuarantined"]) == (6, 2)
    assert len(job_ids) == 1


def test_permissive_verdicts_hold_on_pruned_consumers(spark, tmp_path):
    """Consumers that read one column, or only the corrupt-record column,
    still get whole-row verdicts from the uncached scan: the observation's
    metric over every spec column keeps the scan unpruned."""
    before = _persisted_rdds(spark)
    res = ingest_csv(spark, _demo_csv(tmp_path / "in.csv", 4, 2), _demo_spec())
    assert sorted(r.label for r in res.good.select("label").collect()) == ["l0", "l0", "l1", "l1"]
    assert res.good.groupBy("label").count().count() == 2
    assert res.quarantine.count() == 2
    assert _persisted_rdds(spark) == before


def test_failed_sink_records_null_counts(spark, tmp_path):
    """A sink job that fails gives rc 1, a FAILED job and an upload record
    with null counts (its observation would hold a partial run's). The
    target's parent is a regular file: overwrite mode would replace a file
    at the target itself, so this is the way to make the write fail."""
    (tmp_path / "blocker").write_text("not a directory")
    csv = _demo_csv(tmp_path / "in.csv", 3, 1)
    out = {}
    t = threading.Thread(
        target=lambda: out.update(res=_upload(spark, tmp_path, csv, _demo_spec("blocker/out"))),
        daemon=True,
    )
    t.start()
    t.join(120)
    assert not t.is_alive(), "cmd_upload did not return after its sink job failed"
    rc, audit, jobs = out["res"]
    assert rc == 1
    record = audit.read_channel("upload-history")[-1]
    assert record["rowsLoaded"] is None and record["rowsQuarantined"] is None
    assert jobs.status(record["jobId"])["state"] == "FAILED"


def test_counts_after_a_failed_write_raise(spark, tmp_path):
    """A failed write leaves partial metrics in the observation: reading the
    counts afterwards raises at once, neither blocking nor returning them."""
    (tmp_path / "blocker").write_text("not a directory")
    res = ingest_csv(spark, _demo_csv(tmp_path / "in.csv", 3, 1), _demo_spec())
    with pytest.raises(Exception, match="not a directory"):
        res.write(str(tmp_path / "blocker" / "out"))
    with pytest.raises(RuntimeError, match="partial"):
        res.n_good


def test_failed_post_waits_for_the_sink_job(spark, tmp_path):
    """The POST runs while the sink job runs, and when it gives up after
    its retries cmd_upload still waits for the sink job before raising.
    The sink job is held until the last POST attempt, so a POST that ran
    only after the sink job, or a raise that skipped the wait, fails."""
    from vena_etl_tool_spark.pipeline.envconfig import EnvConfig
    from vena_etl_tool_spark.pipeline.http_sink import DEFAULT_RETRIES

    last_attempt, released = threading.Event(), []
    jobs = _SinkJobs(
        spark, AuditLog(str(tmp_path / "logs")), lambda: released.append(last_attempt.wait(10))
    )
    attempts = []

    def down(url, body, headers):
        attempts.append(url)
        if len(attempts) == DEFAULT_RETRIES + 1:
            last_attempt.set()
        raise IOError("endpoint down")

    cfg = EnvConfig(api_url="http://etl.test", template_id="demo-csv", username="u", password="p")
    csv = _demo_csv(tmp_path / "in.csv", 3, 1)
    with pytest.raises(IOError, match="endpoint down"):
        _upload(spark, tmp_path, csv, _demo_spec(), jobs=jobs, env_cfg=cfg, transport=down)
    (handle,) = jobs.handles
    assert not handle.thread.is_alive()
    assert handle.state == "SUCCEEDED"
    assert released == [True]
    assert len(attempts) == DEFAULT_RETRIES + 1


def test_pipeline_persists_nothing():
    """The pipeline leaves no persisted state behind: each upload is one
    uncached scan, so no `.cache(`/`.persist(` appears in its code."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "vena_etl_tool_spark" / "pipeline"
    offenders = [
        f"{path.name}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.(cache|persist)\(", line)
    ]
    assert not offenders, "\n".join(offenders)


# --- parse on every core ----------------------------------------------------


def _wide_csv(path, n_rows: int, bad_every: int) -> tuple[str, int, set[str]]:
    """A CSV of `n_rows` fixed-width demo rows, every `bad_every`-th one and
    the rows around each of Spark's split boundaries on 4 cores made
    malformed (same width, unparseable `id`). Returns the path, the
    good-row count and the malformed lines."""
    header = "id,amount,label\n"

    def good(i):
        return f"{i:010d},{i % 100000:08d}.5,lab{i % 3}"

    def bad(i):
        return f"x{i:09d},{i % 100000:08d}.5,bad{i % 3}"

    width = len(good(0)) + 1
    size = len(header) + n_rows * width
    split = max(FILE_SPLIT_FLOOR, (size + FILE_SPLIT_FLOOR) // 4)
    near = set()
    for boundary in range(split, size, split):
        line = (boundary - len(header)) // width  # the line the boundary cuts
        near.update(range(line - 1, line + 3))
    malformed = {i for i in range(n_rows) if i % bad_every == bad_every - 1 or i in near}
    lines = [bad(i) if i in malformed else good(i) for i in range(n_rows)]
    path.write_text(header + "\n".join(lines) + "\n")
    return str(path), n_rows - len(malformed), {bad(i) for i in malformed}


def test_session_skips_column_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_multi_mib_upload_parses_on_every_core(spark, tmp_path):
    """A 3.5 MiB upload's one sink job parses in at least 3 tasks on
    local[4] (at Spark's 4 MiB default floor it ran in 1), and the splits
    change no count: every row is read once, malformed lines at the split
    boundaries included, and only the first split drops the header."""
    csv, n_good, malformed = _wide_csv(tmp_path / "wide.csv", 120_000, bad_every=997)
    assert os.path.getsize(csv) >= 3 << 20
    rc, audit, job_ids = _grouped_upload(spark, tmp_path, csv, _demo_spec())
    assert rc == 0
    (job_id,) = job_ids
    status = spark.sparkContext.statusTracker()
    tasks = sum(status.getStageInfo(s).numTasks for s in status.getJobInfo(job_id).stageIds)
    assert tasks >= 3

    record = audit.read_channel("upload-history")[-1]
    assert (record["rowsLoaded"], record["rowsQuarantined"]) == (n_good, len(malformed))
    loaded = spark.read.parquet(str(tmp_path / "demo_loaded"))
    assert loaded.selectExpr("count(*)", "count(DISTINCT id)").first() == (n_good, n_good)
    quarantined = [r.raw_record for r in ingest_csv(spark, csv, _demo_spec()).quarantine.collect()]
    assert len(quarantined) == len(malformed) and set(quarantined) == malformed
