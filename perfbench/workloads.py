"""The benchmark's workloads: which ops a pass runs and the inputs they read.

Each workload is a fixed op list that one client runs closed-loop, one op
in flight. ``prepare`` writes the seeded inputs into a run directory and
returns the op list plus the minimum number of steady passes, which fixes
the pooled sample count the latency percentiles are read from.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import inputs

# Short relational/analytics/stream queries on an sf0.01-sized star schema:
# fixed per-query cost (table-load schema jobs, eager build jobs, planning,
# job launch) dominates, so table loads are a large share of each op.
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "window_frames",
    "topk_global",
    "agg_rollup",
    "join_asof_last_click",
    "setop_except_all",
    "events_funnel_ttc",
)
QUERY_MIX_SF = 0.01

# Dedup/text/similarity queries whose execute phase (shuffles, Python/Arrow
# kernels, exact-dot folds) dominates; table loads are a few percent.
LLM_CURATION = (
    "dedup_minhash_lsh_pairs",
    "dedup_prefix_filter_join",
    "dedup_winnowing",
    "dedup_embedding_cosine",
    "text_substring_dedup_spans",
    "sim_ann_ivf",
)
CURATION_DOCS = 800
CURATION_VECS = 500
# The fixture corpus carries the same share of marked near-duplicates.
NEAR_DUP_SHARE = 0.05

# Ops whose DuckDB oracle cannot run on this host size get the run's
# self-consistency check only: the dedup_embedding_cosine oracle inlines 48
# hyperplanes as correlated UNNEST subqueries and exhausts DuckDB's memory.
NO_ORACLE_CHECK = frozenset({"dedup_embedding_cosine"})

# etl_upload: one upload per size, in a seeded order. The sizes step
# geometrically over 2k-100k rows, so both fixed per-upload cost and per-row
# ingest cost show and neighbouring op latencies sit close together.
UPLOAD_ROWS = tuple(int(round(2_000 * 50 ** (i / 9), -2)) for i in range(10))
MALFORMED_SHARE = 0.01
# The 2nd and 6th smallest uploads get a 503 on their first POST, so the
# transport's 0.3 s backoff shows in the tail. Chosen by size, not by seed,
# so every seed and pass carries the same retry cost.
RETRY_ROWS = (UPLOAD_ROWS[1], UPLOAD_ROWS[5])
# Ops of the etl_reupload variant that rewrite and re-upload the path of an
# earlier op of the same pass.
N_REUPLOAD = 2

MIN_PASSES = {"etl_upload": 3, "query_mix": 3, "llm_curation": 3, "etl_reupload": 3}
WORKLOADS = tuple(MIN_PASSES)


@dataclass(frozen=True)
class Op:
    kind: str  # "query" | "upload"
    name: str  # query name, or the upload's file name within a pass
    source: str = ""  # upload: the generated file the pass links in
    sha256: str = ""
    n_good: int = 0
    n_bad: int = 0
    rewrite: bool = False  # upload: overwrites the path of an earlier op


def prepare(workload: str, seed: int, run_dir: str) -> dict:
    """Write the workload's inputs under ``run_dir``; return the worker plan."""
    data_dir = os.path.join(run_dir, "data")
    plan = {"workload": workload, "seed": seed, "data_dir": data_dir,
            "min_passes": MIN_PASSES[workload]}
    if workload == "query_mix":
        tables = inputs.star_tables(seed, QUERY_MIX_SF)
        tables.update(inputs.corpus_tables(seed, 500, 500, NEAR_DUP_SHARE))
        ops = [Op("query", q) for q in QUERY_MIX]
    elif workload == "llm_curation":
        tables = inputs.star_tables(seed, 0.001)
        tables.update(inputs.corpus_tables(seed, CURATION_DOCS, CURATION_VECS, NEAR_DUP_SHARE))
        ops = [Op("query", q) for q in LLM_CURATION]
    elif workload in ("etl_upload", "etl_reupload"):
        tables = {}
        ops, manifest = upload_ops(seed, data_dir, workload == "etl_reupload")
        plan["manifest"] = manifest
    else:
        raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
    inputs.write_tables(tables, data_dir)
    plan["ops"] = [asdict(op) for op in ops]
    # rows_per_s counts input rows: the CSV rows one pass ingests, or the
    # rows of the tables a query pass reads from (fixed for every seed)
    plan["rows_per_pass"] = (
        sum(t.num_rows for t in tables.values()) if tables
        else sum(op.n_good + op.n_bad for op in ops)
    )
    return plan


def upload_ops(seed: int, data_dir: str, reupload: bool) -> tuple[list[Op], dict]:
    """The upload op list and the endpoint manifest that checks its payloads."""
    os.makedirs(data_dir, exist_ok=True)
    r = inputs.rng_for(seed, "upload-plan")

    def op(name: str, rows: int, label: str, rewrite: bool = False) -> Op:
        f = inputs.lineitem_csv(seed, label, rows, MALFORMED_SHARE)
        source = os.path.join(data_dir, label + ".csv")
        with open(source, "wb") as out:
            out.write(f.data)
        return Op("upload", name, source, f.sha256, f.n_good, f.n_bad, rewrite)

    sizes = r.permutation(UPLOAD_ROWS).tolist()
    keyed = [(float(i), op(f"op{i:02d}.csv", n, f"op{i:02d}")) for i, n in enumerate(sizes)]
    fail_first = sorted(o.name for _, o in keyed if o.n_good + o.n_bad in RETRY_ROWS)
    if reupload:
        for k, t in enumerate(r.choice(len(sizes), N_REUPLOAD, replace=False).tolist()):
            # odd row counts: the rewrite never matches its target's counts,
            # so a stale read of the old file cannot pass the check
            rows = int(r.integers(1_000, 4_000)) * 2 + 1
            after = t + 0.5 + int(r.integers(0, len(sizes) - t))
            keyed.append((after, op(f"op{t:02d}.csv", rows, f"rewrite{k}", rewrite=True)))
    ops = [o for _, o in sorted(keyed, key=lambda kv: kv[0])]
    expect: dict[str, list[str]] = {}
    for o in ops:
        expect.setdefault(o.name, []).append(o.sha256)
    return ops, {"expect": expect, "fail_first": fail_first}
