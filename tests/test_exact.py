"""The scaled-int64 dot contract (operators/exact.py): its numpy guard, the
agreement of all four implementations, the guard at every numpy call site,
the memory shape of the DuckDB fold, and a scan that keeps the contract
spelled in one module."""

from __future__ import annotations

import io
import math
import pathlib
import re
import tokenize

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vena_etl_tool_spark.operators.exact import (
    descale_sql,
    dot_exact,
    duck_dot_sql,
    duck_sq_sql,
    np_dot,
    np_dot_scaled,
    spark_dot_sql,
    spark_sq_sql,
)
from vena_etl_tool_spark.operators.similarity import MAXSIM_DIM
from vena_etl_tool_spark.registry import all_specs
from vena_etl_tool_spark.testing import duckdb_connection

# |x|, |y| <= 94 keeps every scaled term |x*y*1e12| <= 8.84e15 < 2^53
_in_contract = st.floats(min_value=-94.0, max_value=94.0, allow_nan=False)
_vec = st.lists(_in_contract, min_size=MAXSIM_DIM, max_size=MAXSIM_DIM)


def _seeded_vectors(n: int = 100) -> np.ndarray:
    """Half at the edge of the contract, half at embedding scale."""
    rng = np.random.default_rng(7)
    return np.vstack(
        [rng.uniform(-94, 94, (n, MAXSIM_DIM)), rng.normal(0, 1, (n, MAXSIM_DIM))]
    )


@given(
    a=_vec,
    b=_vec,
    i=st.integers(min_value=0, max_value=MAXSIM_DIM - 1),
    x=st.floats(min_value=95.0, max_value=1e6),
    y=st.floats(min_value=95.0, max_value=1e6),
    sign=st.sampled_from([1.0, -1.0]),
)
@settings(max_examples=100, deadline=None)
def test_np_dot_guard_trips_past_2_53(a, b, i, x, y, sign):
    """One term with |x*y*1e12| >= 2^53 (95^2 * 1e12 > 2^53) must raise:
    numpy's int64 cast would wrap there where the JVM saturates."""
    a[i], b[i] = x, sign * y
    with pytest.raises(ValueError, match="2\\^53"):
        np_dot(np.array([a]), np.array([b]))


def test_np_dot_guard_rejects_nan():
    a = np.zeros((1, MAXSIM_DIM))
    a[0, 3] = np.nan
    with pytest.raises(ValueError, match="NaN"):
        np_dot(a, np.ones((1, MAXSIM_DIM)))


@given(a=_vec, b=_vec)
@settings(max_examples=200, deadline=None)
def test_np_dot_in_contract_matches_scalar_fold(a, b):
    expect = sum(math.floor(x * y * 1e12) for x, y in zip(a, b)) / 1e12
    assert np_dot(np.array([a]), np.array([b]))[0] == expect


def test_np_dot_matches_jvm_fold_exactly(spark):
    """In-contract inputs, up to the bound, give dot_exact's exact values."""
    a = _seeded_vectors()
    b = _seeded_vectors()[::-1].copy()
    df = spark.createDataFrame(
        [(i, a[i].tolist(), b[i].tolist()) for i in range(len(a))],
        "i int, a array<double>, b array<double>",
    )
    jvm = {
        r.i: r.d
        for r in df.select("i", dot_exact(df.a, df.b).alias("d")).collect()
    }
    got = np_dot(a, b)
    assert [jvm[i] for i in range(len(a))] == got.tolist()


def test_four_implementations_agree_bit_for_bit(spark):
    """Spark Column fold, Spark SQL text, DuckDB SQL text and the numpy
    kernel give identical scaled sums and identical descaled doubles on
    the same in-contract vectors, for dots with a literal vector (planes,
    centroids), dots of two columns, and square sums."""
    a = _seeded_vectors()
    lits = a[[0, 1, 150, 199]]
    n = len(a)

    sdf = spark.createDataFrame(
        [(i, a[i].tolist()) for i in range(n)], "i int, a array<double>"
    )
    con = duckdb.connect()
    con.register("v", pd.DataFrame({"i": range(n), "a": [r.tolist() for r in a]}))
    con.register("w", pd.DataFrame({"j": range(len(lits)), "l": [v.tolist() for v in lits]}))
    for j, v in enumerate(lits):
        l_arr = F.array(*[F.lit(float(x)) for x in v])
        jvm = sdf.select(
            "i",
            F.expr(spark_dot_sql("a", v)).alias("scaled"),
            dot_exact(F.col("a"), l_arr).alias("dot"),
        ).collect()
        duck = con.execute(
            f"SELECT i, {duck_dot_sql('a', v)},"
            f" {descale_sql(duck_dot_sql('a', 'l'))}"
            f" FROM v, w WHERE j = {j} ORDER BY i"
        ).fetchall()
        scaled, dots = np_dot_scaled(a, v[None, :]), np_dot(a, v[None, :])
        want = [(i, int(scaled[i]), float(dots[i])) for i in range(n)]
        assert sorted(tuple(r) for r in jvm) == want, j
        assert duck == want, j

    jvm = sdf.select(
        "i",
        F.expr(spark_sq_sql("a")).alias("scaled"),
        dot_exact(F.col("a"), F.col("a")).alias("dot"),
    ).collect()
    duck = con.execute(
        f"SELECT i, {duck_sq_sql('a')}, {descale_sql(duck_sq_sql('a'))} FROM v ORDER BY i"
    ).fetchall()
    scaled, dots = np_dot_scaled(a, a), np_dot(a, a)
    want = [(i, int(scaled[i]), float(dots[i])) for i in range(n)]
    assert sorted(tuple(r) for r in jvm) == want
    assert duck == want


@pytest.mark.parametrize("name", ["dedup_embedding_cosine", "udf_arrow_python"])
def test_numpy_sites_raise_on_out_of_contract_embedding(spark, tmp_path, name):
    """One embedding coordinate of 1e8 puts its terms far past 2^53; the
    query must fail loudly instead of returning wrapped int64 sums."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(0.0, 0.15, (40, 64)).astype(np.float32)
    vecs[7, 63] = 1e8
    table = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([i % 4 for i in range(40)], pa.int32()),
        }
    )
    pq.write_table(table, tmp_path / "embeddings.parquet")
    df = all_specs()[name].fn(spark, str(tmp_path))
    with pytest.raises(Exception, match="2\\^53"):
        df.collect()


@pytest.mark.parametrize(
    "name", ["dedup_embedding_cosine", "sim_ann_lsh", "sim_ann_recall_eval"]
)
def test_oracle_fold_fits_in_1gb(name, sf_dir):
    """The DuckDB dot fold is one list lambda per row. The correlated
    per-element UNNEST form it replaced ran these oracles out of memory
    even under a 6 GB limit."""
    con = duckdb_connection(sf_dir)
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=4")
    rows = con.execute(all_specs()[name].oracle).fetchall()
    assert rows


_PKG = pathlib.Path(__file__).resolve().parents[1] / "vena_etl_tool_spark"
_COPY_PATTERNS = (
    re.compile(r"\*\s*1e12\)\s*AS BIGINT"),
    re.compile(r"F\.lit\(1e12\)"),
    re.compile(r"np\.floor\([^\n]*\*\s*1e12"),
    re.compile(r"math\.floor\([^\n]*\*\s*1e12"),
)


def _code_without_comments(path: pathlib.Path) -> str:
    src = path.read_text()
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return tokenize.untokenize(
        (t.type, t.string) for t in toks if t.type != tokenize.COMMENT
    )


def test_scaled_dot_is_spelled_only_in_exact():
    """The scaled-dot term is written in operators/exact.py and nowhere
    else in the package: every other site must call it."""
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        if path.relative_to(_PKG).as_posix() == "operators/exact.py":
            continue
        code = _code_without_comments(path)
        for pat in _COPY_PATTERNS:
            for m in pat.finditer(code):
                offenders.append(f"{path.relative_to(_PKG)}: {m.group(0)}")
    assert not offenders, "scaled-dot copies outside exact.py:\n" + "\n".join(offenders)
