"""Property-based spot checks (SURVEY.md §5.2.5): algebraic identities that
must hold for any data, run over hypothesis-generated frames."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.sampled_from(["x", "y", "z"]),
        st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
    ),
    min_size=1,
    max_size=60,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=rows_strategy)
@_settings
def test_filter_partition_identity(spark, rows):
    """count(p) + count(!p) == count() for a null-safe predicate."""
    df = spark.createDataFrame(rows, "v long, tag string, opt int")
    p = F.coalesce(F.col("opt"), F.lit(-1)) > 50
    assert df.filter(p).count() + df.filter(~p).count() == df.count()


@given(rows=rows_strategy)
@_settings
def test_union_except_roundtrip(spark, rows):
    """(A ∪all B) exceptAll B == A as a multiset."""
    df = spark.createDataFrame(rows, "v long, tag string, opt int")
    a = df.filter(F.col("tag") != "z")
    b = df.filter(F.col("tag") == "z")
    roundtrip = a.unionAll(b).exceptAll(b)
    # None-safe sort key (hypothesis found (0,'x',None) vs (0,'x',0):
    # Python can't order None against int)
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, roundtrip.collect()), key=key) == sorted(
        map(tuple, a.collect()), key=key
    )


@given(rows=rows_strategy)
@_settings
def test_row_number_is_permutation(spark, rows):
    """row_number over any total order is exactly 1..n per partition key."""
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "uid long, v long, tag string, opt int"
    )
    w = Window.partitionBy("tag").orderBy("v", "uid")
    rn = df.withColumn("rn", F.row_number().over(w))
    for tag_rows in (
        rn.groupBy("tag").agg(F.sort_array(F.collect_list("rn")).alias("rns")).collect()
    ):
        assert tag_rows.rns == list(range(1, len(tag_rows.rns) + 1))


@given(rows=rows_strategy)
@_settings
def test_groupby_sum_equals_global_sum(spark, rows):
    """Sum of per-group sums == global sum (long arithmetic, exact)."""
    df = spark.createDataFrame(rows, "v long, tag string, opt int")
    per_group = df.groupBy("tag").agg(F.sum("v").alias("s"))
    total_from_groups = per_group.agg(F.sum("s")).first()[0]
    assert total_from_groups == df.agg(F.sum("v")).first()[0]


text_strategy = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters=["\x00"]
        ),
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=25,
)


@given(texts=text_strategy)
@_settings
def test_md5_hash60_is_cross_engine_exact(spark, texts):
    """The md5 prefix integer — the foundation every minhash / simhash /
    LSH / sampling / sketch oracle rests on — must agree byte-for-byte in
    all three spellings (Spark Column, Spark SQL text, DuckDB SQL text)
    and with Python's hashlib for ARBITRARY unicode strings, not just
    fixture shingles, at 1, 12 and 15 hex digits."""
    import hashlib

    import duckdb

    from vena_etl_tool_spark.operators.crosshash import (
        duck_md5_int,
        md5_int,
        spark_md5_int,
    )

    digits = (1, 12, 15)
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    row = df.select(
        "s",
        *[md5_int(F.col("s"), d).alias(f"col{d}") for d in digits],
        *[F.expr(spark_md5_int("s", d)).alias(f"sql{d}") for d in digits],
    )
    spark_rows = row.collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    for d in digits:
        expect = sorted(
            (t, int(hashlib.md5(t.encode()).hexdigest()[:d], 16)) for t in texts
        )
        assert sorted((r.s, r[f"col{d}"]) for r in spark_rows) == expect, d
        assert sorted((r.s, r[f"sql{d}"]) for r in spark_rows) == expect, d
        duck = con.execute(f"SELECT s, {duck_md5_int('s', d)} FROM t").fetchall()
        assert sorted(duck) == expect, d


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["web", "books", "code"]),
            st.integers(min_value=0, max_value=400),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@_settings
def test_pack_offsets_partition_the_token_stream(spark, docs):
    """Sequence-packing invariants for arbitrary corpora: within each
    source, offsets are contiguous (doc k's start == doc k-1's end under
    doc_id order), every span is exactly n_tokens+1 wide, and the last
    end equals the shard's total token+separator mass."""
    from vena_etl_tool_spark.operators.textanalysis import _pack_offsets

    frame = spark.createDataFrame(
        [(i, src, "w " * n if n else "") for i, src, n in docs],
        "doc_id long, source string, text string",
    )
    rows = sorted(
        _pack_offsets(frame).collect(), key=lambda r: (r.source, r.doc_id)
    )
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for src_rows in by_source.values():
        expected_start = 0
        for r in src_rows:
            assert r.start_off == expected_start
            assert r.end_off - r.start_off == r.n_tokens + 1
            expected_start = r.end_off


@given(
    words=st.lists(
        st.text(alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz"),
                min_size=1, max_size=12),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
@_settings
def test_soundex_oracle_closed_form_matches_spark(spark, words):
    """The scalar_functions_extra oracle re-derives soundex as a closed
    form (code-map, H/W strip, run collapse, vowel strip). It must match
    Spark's soundex for ARBITRARY lowercase words, not just the fixture's
    part-name vocabulary. (This test's first, list_reduce-based
    formulation exposed a DuckDB 1.0.0 vectorization bug — list_reduce
    over variable-length lists gives row-order-dependent results — which
    is why the oracle deliberately avoids list_reduce.)"""
    import duckdb

    from vena_etl_tool_spark.operators.scalars import _SQL_COLLAPSE_RUNS

    df = spark.createDataFrame([(w,) for w in words], "w string")
    spark_vals = sorted(
        (r.w, r.sx) for r in df.select("w", F.soundex("w").alias("sx")).collect()
    )
    collapse = _SQL_COLLAPSE_RUNS.format(
        col="(CASE WHEN flc = '-' THEN '' ELSE flc END || tailc)"
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (w VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(w,) for w in words])
    duck_vals = sorted(
        con.execute(
            f"""
            WITH c AS (SELECT w, upper(w) AS u FROM t),
            sx AS (
              SELECT w, u,
                     translate(u[1], 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                               '0123012-02245501262301-202') AS flc,
                     replace(translate(u[2:], 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                       '0123012-02245501262301-202'),
                             '-', '') AS tailc
              FROM c
            ),
            sx2 AS (SELECT w, u, flc, {collapse} AS runs FROM sx)
            SELECT w,
                   u[1] || substr(
                     replace(CASE WHEN flc = '-' THEN runs ELSE runs[2:] END,
                             '0', '') || '000', 1, 3)
            FROM sx2
            """
        ).fetchall()
    )
    assert spark_vals == duck_vals


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-100, max_value=100,
                      allow_nan=False, width=32),
            min_size=64, max_size=64,
        ),
        min_size=1, max_size=6,
    )
)
@_settings
def test_embedding_bucket_bits_numpy_spark_duckdb_parity(spark, vecs):
    """The r4 embedding-dedup rework moved bucket-bit computation from JVM
    higher-order folds to Arrow-batched numpy. All THREE implementations
    of the scaled-long sign fold — the retained Spark expression
    (emb_bucket_cols), the numpy tensor path, and the DuckDB oracle SQL —
    must agree bit-for-bit on arbitrary float32 vectors, not just fixture
    embeddings."""
    import duckdb
    import numpy as np

    from vena_etl_tool_spark.operators.dedup import (
        _EMB_PLANES, _sql_bucket, EMB_DIM, EMB_LSH_BANDS, EMB_LSH_BITS,
        emb_bucket_cols,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    spark_rows = sorted(
        (r.vec_id, tuple(r[f"eb{b}"] for b in range(EMB_LSH_BANDS)))
        for r in df.select("vec_id", *emb_bucket_cols("embedding")).collect()
    )

    planes = np.asarray(_EMB_PLANES, dtype=np.float64).reshape(
        EMB_LSH_BANDS * EMB_LSH_BITS, EMB_DIM
    )
    e = np.asarray(vecs, dtype=np.float32).astype(np.float64)
    sums = (
        np.floor((e[:, None, :] * planes[None, :, :]) * 1e12)
        .astype(np.int64)
        .sum(axis=2)
    )
    bits = (sums > 0).reshape(len(vecs), EMB_LSH_BANDS, EMB_LSH_BITS)
    weights = 1 << np.arange(EMB_LSH_BITS, dtype=np.int64)
    np_rows = sorted(
        (i, tuple(int(x) for x in (bits[i] * weights).sum(axis=1)))
        for i in range(len(vecs))
    )
    assert spark_rows == np_rows

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id INT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(i, v) for i, v in enumerate(vecs)]
    )
    sel = ", ".join(
        f"{_sql_bucket('embedding', b)} AS eb{b}" for b in range(EMB_LSH_BANDS)
    )
    duck_rows = sorted(
        (r[0], tuple(r[1:]))
        for r in con.execute(f"SELECT vec_id, {sel} FROM embeddings").fetchall()
    )
    assert np_rows == duck_rows


text_strategy = st.lists(
    st.text(
        alphabet=st.sampled_from(
            list("abcdefghijklmnopqrstuvwxyz0123456789 .,!?")
        ),
        min_size=1,
        max_size=120,
    ),
    min_size=1,
    max_size=12,
)


@given(texts=text_strategy)
@_settings
def test_phash_cross_engine_parity(spark, texts):
    """The 32-bit block-mean pHash fold must be bit-identical between the
    Spark expression and the DuckDB oracle fragment for ANY ascii text —
    the fixture only exercises one character distribution, hypothesis
    walks the block-boundary edge cases (short strings, repeated chars,
    punctuation)."""
    import duckdb

    from vena_etl_tool_spark.operators.multimodal import (
        _phash_block_sql_duck,
        _phash_block_sql_spark,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = df.selectExpr(
        "doc_id",
        "transform(split(text, ''), c -> ascii(c)) AS codes",
    ).selectExpr(
        "doc_id",
        "size(codes) AS n",
        "codes",
        "aggregate(codes, CAST(0 AS BIGINT), (acc, v) -> acc + v) AS total",
    )
    got = {
        r.doc_id: r.phash
        for r in stats.selectExpr(
            "doc_id", f"{_phash_block_sql_spark()} AS phash"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(
        con.execute(
            "SELECT doc_id, phash FROM ("
            "  SELECT doc_id, "
            f" {_phash_block_sql_duck()} AS phash FROM ("
            "    SELECT doc_id, codes, len(codes) AS n, list_sum(codes) AS total"
            "    FROM (SELECT doc_id,"
            "          list_transform(string_split(text, ''), c -> ascii(c)) AS codes"
            "          FROM t)))"
        ).fetchall()
    )
    assert got == want


ts_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),          # user
        st.integers(min_value=1577836800, max_value=1893456000),  # 2020-2030 epoch sec
        st.integers(min_value=0, max_value=999_999),     # sub-second micros
    ),
    min_size=2,
    max_size=40,
)


@given(rows=ts_strategy)
@_settings
def test_retention_week_offset_parity(spark, rows):
    """date_trunc('week') + day-diff integer-div-7 must agree between
    Spark and DuckDB for ANY timestamp — the fixture's events span one
    month, so year boundaries / ISO-week starts are never exercised
    there. (Both engines truncate weeks to Monday; UTC pinned.)"""
    import duckdb

    data = [(u, s * 1_000_000 + us) for (u, s, us) in rows]
    df = spark.createDataFrame(data, "user_id long, micros long").select(
        "user_id", F.timestamp_micros("micros").alias("ts")
    )
    firsts = df.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    got = sorted(
        map(
            tuple,
            df.join(firsts, "user_id")
            .selectExpr(
                "user_id",
                "datediff(date_trunc('week', ts), cohort_week) div 7 AS wk",
            )
            .collect(),
        )
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE e (user_id BIGINT, ts TIMESTAMP)")
    con.executemany(
        "INSERT INTO e VALUES (?, to_timestamp(? / 1e6))", data
    )
    con.execute("SET TimeZone='UTC'")
    want = sorted(
        map(
            tuple,
            con.execute(
                """
WITH f AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cw FROM e GROUP BY user_id)
SELECT e.user_id, date_diff('day', f.cw, date_trunc('week', e.ts)) // 7 AS wk
FROM e JOIN f ON e.user_id = f.user_id
"""
            ).fetchall(),
        )
    )
    assert got == want


corpus_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=1, max_size=8),
    min_size=2,
    max_size=20,
)


@given(docs=corpus_strategy)
@_settings
def test_drift_tv_matches_exact_fractions(spark, docs):
    """The integer cross-multiplication TV distance must equal the exact
    Fraction arithmetic 0.5 * sum |p_tok - q_tok| for any corpus split
    (and both snapshots must be non-empty for the statistic to exist)."""
    from collections import Counter
    from fractions import Fraction

    import vena_etl_tool_spark.operators.textanalysis as ta

    old = Counter(t for i, ws in enumerate(docs) if i % 2 == 0 for t in ws)
    new = Counter(t for i, ws in enumerate(docs) if i % 2 == 1 for t in ws)
    if not old or not new:
        return
    t_old, t_new = sum(old.values()), sum(new.values())
    expected = Fraction(1, 2) * sum(
        abs(Fraction(old.get(t, 0), t_old) - Fraction(new.get(t, 0), t_new))
        for t in set(old) | set(new)
    )
    df = spark.createDataFrame(
        [(i, " ".join(ws), "en", "s", 0) for i, ws in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = ta.corpus_drift_topk(spark, d).collect()
    assert rows, "top-k must be non-empty for a non-empty vocabulary"
    got = rows[0].tv_distance
    if expected == 0:
        # identical distributions: tv is exactly 0, per-token shares are
        # NULLIF-guarded NULLs (0/0)
        assert got == 0.0 and rows[0].drift_share is None
        return
    # got = tv_num / (2*T_old*T_new) computed in doubles from exact ints
    exact_num = sum(
        abs(old.get(t, 0) * t_new - new.get(t, 0) * t_old)
        for t in set(old) | set(new)
    )
    assert Fraction(exact_num, 2 * t_old * t_new) == expected
    assert abs(got - float(expected)) < 1e-12
    # per-token integer numerators are exact
    for r in rows:
        assert r.drift_num == abs(r.n_old * t_new - r.n_new * t_old)


_catalog_strategy = st.lists(
    st.text(alphabet="abcd ", min_size=0, max_size=12),
    min_size=1,
    max_size=25,
)


@given(names=_catalog_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzzy_trigram_join_equals_brute_force(spark, names):
    """PPJoin prefix filtering is lossless for ANY catalog: the fuzzy
    trigram join's pair set equals exhaustive brute force at the same
    threshold (false positives removed by the verify, false negatives
    impossible by the prefix bound), including degenerate names
    (< 3 chars excluded) and clone families (collapse to min key)."""
    from vena_etl_tool_spark.operators.dedup import (
        FUZZY_JACCARD_T,
        fuzzy_trigram_pairs,
    )

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    )
    got = {
        (r.rep_a, r.rep_b): r.jaccard for r in fuzzy_trigram_pairs(df).collect()
    }

    def tri(s):
        return {s[i : i + 3] for i in range(len(s) - 2)}

    reps = {}
    for i, n in enumerate(names):
        if len(n) >= 3 and (n not in reps or i < reps[n]):
            reps.setdefault(n, i)
    truth = {}
    items = sorted(reps.items(), key=lambda kv: kv[1])
    for i, (na, ra) in enumerate(items):
        for nb, rb in items[i + 1 :]:
            ta, tb = tri(na), tri(nb)
            inter = len(ta & tb)
            j = inter / (len(ta) + len(tb) - inter)
            if j >= FUZZY_JACCARD_T:
                truth[(min(ra, rb), max(ra, rb))] = round(j, 6)
    assert got == truth
