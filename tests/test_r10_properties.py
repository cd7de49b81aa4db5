"""Property-based checks for the round-10 operator internals: the
prefix-filtering theorem, MaxSim vs a numpy reference, LWW sequence-guard
algebra, and k-core peeling vs a pure-python reference — each run over
hypothesis-generated inputs so the guarantees hold for ANY data, not just
the fixtures."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# corpora of small token sets drawn from a tiny alphabet so collisions,
# clones, and near-dups all occur
_tokens = st.lists(
    st.sampled_from("abcdefgh"), min_size=1, max_size=6, unique=True
)
_corpus = st.lists(_tokens, min_size=2, max_size=12)


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


@given(corpus=_corpus)
@_settings
def test_prefix_filter_theorem_on_random_sets(spark, corpus):
    """For ANY corpus: the rarest-first prefix index (len - ceil(t*len) + 1
    per set) finds every pair with Jaccard >= t — the guarantee
    dedup_prefix_filter_join rests on, checked against brute force."""
    t_milli = 500
    sets = [frozenset(toks) for toks in corpus]
    # global df order (df, token) — the operator's total order
    df_count: dict[str, int] = {}
    for s in sets:
        for tok in s:
            df_count[tok] = df_count.get(tok, 0) + 1
    truth = {
        (i, j)
        for i, j in itertools.combinations(range(len(sets)), 2)
        if _jaccard(sets[i], sets[j]) * 1000 >= t_milli
    }

    def prefix(s: frozenset) -> list[str]:
        n = len(s)
        plen = n - math.ceil(t_milli * n / 1000) + 1
        ordered = sorted(s, key=lambda tok: (df_count[tok], tok))
        return ordered[:plen]

    candidates = {
        (i, j)
        for i, j in itertools.combinations(range(len(sets)), 2)
        if set(prefix(sets[i])) & set(prefix(sets[j]))
    }
    assert truth <= candidates  # completeness: no qualifying pair escapes


@given(
    vecs=st.lists(
        st.lists(
            # dense like real embeddings: |x| >= 0.1 so every SUB-vector
            # norm survives the 1e-12 scaled-int floor (an all-zero
            # slice would divide by zero, which real embeddings and the
            # fixtures never produce)
            st.floats(min_value=0.125, max_value=2.0, allow_nan=False).flatmap(
                lambda m: st.sampled_from([m, -m])
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=3,
        max_size=6,
    )
)
@_settings
def test_maxsim_matches_numpy_reference(spark, vecs):
    """The Spark MaxSim expression (scaled-int dots, greatest, fixed-order
    sum) equals the straightforward numpy late-interaction score on
    random vectors, to scaled-int granularity."""
    SUBV, DIM = 2, 4  # 8 dims -> 2 sub-vectors of 4

    def dot_exact_py(a, b):
        return sum(math.floor(float(x) * float(y) * 1e12) for x, y in zip(a, b)) / 1e12

    def maxsim_py(q, c):
        total = 0.0
        for i in range(SUBV):
            qs = q[i * DIM : (i + 1) * DIM]
            qn = math.sqrt(dot_exact_py(qs, qs))
            best = -float("inf")
            for j in range(SUBV):
                cs = c[j * DIM : (j + 1) * DIM]
                cn = math.sqrt(dot_exact_py(cs, cs))
                best = max(best, dot_exact_py(qs, cs) / (qn * cn))
            total += best
        return total

    from vena_etl_tool_spark.operators.exact import dot_exact

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vid long, embedding array<double>",
    )
    sub = df.select(
        "vid",
        *[F.slice("embedding", s * DIM + 1, DIM).alias(f"s{s}") for s in range(SUBV)],
    )
    for s in range(SUBV):
        sub = sub.withColumn(f"n{s}", F.sqrt(dot_exact(F.col(f"s{s}"), F.col(f"s{s}"))))
    q = sub.select(
        F.col("vid").alias("qid"),
        *[F.col(f"s{s}").alias(f"qs{s}") for s in range(SUBV)],
        *[F.col(f"n{s}").alias(f"qn{s}") for s in range(SUBV)],
    )
    pairs = sub.crossJoin(F.broadcast(q))
    # corpus-side sub-vectors keep their s{j}/n{j} names in `pairs`
    maxes = [
        F.greatest(
            *[
                dot_exact(F.col(f"qs{qi}"), F.col(f"s{cj}"))
                / (F.col(f"qn{qi}") * F.col(f"n{cj}"))
                for cj in range(SUBV)
            ]
        )
        for qi in range(SUBV)
    ]
    score = maxes[0]
    for m in maxes[1:]:
        score = score + m
    got = {
        (r.qid, r.vid): r.score
        for r in pairs.select("qid", "vid", score.alias("score")).collect()
    }
    for qi, qv in enumerate(vecs):
        for ci, cv in enumerate(vecs):
            expect = maxsim_py([float(x) for x in qv], [float(x) for x in cv])
            assert abs(got[(qi, ci)] - expect) < 1e-9, (qi, ci)


_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # user
        st.integers(min_value=0, max_value=50),  # ts
        st.integers(min_value=0, max_value=999),  # event id (seq tiebreak)
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=100),  # value
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda e: (e[1], e[2]),  # unique (ts, id) -> total seq order
)


@given(events=_events, nsplits=st.integers(min_value=1, max_value=4))
@_settings
def test_sequence_guarded_lww_is_split_invariant(events, nsplits):
    """Pure algebra behind stream_merge_cow_sink: applying per-batch LWW
    deltas under the (ts, id) sequence guard converges to the global LWW
    state for ANY partition of the log into batches, in ANY batch order."""
    def global_lww(evts):
        state = {}
        for u, ts, eid, op, val in evts:
            cur = state.get(u)
            if cur is None or (ts, eid) > cur[0]:
                state[u] = ((ts, eid), op, val)
        return state

    expect = global_lww(events)
    # adversarial split: round-robin slices, applied in REVERSED order
    # (time-shuffled batches — the out-of-order arrival worst case)
    batches = [events[i::nsplits] for i in range(nsplits)]
    state: dict = {}
    for batch in reversed(batches):
        for u, (seq, op, val) in global_lww(batch).items():
            cur = state.get(u)
            if cur is None or seq > cur[0]:
                state[u] = (seq, op, val)
    assert state == expect


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ).filter(lambda e: e[0] < e[1]),
        min_size=0,
        max_size=25,
        unique=True,
    )
)
@_settings
def test_kcore_rounds_reach_fixpoint_reference(edges):
    """Reference semantics of the bounded peel: each round's survivors are
    exactly the degree>=K nodes of the entering edge set, rounds shrink
    monotonically, and once two consecutive rounds agree the trajectory
    has reached the true k-core."""
    K, ROUNDS = 3, 6

    def peel(es):
        deg: dict[int, int] = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        surv = {n for n, d in deg.items() if d >= K}
        return {(a, b) for a, b in es if a in surv and b in surv}, surv

    cur = set(edges)
    traj = []
    for _ in range(ROUNDS):
        cur, surv = peel(cur)
        traj.append((len(surv), len(cur)))
    for a, b in zip(traj, traj[1:]):
        assert b[0] <= a[0] and b[1] <= a[1]
    # fixpoint: the k-core of the final edge set is itself
    final_edges, final_surv = peel(cur)
    if traj[-1] == traj[-2]:
        assert final_edges == cur
