"""Random-corpus property pins for the OLDER subtle dedup oracles
(ngram Jaccard's df cap, the PPJoin prefix filter's completeness, the
containment join's per-doc top-N) — DuckDB-only, no Spark session.

The driver gate proves Spark == oracle on the shipped fixtures; these
prove the oracle SQL == the intended mathematics on ANY corpus, by
brute-force python recompute over hypothesis-generated documents. In
particular the prefix-filtering test asserts the completeness theorem
(no qualifying pair missed) against an implementation-free all-pairs
truth, which no fixture-based test can do."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vena_etl_tool_spark.operators.dedup import (
    CONT_PAIRS_PER_DOC,
    CONT_TAU_TENTHS,
    PPJOIN_T_MILLI,
    SHINGLE_DF_CAP,
)
from vena_etl_tool_spark.registry import all_specs

_SPECS = all_specs()

_VOCAB = ["aa", "ab", "ba", "bb", "ca"]

_doc = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=18).map(
    " ".join
)
_corpus = st.lists(_doc, min_size=1, max_size=14)
_clones = st.lists(
    st.tuples(st.integers(min_value=0, max_value=13), st.sampled_from(_VOCAB)),
    max_size=4,
)

# A hot-shingle corpus: enough tiny docs over a 2-token vocabulary that a
# shingle's document frequency can exceed SHINGLE_DF_CAP (= 100), so the
# cap semantics actually bind in some examples.
_hot_corpus = st.lists(
    st.lists(st.sampled_from(["aa", "ab"]), min_size=3, max_size=5).map(
        " ".join
    ),
    min_size=90,
    max_size=130,
)

_settings = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _run_oracle(name: str, texts: list[str]) -> list[tuple]:
    con = duckdb.connect()
    df = pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).astype(
        {"doc_id": "int64"}
    )
    con.register("documents", df)
    return [tuple(r) for r in con.execute(_SPECS[name].oracle).fetchall()]


def _capped_sets(texts: list[str]) -> dict[int, set[str]]:
    """df-capped distinct 3-gram shingle set per doc (docs with <3 words
    have no shingles; shingles in > SHINGLE_DF_CAP docs dropped)."""
    raw = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        raw[i] = (
            {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}
            if len(w) >= 3
            else set()
        )
    df = defaultdict(int)
    for s in raw.values():
        for g in s:
            df[g] += 1
    return {i: {g for g in s if df[g] <= SHINGLE_DF_CAP} for i, s in raw.items()}


def _build(texts, clones):
    out = list(texts)
    for idx, tok in clones:
        if idx < len(texts):
            out.append(texts[idx] + " " + tok)
    return out


def _check_ngram(texts: list[str]) -> None:
    got = {(r[0], r[1]): (r[2], r[3]) for r in _run_oracle("dedup_ngram_jaccard", texts)}
    sets = _capped_sets(texts)
    ids = sorted(sets)
    expected = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            if inter >= 2:
                uni = len(sets[da] | sets[db])
                expected[(da, db)] = (inter, inter / uni)
    assert set(got) == set(expected)
    for k, (inter, jac) in expected.items():
        assert got[k][0] == inter
        assert abs(got[k][1] - jac) <= 5e-7, (k, got[k], jac)


@given(texts=_corpus, clones=_clones)
@_settings
def test_ngram_jaccard_oracle_matches_brute_force(texts, clones):
    _check_ngram(_build(texts, clones))


@given(texts=_hot_corpus)
@settings(max_examples=8, deadline=None)
def test_ngram_jaccard_oracle_df_cap_binds(texts):
    _check_ngram(texts)


@given(texts=_corpus, clones=_clones)
@_settings
def test_prefix_filter_oracle_is_complete_and_exact(texts, clones):
    """The PPJoin completeness theorem, on arbitrary corpora: the oracle's
    prefix-indexed join must emit EXACTLY the pairs whose df-capped-set
    Jaccard clears t — computed here with no prefixes, no length filter,
    no candidate step (brute-force all pairs)."""
    texts = _build(texts, clones)
    got = {(r[0], r[1]): (r[2], r[3]) for r in _run_oracle("dedup_prefix_filter_join", texts)}
    sets = _capped_sets(texts)
    ids = sorted(sets)
    expected = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            uni = len(sets[da] | sets[db])
            if uni and inter * 1000 >= uni * PPJOIN_T_MILLI:
                expected[(da, db)] = (inter, inter / uni)
    assert set(got) == set(expected)
    for k, (inter, jac) in expected.items():
        assert got[k][0] == inter
        assert abs(got[k][1] - jac) <= 5e-7


@given(texts=_corpus, clones=_clones)
@_settings
def test_containment_oracle_matches_brute_force(texts, clones):
    texts = _build(texts, clones)
    got = {
        (r[0], r[1]): (r[2], r[3], r[4], r[5])
        for r in _run_oracle("dedup_containment", texts)
    }
    # reps: min doc_id per distinct text
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    rep_texts = {i: t for t, i in first.items()}
    sets_all = _capped_sets([texts[i] for i in sorted(rep_texts)])
    ids = sorted(rep_texts)
    sets = {ids[j]: sets_all[j] for j in range(len(ids))}
    cand = defaultdict(list)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            na, nb = len(sets[da]), len(sets[db])
            if inter and 10 * inter >= CONT_TAU_TENTHS * min(na, nb):
                cand[da].append((inter, db, na, nb))
    expected = {}
    for da, lst in cand.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for inter, db, na, nb in lst[:CONT_PAIRS_PER_DOC]:
            expected[(da, db)] = (
                inter,
                inter / na,
                inter / nb,
                "a_in_b" if na <= nb else "b_in_a",
            )
    assert set(got) == set(expected)
    for k, (inter, ca, cb, d) in expected.items():
        g = got[k]
        assert g[0] == inter and g[3] == d
        assert abs(g[1] - ca) <= 5e-7 and abs(g[2] - cb) <= 5e-7


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(texts=_corpus, clones=_clones)
@_settings
def test_levenshtein_oracle_matches_brute_force(texts, clones):
    """The blocked-Levenshtein semantics on arbitrary corpora: >= 3 shared
    capped shingles, byte-length band, DP edit distance (recomputed in
    python — a third Levenshtein implementation), ratio cutoff."""
    from vena_etl_tool_spark.operators.dedup import (
        LEV_MAX_LEN_GAP,
        LEV_MAX_RATIO,
        LEV_MIN_SHARED,
    )

    texts = _build(texts, clones)
    got = {(r[0], r[1]): (r[2], r[3]) for r in _run_oracle("dedup_levenshtein", texts)}
    sets = _capped_sets(texts)
    ids = sorted(sets)
    expected = {}
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            if len(sets[da] & sets[db]) < LEV_MIN_SHARED:
                continue
            ta, tb = texts[da], texts[db]
            if abs(len(ta) - len(tb)) > LEV_MAX_LEN_GAP:
                continue
            d = _levenshtein(ta, tb)
            ratio = d / max(len(ta), len(tb))
            if ratio <= LEV_MAX_RATIO:
                expected[(da, db)] = (d, ratio)
    assert set(got) == set(expected)
    for k, (d, ratio) in expected.items():
        assert got[k][0] == d
        assert abs(got[k][1] - ratio) <= 5e-7


@given(texts=_corpus, clones=_clones)
@_settings
def test_components_oracle_matches_union_find(texts, clones):
    """The recursive-CTE connected components (shared by
    dedup_cluster_assign and dedup_cluster_star_contract) on arbitrary
    graphs: edges = ngram pairs with inter >= 2 and Jaccard >= 0.5,
    components recomputed with python union-find, root = min reachable
    id, n_members, keep flag. Chains and cycles arise naturally from
    hypothesis clones."""
    texts = _build(texts, clones)
    got = sorted(
        tuple(r) for r in _run_oracle("dedup_cluster_assign", texts)
    )
    sets = _capped_sets(texts)
    ids = sorted(sets)
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = []
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            inter = len(sets[da] & sets[db])
            uni = len(sets[da] | sets[db])
            if inter >= 2 and uni and inter / uni >= 0.5:
                edges.append((da, db))
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {n: find(n) for n in parent}
    sizes = defaultdict(int)
    for r in roots.values():
        sizes[r] += 1
    expected = sorted(
        (n, r, sizes[r], n == r) for n, r in roots.items()
    )
    assert got == expected


def _minhash_expected(texts):
    """Pure-python recompute of the full MinHash-LSH oracle: md5-60bit
    shingle hashes, 32 fixed permutations, 8 bands of 4, bucket cap,
    candidate join, distinct-hash verify, rounded-Jaccard threshold."""
    import hashlib as _hl

    from vena_etl_tool_spark.operators.crosshash import (
        BAND_ROWS,
        MERSENNE,
        N_MINHASH,
        PERM_A as _A,
        PERM_B as _B,
    )
    from vena_etl_tool_spark.operators.dedup import LSH_MAX_BUCKET

    hsets = {}
    sizes = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        if len(w) < 3:
            continue
        shingles = {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}
        hs = {int(_hl.md5(s.encode()).hexdigest()[:15], 16) for s in shingles}
        hsets[i] = hs
        sizes[i] = len(shingles)
    sigs = {
        d: [
            min(((h & 2147483647) * _A[i] + _B[i]) % MERSENNE for h in hs)
            for i in range(N_MINHASH)
        ]
        for d, hs in hsets.items()
        if hs
    }
    buckets = defaultdict(list)
    for d, sig in sigs.items():
        for b in range(N_MINHASH // BAND_ROWS):
            key = ":".join(
                [str(b)] + [str(sig[b * BAND_ROWS + r]) for r in range(BAND_ROWS)]
            )
            buckets[(b, key)].append(d)
    cand = set()
    for members in buckets.values():
        if len(members) > LSH_MAX_BUCKET:
            continue
        ms = sorted(members)
        for x, da in enumerate(ms):
            for db in ms[x + 1 :]:
                cand.add((da, db))
    expected = {}
    for da, db in cand:
        inter = len(hsets[da] & hsets[db])
        jac = round(inter / (sizes[da] + sizes[db] - inter), 6)
        if jac >= 0.5:
            expected[(da, db)] = jac
    return expected


@given(texts=_corpus, clones=_clones)
@_settings
def test_minhash_lsh_oracle_matches_python(texts, clones):
    texts = _build(texts, clones)
    got = {(r[0], r[1]): r[2] for r in _run_oracle("dedup_minhash_lsh_pairs", texts)}
    expected = _minhash_expected(texts)
    assert set(got) == set(expected)
    for k, jac in expected.items():
        assert abs(got[k] - jac) <= 5e-7


@given(texts=_hot_corpus)
@settings(max_examples=5, deadline=None)
def test_minhash_lsh_oracle_bucket_cap_binds(texts):
    """On a clone-dense corpus, identical signatures pile >50 docs into
    one bucket and the cap must drop it on both engines identically."""
    got = {(r[0], r[1]): r[2] for r in _run_oracle("dedup_minhash_lsh_pairs", texts)}
    expected = _minhash_expected(texts)
    assert set(got) == set(expected)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                # marker tokens from several languages + noise, so argmax
                # ties and zero-score rows arise constantly
                ["the", "fast", "data", "row", "hash", "key",
                 "window", "spark", "table", "zz", "qq"]
            ),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=12,
    ),
    langs=st.lists(st.sampled_from(["en", "es", "de", "fr", "zh"]), min_size=12, max_size=12),
)
@_settings
def test_langid_oracle_matches_python(texts, langs):
    """The marker-count scores and the argmax TIE PRECEDENCE (en > es >
    de > fr > zh) — the classic cross-engine argmax hazard — recomputed
    in python on adversarial marker mixes (incl. all-zero scores, where
    every CASE arm ties and 'en' must win on both engines)."""
    from vena_etl_tool_spark.operators.textanalysis import LANG_MARKERS

    con = duckdb.connect()
    df = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": [langs[i % len(langs)] for i in range(len(texts))],
        }
    ).astype({"doc_id": "int64"})
    con.register("documents", df)
    got = sorted(
        tuple(r) for r in con.execute(_SPECS["text_langid"].oracle).fetchall()
    )
    order = ("en", "es", "de", "fr", "zh")
    expected = []
    for i, t in enumerate(texts):
        words = t.split(" ")
        s = {
            lang: sum(w in LANG_MARKERS[lang] for w in words) for lang in order
        }
        best = max(s.values())
        pred = next(lang for lang in order if s[lang] == best)
        expected.append(
            (i, langs[i % len(langs)], s["en"], s["es"], s["de"], s["fr"], s["zh"], pred)
        )
    assert got == sorted(expected)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(
                # words engineered to trip each gopher gate: stopwords,
                # symbol carriers, non-alpha, long/short lengths
                ["the", "a", "of", "to", "x", "##", "a...b",
                 "1word", "supercalifragilistic", "ab"]
            ),
            min_size=1,
            max_size=60,
        ).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@_settings
def test_gopher_rules_oracle_matches_python(texts):
    """Every Gopher gate recomputed in python — word-count bounds, the
    milli integer-division mean-word-length and symbol/alpha ratios at
    their exact boundaries, the >= 2 distinct stopword rule — then the
    (source, lang) rollup with n_pass_all as the product of gates."""
    from vena_etl_tool_spark.operators.textanalysis import _GOPHER_STOPWORDS

    con = duckdb.connect()
    df = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": [("en", "zh")[i % 2] for i in range(len(texts))],
            "source": [f"s{i % 2}" for i in range(len(texts))],
        }
    ).astype({"doc_id": "int64"})
    con.register("documents", df)
    got = sorted(
        tuple(r) for r in con.execute(_SPECS["text_gopher_rules"].oracle).fetchall()
    )
    agg = defaultdict(lambda: [0] * 7)
    for i, t in enumerate(texts):
        words = t.split(" ")
        n = len(words)
        sum_wlen = sum(len(w) for w in words)
        n_alpha = sum(1 for w in words if w[:1].isalpha() and w[:1].isascii())
        n_symbol = sum(1 for w in words if "#" in w or "..." in w)
        stop_hits = sum(s in words for s in _GOPHER_STOPWORDS)
        ok = [
            50 <= n <= 100000,
            3000 <= sum_wlen * 1000 // n <= 10000,
            n_symbol * 1000 // n <= 100,
            n_alpha * 1000 // n >= 800,
            stop_hits >= 2,
        ]
        row = agg[(f"s{i % 2}", ("en", "zh")[i % 2])]
        row[0] += 1
        for j, o in enumerate(ok):
            row[1 + j] += not o
        row[6] += all(ok)
    expected = sorted((src, lg, *vals) for (src, lg), vals in agg.items())
    assert got == expected


@given(ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True))
@_settings
def test_split_assign_oracle_matches_python(ids):
    """The content-addressed md5 split rule on arbitrary doc_ids — the
    cross-engine contract is md5 of the DECIMAL string of the id."""
    import hashlib as _hl

    con = duckdb.connect()
    df = pd.DataFrame(
        {
            "doc_id": ids,
            "text": ["t"] * len(ids),
            "lang": [("en", "fr")[i % 2] for i in range(len(ids))],
        }
    ).astype({"doc_id": "int64"})
    con.register("documents", df)
    got = sorted(
        tuple(r) for r in con.execute(_SPECS["dataset_split_assign"].oracle).fetchall()
    )
    agg = defaultdict(int)
    for i, d in enumerate(ids):
        h = _hl.md5(str(d).encode()).hexdigest()[0]
        split = "train" if h in "0123456789ab" else ("val" if h in "cd" else "test")
        agg[(split, ("en", "fr")[i % 2])] += 1
    expected = sorted((s, lg, n) for (s, lg), n in agg.items())
    assert got == expected


@given(texts=_corpus, clones=_clones)
@_settings
def test_repetition_ratio_oracle_matches_python(texts, clones):
    """Duplicate-bigram fraction + top-bigram share recomputed in python
    (positional bigrams, NOT distinct — repetition is the signal here);
    one-word docs must be absent from the output on both sides."""
    texts = _build(texts, clones)
    got = {r[0]: r[1:] for r in _run_oracle("text_repetition_ratio", texts)}
    expected = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        if len(w) < 2:
            continue
        from collections import Counter

        cnt = Counter(" ".join(w[j : j + 2]) for j in range(len(w) - 1))
        n = sum(cnt.values())
        expected[i] = (n, len(cnt), 1.0 - len(cnt) / n, max(cnt.values()) / n)
    assert set(got) == set(expected)
    for k, (n, d, dup, top) in expected.items():
        g = got[k]
        assert (g[0], g[1]) == (n, d)
        assert abs(g[2] - dup) <= 5e-7 and abs(g[3] - top) <= 5e-7


@given(
    texts=st.lists(
        # tiny vocabulary + long docs so term frequencies span several
        # power-of-two bands and sit exactly ON band edges (freq = 2^b)
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40).map(
            " ".join
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_zipf_buckets_oracle_matches_python(texts):
    from vena_etl_tool_spark.operators.textanalysis import ZIPF_MAX_BAND

    con = duckdb.connect()
    df = pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).astype(
        {"doc_id": "int64"}
    )
    con.register("documents", df)
    got = sorted(
        tuple(r) for r in con.execute(_SPECS["text_zipf_buckets"].oracle).fetchall()
    )
    from collections import Counter

    tf = Counter(w for t in texts for w in t.split(" ") if w != "")
    total = sum(tf.values())

    def band(f):
        for b in range(ZIPF_MAX_BAND):
            if f < (1 << (b + 1)):
                return b
        return ZIPF_MAX_BAND

    agg = defaultdict(list)
    for term, f in tf.items():
        agg[band(f)].append(f)
    expected = sorted(
        (b, len(fs), sum(fs), min(fs), max(fs), sum(fs) * 1_000_000 // total)
        for b, fs in agg.items()
    )
    assert got == expected
