"""Text analysis for training-data pipelines (SURVEY.md §B.11):
token counting, quality scoring, language-ID heuristic, fingerprinting,
word frequencies.

Everything is built-in expression work (split / explode / regexp / groupBy)
— whole-stage codegen, no Python. Each query is a single scan + at most one
shuffle, so the plans are 100 TB-shaped by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..registry import register
from ._shared import spread_small
from .crosshash import (
    SPLIT_CASE_SQL,
    duck_band_ctes,
    duck_md5_int,
    duck_minhash_mins,
    md5_int,
    spark_md5_int,
    split_assign_col,
)

# tiny deterministic stopword list used by the quality score
STOPWORDS = ("the", "a", "of", "and", "to", "in")
# deterministic marker tokens per language for the lang-id heuristic
LANG_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "query", "row"),
    "de": ("hash", "key", "batch"),
    "fr": ("window", "order", "group"),
    "zh": ("spark", "table", "line"),
}


@register(
    "text_token_stats",
    tags=("llm", "text"),
    oracle="""
SELECT
  doc_id,
  lang,
  len(string_split(text, ' ')) AS n_tokens,
  len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
  length(text) AS n_chars_computed,
  n_chars,
  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')), 6) AS ttr
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization: token count, unique count, type-token
    ratio; cross-checks the fixture's n_chars."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        "lang",
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_unique_tokens"),
        F.length("text").alias("n_chars_computed"),
        "n_chars",
        F.round(
            F.size(F.array_distinct(words)).cast("double") / F.size(words), 6
        ).alias("ttr"),
    )


@register(
    "text_bpe_token_estimate",
    tags=("llm", "text"),
    oracle="""
SELECT
  doc_id,
  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_ish,
  CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS n_char4_estimate
FROM documents
""",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count estimation with a BPE-ish regex (letter runs / digit
    runs / single punctuation) plus the chars/4 heuristic LLM pipelines
    use for budget estimates."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))).alias(
            "n_bpe_ish"
        ),
        F.ceil(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / 4.0)
        .cast("long")
        .alias("n_char4_estimate"),
    )


@register(
    "text_quality_score",
    tags=("llm", "text", "quality"),
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text,
         string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
)
SELECT
  doc_id, lang, n_tok,
  ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tok, 6) AS avg_word_len,
  ROUND(CAST(len(list_filter(words, w -> list_contains({list(STOPWORDS)!r}, w))) AS DOUBLE)
        / n_tok, 6) AS stopword_ratio,
  ROUND(CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        / length(text), 6) AS punct_ratio,
  (n_tok BETWEEN 20 AND 1000) AND
    (CAST(len(list_distinct(words)) AS DOUBLE) / n_tok > 0.2) AS quality_pass
FROM t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: average word length, stopword ratio,
    punctuation ratio, and a pass/fail gate (length band + lexical
    diversity) — the standard pre-training corpus filters."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_tok, 6
        ).alias("avg_word_len"),
        F.round(
            F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double")
            / n_tok,
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
            / F.length("text"),
            6,
        ).alias("punct_ratio"),
        (
            n_tok.between(20, 1000)
            & (F.size(F.array_distinct(words)).cast("double") / n_tok > 0.2)
        ).alias("quality_pass"),
    )


def _langid_score_sql(lang: str) -> str:
    toks = LANG_MARKERS[lang]
    return (
        f"len(list_filter(string_split(text, ' '), w -> list_contains({list(toks)!r}, w)))"
    )


@register(
    "text_langid",
    tags=("llm", "text", "langid"),
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang,
         {_langid_score_sql('en')} AS s_en,
         {_langid_score_sql('es')} AS s_es,
         {_langid_score_sql('de')} AS s_de,
         {_langid_score_sql('fr')} AS s_fr,
         {_langid_score_sql('zh')} AS s_zh
  FROM documents
)
SELECT doc_id, lang AS actual_lang, s_en, s_es, s_de, s_fr, s_zh,
       CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
         WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_de THEN 'de'
         WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
FROM scores
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: score each language by marker
    hits, argmax with a fixed precedence order for ties. (The fixture's
    text is synthetic word soup, so the *operator* — per-language scoring
    + deterministic argmax — is what's under test, not model quality.)"""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scores = {}
    for lang, toks in LANG_MARKERS.items():
        arr = F.array(*[F.lit(t) for t in toks])
        scores[lang] = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[scores[lang].alias(f"s_{lang}") for lang in ("en", "es", "de", "fr", "zh")],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in ("en", "es", "de", "fr", "zh")])
    predicted = (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_de") == best, "de")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    return scored.withColumn("predicted_lang", predicted)


@register(
    "text_wordfreq_topk",
    tags=("llm", "text", "topk"),
    oracle="""
SELECT tok, n, rk FROM (
  SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
  FROM (
    SELECT tok, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
  )
)
WHERE rk <= 20
""",
)
def text_wordfreq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (explode → count → top-k).
    Partial aggregation collapses each task to its local vocabulary before
    the shuffle, so the exchange is vocabulary-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
        .withColumn("rk", F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("tok"))))
    )


@register(
    "text_chunk_windows",
    tags=("llm", "text", "chunking"),
    oracle="""
SELECT doc_id, chunk_idx,
       array_to_string(words[(chunk_idx * 5 + 1):(chunk_idx * 5 + 10)], ' ') AS chunk_text
FROM (
  SELECT doc_id, string_split(text, ' ') AS words,
         unnest(range(0, CAST(ceil((len(string_split(text, ' ')) - 5) / 5.0) AS BIGINT))) AS chunk_idx
  FROM documents
  WHERE len(string_split(text, ' ')) >= 10
)
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (10-token windows, stride 5) — the
    context-window preparation op for LLM training data, as a pure
    builtin-expression plan (sequence → transform → explode)."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil((F.size(F.col("words")) - 5) / 5.0).cast("long")
    chunks = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .filter(F.size("words") >= 10)
        .select(
            "doc_id",
            F.col("words"),
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
        )
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(
            " ", F.slice(F.col("words"), (F.col("chunk_idx") * 5 + 1).cast("int"), 10)
        ).alias("chunk_text"),
    )


@register(
    "udtf_chunk_text",
    tags=("llm", "text", "udtf"),
    oracle="""
SELECT doc_id, chunk_idx,
       array_to_string(words[(chunk_idx * 5 + 1):(chunk_idx * 5 + 10)], ' ') AS chunk_text,
       n_chars AS orig_chars
FROM (
  SELECT doc_id, n_chars, string_split(text, ' ') AS words,
         unnest(range(0, CAST(ceil((len(string_split(text, ' ')) - 5) / 5.0) AS BIGINT))) AS chunk_idx
  FROM documents
  WHERE len(string_split(text, ' ')) >= 10
)
""",
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same chunker as a real Python UDTF (SURVEY §B.10's table
    function row): one input row → N output rows from imperative code.
    Exists for API-surface parity; the builtin-expression version above is
    the production path (JVM-side, no Python). The imperative chunk loop
    is deterministic arithmetic, so the DuckDB window-slice twin verifies
    the UDTF end-to-end — a Python table function is not exempt from the
    oracle gate just for being Python."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_doc_id: bigint, chunk_idx: bigint, chunk_text: string")
    class ChunkText:
        def eval(self, doc_id: int, text: str, window: int, stride: int):
            words = text.split(" ")
            if len(words) < window:
                return
            idx = 0
            for start in range(0, len(words) - stride, stride):
                yield doc_id, idx, " ".join(words[start : start + window])
                idx += 1

    docs = load_table(spark, sf_dir, "documents")
    return docs.lateralJoin(
        ChunkText(F.col("doc_id").outer(), F.col("text").outer(), lit(10), lit(5))
    ).select(
        F.col("chunk_doc_id").alias("doc_id"),
        "chunk_idx",
        "chunk_text",
        F.col("n_chars").alias("orig_chars"),
    )


@register(
    "dataset_split_assign",
    tags=("llm", "text", "splitting"),
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, lang, {SPLIT_CASE_SQL} AS split
  FROM documents
)
SELECT split, lang, COUNT(*) AS n
FROM assigned
GROUP BY split, lang
""",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed train/val/test split (~75/12.5/12.5 by md5 first
    hex digit of the stable id). THE deterministic splitting pattern for
    training corpora: no RNG state, stable under re-partitioning and
    re-runs, reproducible across engines — md5 is the cross-engine
    contract (vs seeded rand(), which is partitioning-dependent).
    The rule itself is ``crosshash.split_assign_col``, shared with the
    curation pipelines and the dataset_split_leakage audit so they cannot
    drift."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(split_assign_col().alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprint",
    tags=("llm", "text", "fingerprint"),
    oracle="""
SELECT
  doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
  md5(text) AS exact_hash
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprint (sorted distinct token bag → md5): robust
    to token order/duplication, the classic fuzzy-dedup key; plus the
    exact content hash."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.sort_array(F.array_distinct(F.split("text", " "))))
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fingerprint"),
        F.md5("text").alias("exact_hash"),
    )


_CUR_LANGS = ("en", "es", "de", "fr", "zh")


@register(
    "corpus_curation_pipeline",
    tags=("llm", "text", "dedup", "quality", "splitting", "pipeline"),
    oracle=f"""
WITH dedup AS (
  SELECT doc_id, lang, text
  FROM documents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
), feats AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS words,
         len(string_split(text, ' ')) AS n_tok,
         {_langid_score_sql('en')} AS s_en,
         {_langid_score_sql('es')} AS s_es,
         {_langid_score_sql('de')} AS s_de,
         {_langid_score_sql('fr')} AS s_fr,
         {_langid_score_sql('zh')} AS s_zh
  FROM dedup
), gated AS (
  SELECT doc_id, n_tok,
         CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
           WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_de THEN 'de'
           WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang
  FROM feats
  WHERE n_tok BETWEEN 20 AND 1000
    AND CAST(len(list_distinct(words)) AS DOUBLE) / n_tok > 0.2
)
SELECT split, predicted_lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
FROM (
  SELECT *, {SPLIT_CASE_SQL} AS split
  FROM gated
)
GROUP BY split, predicted_lang
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the composite pipeline a
    pre-training data job actually runs, as ONE declarative plan:

      exact dedup (keep lowest doc_id per text)
        → quality gate (20 ≤ tokens ≤ 1000, lexical diversity > 0.2)
        → language ID (marker-token argmax)
        → content-addressed train/val/test split (md5 of doc_id)
        → per-(split, language) doc/token accounting

    Each stage reuses the registered single-op semantics (dedup_exact,
    text_quality_score, text_langid, dataset_split_assign), so this row
    proves the operators COMPOSE — Catalyst fuses the gates and scores
    into the post-dedup projection: the plan is scan → one text shuffle
    (dedup window) → codegen'd filters/scores → one partial+final
    aggregate. No Python anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    dedup_w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        docs.select("doc_id", "text")
        .withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    words = F.split("text", " ")
    n_tok = F.size(words)
    scores = {}
    for lang in _CUR_LANGS:
        arr = F.array(*[F.lit(t) for t in LANG_MARKERS[lang]])
        scores[lang] = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
    feats = kept.select(
        "doc_id",
        n_tok.alias("n_tok"),
        (F.size(F.array_distinct(words)).cast("double") / n_tok).alias("_diversity"),
        *[scores[lang].alias(f"s_{lang}") for lang in _CUR_LANGS],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in _CUR_LANGS])
    predicted = (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_es") == best, "es")
        .when(F.col("s_de") == best, "de")
        .when(F.col("s_fr") == best, "fr")
        .otherwise("zh")
    )
    gated = (
        feats.filter(F.col("n_tok").between(20, 1000) & (F.col("_diversity") > 0.2))
        .withColumn("predicted_lang", predicted)
    )
    split = split_assign_col()
    return (
        gated.select(split.alias("split"), "predicted_lang", "n_tok")
        .groupBy("split", "predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


@register(
    "text_redact",
    tags=("llm", "text", "redaction"),
    oracle="""
SELECT doc_id,
       len(regexp_extract_all(text, '[0-9]{3,}'))     AS n_num_redactions,
       len(regexp_extract_all(text, '[a-z]{12,}'))    AS n_long_redactions,
       regexp_replace(regexp_replace(text, '[0-9]{3,}', '[NUM]', 'g'),
                      '[a-z]{12,}', '[TOKEN]', 'g')   AS scrubbed_prefix_src,
       length(regexp_replace(regexp_replace(text, '[0-9]{3,}', '[NUM]', 'g'),
                             '[a-z]{12,}', '[TOKEN]', 'g')) AS scrubbed_len
FROM documents
""",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern redaction — the scrubbing pass a training-data pipeline runs
    before anything ships: long digit runs → [NUM], very long lowercase
    tokens → [TOKEN] (stand-ins for the PII/secret patterns — account
    numbers, keys — a production rule pack would carry; the operator shape
    is the rule pack applied via builtin regexp_replace, zero Python).
    Patterns are chosen from the regex subset with identical Java/RE2
    semantics so the DuckDB twin is exact. Emits per-doc redaction counts
    (the audit record) and the scrubbed text + its length."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", "[0-9]{3,}", "[NUM]"), "[a-z]{12,}", "[TOKEN]"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]{3,}"))).alias("n_num_redactions"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{12,}"))).alias("n_long_redactions"),
        scrubbed.alias("scrubbed_prefix_src"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


SALIENCE_TOP_K = 3


@register(
    "text_term_salience",
    tags=("llm", "text", "tfidf"),
    oracle=f"""
WITH tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY doc_id, w
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / df.df) AS salience
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, ROUND(salience, 6) AS salience, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY salience DESC, term) AS rk
  FROM scored
)
WHERE rk <= {SALIENCE_TOP_K}
""",
)
def text_term_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic-term extraction per document — tf·idf-shaped
    keyword scoring: term frequency × inverse document frequency as the
    exact rational tf·(N/df) (no ln(): logarithms differ by ULPs across
    engines and would break the hash gate; the RANKING a keyword
    extractor needs is identical since ln is monotone). Top-K terms per
    doc via a window.

    Plan: one explode + two hash aggregates (tf by (doc, term), df by
    term) + a broadcast-sized df join — the df table is vocabulary-sized,
    *not* corpus-sized, so at 100 TB the join is the small side and the
    heavy exchanges are the two aggregates over exploded tokens."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N as a broadcast scalar INSIDE the plan (single-row cross join), not a
    # driver-side docs.count() action — keeps the whole query one job and
    # avoids a separate corpus pass at 100 TB.
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "salience",
            F.col("tf").cast("double") * (F.col("n_docs") / F.col("df")),
        )
        .drop("n_docs")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("salience").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SALIENCE_TOP_K)
        .select("doc_id", "term", F.round("salience", 6).alias("salience"), "rk")
    )


# Sequence packing (GPT-style pretraining data prep): documents are
# concatenated in a deterministic order with a separator token and chunked
# into fixed-length training sequences. Packing runs WITHIN each `source`
# shard — at 100 TB a global concatenation order would mean one global
# sort, while per-shard windows partition cleanly (one exchange on
# `source`, AQE-splittable); shards are independently packable by design.
PACK_SEQ_LEN = 512


def _pack_offsets(docs: DataFrame) -> DataFrame:
    """Per-doc token counts and concatenation offsets within each source."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # +1: separator token appended after every document
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return toks.withColumn(
        "end_off", F.sum(F.col("n_tokens") + 1).over(w)
    ).withColumn("start_off", F.col("end_off") - (F.col("n_tokens") + 1))


@register(
    "dataset_pack_sequences",
    tags=("llm", "packing", "window"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS end_off
  FROM toks
)
SELECT doc_id, source, n_tokens,
       end_off - (n_tokens + 1) AS start_off,
       (end_off - (n_tokens + 1)) // {PACK_SEQ_LEN} AS first_seq,
       (end_off - 1) // {PACK_SEQ_LEN} AS last_seq,
       (end_off - 1) // {PACK_SEQ_LEN}
         - (end_off - (n_tokens + 1)) // {PACK_SEQ_LEN} + 1 AS n_seqs
FROM offs
""",
)
def dataset_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc → training-sequence assignment for concat-and-chunk packing
    ({PACK_SEQ_LEN}-token sequences, whitespace tokenizer, one separator
    token between docs). Output maps every document to its byte-exact
    [first_seq, last_seq] span — the record a dataloader needs to locate
    any document inside the packed corpus. One window over (source,
    doc_id); no shuffle beyond the per-shard partition exchange."""
    docs = load_table(spark, sf_dir, "documents")
    offs = _pack_offsets(docs)
    L = PACK_SEQ_LEN
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_off",
        # integer `div`, not floor(x / L): double division loses exactness
        # past 2^53 cumulative offsets; the oracle uses DuckDB's `//`.
        F.expr(f"start_off div {L}").alias("first_seq"),
        F.expr(f"(end_off - 1) div {L}").alias("last_seq"),
        F.expr(f"(end_off - 1) div {L} - start_off div {L} + 1").alias("n_seqs"),
    )


@register(
    "dataset_pack_stats",
    tags=("llm", "packing", "aggregate"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens + 1) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS end_off
  FROM toks
),
spans AS (
  SELECT doc_id, source,
         (end_off - (n_tokens + 1)) // {PACK_SEQ_LEN} AS first_seq,
         (end_off - 1) // {PACK_SEQ_LEN} AS last_seq
  FROM offs
)
SELECT source, CAST(seq_id AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
       COUNT(CASE WHEN seq_id > first_seq THEN 1 END) AS n_continuation_docs
FROM spans, UNNEST(range(first_seq, last_seq + 1)) AS t(seq_id)
GROUP BY source, seq_id
""",
)
def dataset_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing stats: how many documents each packed
    {PACK_SEQ_LEN}-token sequence draws from, and how many of those are
    continuations (docs that started in an earlier sequence) — the
    attention-masking metadata a packed-pretraining dataloader consumes.
    The doc→seq span explode is bounded (a doc spans ⌈tokens/L⌉+1 seqs),
    then one aggregate on (source, seq_id)."""
    docs = load_table(spark, sf_dir, "documents")
    offs = _pack_offsets(docs)
    L = PACK_SEQ_LEN
    spans = offs.select(
        "doc_id",
        "source",
        # integer `div` to match the oracle's `//` exactly at any offset
        F.expr(f"start_off div {L}").alias("first_seq"),
        F.expr(f"(end_off - 1) div {L}").alias("last_seq"),
    )
    return (
        spans.select(
            "doc_id",
            "source",
            "first_seq",
            F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("seq_id") > F.col("first_seq"), 1)).alias(
                "n_continuation_docs"
            ),
        )
    )


@register(
    "text_repetition_ratio",
    tags=("llm", "text", "quality"),
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i+1])) AS bg
  FROM w WHERE len(words) >= 2
),
cnt AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY doc_id, bg)
SELECT doc_id,
       CAST(SUM(n) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_distinct_bigrams,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS dup_bigram_ratio,
       ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_bigram_share
FROM cnt GROUP BY doc_id
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family): duplicate-bigram fraction and most-frequent-bigram share per
    document — high values flag boilerplate/spam for corpus filtering.
    One explode + two hash aggregates, the second on doc_id only; the
    exchange carries (doc, bigram) partial counts, never raw text."""
    docs = load_table(spark, sf_dir, "documents")
    # split once into a named array column; the transform then does O(1)
    # element_at lookups (inlining split(text) into the lambda re-splits
    # the text per bigram — 3.2 s → 1.3 s at sf0.1). No spread_small: the
    # repartition would shuffle raw text and costs more than the skinny
    # (doc_id, bigram) exchange it would parallelize.
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
    )
    bg = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
    )
    cnt = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    return cnt.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.round(1.0 - F.count(F.lit(1)).cast("double") / F.sum("n"), 6).alias(
            "dup_bigram_ratio"
        ),
        F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_bigram_share"),
    )


@register(
    "text_contamination_check",
    tags=("llm", "text", "dedup"),
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
tri AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 1),
                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS tg
  FROM w WHERE len(words) >= 3
),
bench AS (SELECT DISTINCT tg FROM tri WHERE doc_id % 100 = 0),
train AS (SELECT doc_id, tg FROM tri WHERE doc_id % 100 <> 0)
SELECT t.doc_id, COUNT(*) AS n_shared_trigrams,
       COUNT(*) >= 5 AS contaminated
FROM train t JOIN bench b ON t.tg = b.tg
GROUP BY t.doc_id
""",
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥5
    distinct 3-grams with a held-out benchmark set (here: every 100th doc,
    a deterministic stand-in for an eval suite). The join is n-gram ⋈
    n-gram — the benchmark side is tiny and broadcast, so at 100 TB this
    is one map-side join over the exploded training n-grams, the same
    shape real decontamination pipelines use."""
    docs = load_table(spark, sf_dir, "documents")
    tri = doc_trigram_sets(docs)
    bench = (
        tri.filter(F.col("doc_id") % 100 == 0).select("tg").distinct()
    )
    train = tri.filter(F.col("doc_id") % 100 != 0)
    return (
        train.join(F.broadcast(bench), "tg")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_trigrams"))
        .withColumn("contaminated", F.col("n_shared_trigrams") >= 5)
    )


def doc_trigram_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, tg) distinct word-trigram rows — shared by contamination
    and dedup shapes."""
    from .dedup import word_shingles

    words = F.split("text", " ")
    return (
        docs.select("doc_id", words.alias("w"))
        .filter(F.size("w") >= 3)
        .select("doc_id", F.explode(word_shingles(F.col("w"))).alias("tg"))
    )


@register(
    "dataset_mixture_weights",
    tags=("llm", "sampling", "aggregate"),
    oracle="""
WITH per_domain AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_domains FROM per_domain)
SELECT lang, source, n_docs, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS actual_share,
       ROUND(1.0 / n_domains, 6) AS target_share,
       ROUND((1.0 / n_domains) / (CAST(n_tokens AS DOUBLE) / total_tokens), 6)
         AS sampling_weight
FROM per_domain, tot
""",
)
def dataset_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per (lang, source) token mass and the
    sampling weight that rebalances the corpus to a uniform target
    mixture (weight = target_share / actual_share — the multiplier a
    sampler applies per domain). One aggregate over the corpus plus a
    1-row broadcast of the totals; domain count is small by construction
    so the weight table itself is broadcast-sized downstream."""
    docs = load_table(spark, sf_dir, "documents")
    per_domain = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    tot = per_domain.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    actual = F.col("n_tokens").cast("double") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_domains")
    return (
        per_domain.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            F.round(actual, 6).alias("actual_share"),
            F.round(target, 6).alias("target_share"),
            F.round(target / actual, 6).alias("sampling_weight"),
        )
    )


def _flagship_oracle() -> str:
    """Composed DuckDB twin of the flagship pipeline: every stage mirrors
    a fragment already proven on its single-operator query (exact-dedup
    window, md5-h60 minhash + banding + capped buckets + Jaccard verify,
    quality gate, md5 split, packing arithmetic)."""
    from .dedup import LSH_MAX_BUCKET

    L = PACK_SEQ_LEN
    return f"""
WITH valid AS (
  SELECT doc_id, source, text FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), kept AS (
  SELECT doc_id, source, text FROM valid
  QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
), kw AS (SELECT doc_id, string_split(text, ' ') AS words FROM kept),
shl AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
  )) AS sh
  FROM kw WHERE len(words) >= 3
),
h AS (SELECT doc_id, {duck_md5_int("sh")} AS h FROM shl),
mins AS (
  SELECT doc_id,
         {duck_minhash_mins("h")}
  FROM h GROUP BY doc_id
),
{duck_band_ctes("mins", "bf", LSH_MAX_BUCKET)},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bf a JOIN bf b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shl GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(DISTINCT ha.h) AS inter
  FROM cand c
  JOIN h ha ON ha.doc_id = c.doc_a
  JOIN h hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
  GROUP BY c.doc_a, c.doc_b
),
drops AS (
  SELECT DISTINCT i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE ROUND(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) >= 0.5
),
survivors AS (
  SELECT k.doc_id, k.source, k.text FROM kept k
  LEFT JOIN drops d ON k.doc_id = d.doc_b WHERE d.doc_b IS NULL
),
gated AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok
  FROM survivors
  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        / len(string_split(text, ' ')) > 0.2
),
assigned AS (
  SELECT source, n_tok, {SPLIT_CASE_SQL} AS split
  FROM gated
)
SELECT split, source, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       (CAST(SUM(n_tok + 1) AS BIGINT) - 1) // {L} + 1 AS n_sequences
FROM assigned
GROUP BY split, source
"""


@register(
    "pipeline_pretrain_flagship",
    tags=("llm", "pipeline", "dedup", "quality", "packing", "splitting"),
    oracle=_flagship_oracle(),
)
def pipeline_pretrain_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: the full pre-training corpus build as one declarative
    plan — the engine's analog of the reference's whole upload path
    (validate → transform → submit, /root/reference/import.js:86-115),
    re-expressed as what a 100 TB training-data job actually runs:

      quarantine gate (null/blank text)
        → exact dedup (keep lowest doc_id per text)
        → MinHash-LSH near-dup removal (md5-h60 perms, banded candidates,
          hot-bucket cap LSH_MAX_BUCKET, exact-Jaccard ≥ 0.5 verify;
          drop the higher doc of each verified pair)
        → quality gate (20 ≤ tokens ≤ 1000, lexical diversity > 0.2)
        → content-addressed train/val/test split (md5 of doc_id)
        → packed-sequence accounting per (split, source)

    Every stage reuses a single-operator fragment that is independently
    oracle-verified (dedup_exact, dedup_minhash_lsh_pairs,
    corpus_curation_pipeline, dataset_pack_stats), so this row proves the
    operators COMPOSE without drift.

    Shuffle audit (sf0.01 plan, AQE on): stage boundaries are the exact
    dedup's text-partition window, the shingle→signature aggregate, the
    band-bucket window + self-join (one exchange, reused both sides), the
    pair-verify id joins, the anti-join (broadcast at fixture size; AQE
    decides at scale), and ONE final partial+final aggregate. No stage
    shuffles the corpus more than twice, and the packed-sequence totals
    need NO window: total offset per (split, source) is just
    SUM(n_tok + 1), so the per-doc packing window (dataset_pack_sequences)
    is only paid when per-doc spans are the deliverable."""
    from .dedup import LSH_MAX_BUCKET, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    valid = docs.filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)
    ).select("doc_id", "source", "text")
    dedup_w = Window.partitionBy("text").orderBy("doc_id")
    kept = (
        valid.withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    pairs = minhash_lsh_pairs(
        kept, jaccard_threshold=0.5, max_bucket_size=LSH_MAX_BUCKET,
        hash_expr=md5_int, hashed_band_keys=False,
    )
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = kept.join(drops, "doc_id", "left_anti")
    words = F.split("text", " ")
    n_tok = F.size(words)
    gated = (
        survivors.select(
            "doc_id",
            "source",
            n_tok.alias("n_tok"),
            (F.size(F.array_distinct(words)).cast("double") / n_tok).alias("_div"),
        )
        .filter(F.col("n_tok").between(20, 1000) & (F.col("_div") > 0.2))
    )
    split = split_assign_col()
    return (
        gated.select(split.alias("split"), "source", "n_tok")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.expr(
                f"(CAST(SUM(n_tok + 1) AS BIGINT) - 1) div {PACK_SEQ_LEN} + 1"
            ).alias("n_sequences"),
        )
    )


@register(
    "text_token_commonness",
    tags=("llm", "text", "quality"),
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM vocab),
j AS (SELECT t.doc_id, v.n FROM toks t JOIN vocab v USING (tok))
SELECT doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(n) AS BIGINT) AS sum_freq,
       CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE)
         / CAST(total * COUNT(*) AS DOUBLE) AS mean_prob,
       COUNT(CASE WHEN n <= 2 THEN 1 END) AS n_rare,
       CAST(COUNT(CASE WHEN n <= 2 THEN 1 END) AS DOUBLE)
         / COUNT(*) AS rare_ratio
FROM j, tot
GROUP BY doc_id, total
""",
)
def text_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-statistics quality signals, ln-free: per document,
    the mean unigram probability of its tokens (common-token mass — low
    values flag gibberish/OOV-heavy text the way high LM perplexity does)
    and the rare-token ratio (global count ≤ 2). Deliberately built from
    INTEGER corpus statistics only — sums of counts divided as doubles —
    because ln()/exp() are not bit-identical across engines (Java Math.log
    vs C libm differ in the last ulp), while int64→double casts and one
    division are IEEE-exact in both.

    Plan: explode → vocabulary aggregate (partial map-side combine makes
    the exchange vocabulary-sized, not corpus-sized) → token join back →
    per-doc aggregate → 1-row totals broadcast. The token join skews on
    stopwords at 100 TB: AQE skew-join splits those keys (SCALE.md);
    the manual fallback is a broadcast head/shuffled tail vocab split."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    tot = vocab.agg(F.sum("n").cast("long").alias("total"))
    joined = toks.join(vocab, "tok")
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum("n").cast("long").alias("sum_freq"),
        F.count(F.when(F.col("n") <= 2, 1)).alias("n_rare"),
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tok",
        "sum_freq",
        (
            F.col("sum_freq").cast("double")
            / (F.col("total") * F.col("n_tok")).cast("double")
        ).alias("mean_prob"),
        "n_rare",
        (F.col("n_rare").cast("double") / F.col("n_tok")).alias("rare_ratio"),
    )


@register(
    "dataset_mixture_sample",
    tags=("llm", "sampling", "splitting"),
    oracle=f"""
WITH per_domain AS (
  SELECT lang, source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_domains FROM per_domain),
rates AS (
  SELECT lang, source,
         LEAST(1.0, CAST(total_tokens AS DOUBLE)
                    / CAST(n_domains * n_tokens AS DOUBLE)) AS keep_rate
  FROM per_domain, tot
)
SELECT d.doc_id, d.lang, d.source,
       len(string_split(d.text, ' ')) AS n_tok
FROM documents d JOIN rates r ON d.lang = r.lang AND d.source = r.source
WHERE CAST({duck_md5_int("CAST(d.doc_id AS VARCHAR)")}
           AS DOUBLE) / 1152921504606846976.0 < r.keep_rate
""",
)
def dataset_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture down-sampler — the sampler that APPLIES
    dataset_mixture_weights: each (lang, source) domain keeps docs at
    rate min(1, target_share / actual_share), so over-represented domains
    shrink toward the uniform token mixture and under-represented ones
    keep everything. The keep decision is content-addressed (md5 of
    doc_id mapped to [0,1) — the same cross-engine 60-bit bridge the
    minhash oracles use), so the sample is reproducible row-for-row on
    any engine, any partitioning, any run — no RNG state to coordinate
    across 1000 executors.

    Plan: one corpus aggregate (domain token mass, partial-combined to a
    domains-sized exchange), a 1-row totals broadcast, then the rate
    table (domains-sized, broadcast) joins the corpus map-side — the
    filter is a pure projection, no corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    per_domain = docs.groupBy("lang", "source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    tot = per_domain.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_domains"),
    )
    rates = per_domain.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.least(
            F.lit(1.0),
            F.col("total_tokens").cast("double")
            / (F.col("n_domains") * F.col("n_tokens")).cast("double"),
        ).alias("keep_rate"),
    )
    u = md5_int(F.col("doc_id").cast("string")).cast("double") / F.lit(
        float(1 << 60)
    )
    return (
        docs.join(F.broadcast(rates), ["lang", "source"])
        .filter(u < F.col("keep_rate"))
        .select(
            "doc_id", "lang", "source", F.size(F.split("text", " ")).alias("n_tok")
        )
    )


# text_span_dedup: non-overlapping block width (tokens) and the packed
# (doc, block) ordinal used for first-occurrence ownership. Fixture docs
# top out far below SPAN_PACK blocks; at real scale widen the multiplier.
SPAN_W = 5
SPAN_PACK = 1_000_000


@register(
    "text_span_dedup",
    tags=("llm", "text", "dedup"),
    oracle=f"""
WITH blocks AS (
  SELECT doc_id, blk_idx,
         array_to_string(words[(blk_idx * {SPAN_W} + 1):(blk_idx * {SPAN_W} + {SPAN_W})], ' ') AS blk,
         doc_id * {SPAN_PACK} + blk_idx AS packed
  FROM (
    SELECT doc_id, string_split(text, ' ') AS words,
           unnest(range(0, CAST(ceil(len(string_split(text, ' ')) / {SPAN_W}.0) AS BIGINT))) AS blk_idx
    FROM documents
  )
), owners AS (
  SELECT blk, MIN(packed) AS owner FROM blocks GROUP BY blk
)
SELECT b.doc_id,
       COUNT(*) AS n_blocks,
       COUNT(*) FILTER (WHERE b.packed = o.owner) AS kept_blocks,
       COALESCE(string_agg(b.blk, ' ' ORDER BY b.blk_idx)
                  FILTER (WHERE b.packed = o.owner), '') AS dedup_text
FROM blocks b JOIN owners o ON b.blk = o.blk
GROUP BY b.doc_id
""",
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span removal (the scalable ExactSubstr variant from
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022): each doc splits into non-overlapping 5-token blocks; for
    every distinct block value the corpus-wide first occurrence (min
    packed (doc_id, blk_idx) ordinal) is kept and every other occurrence
    is dropped; surviving blocks rejoin in order. Plan shape: block
    ownership is a groupBy(blk).min — partial map-side combine absorbs
    hot boilerplate blocks (the skew case a window over PARTITION BY blk
    would serialize) — then an equi-join back on the block value and one
    per-doc regroup. Two exchanges + one join, all corpus-linear; at
    100 TB the join key would be xxhash64(blk) instead of the text
    (8-byte shuffle), same topology."""
    docs = load_table(spark, sf_dir, "documents")
    n_blk = F.ceil(F.size("words") / float(SPAN_W)).cast("long")
    blocks = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            "words",
            F.explode(F.sequence(F.lit(0).cast("long"), n_blk - 1)).alias("blk_idx"),
        )
        .select(
            "doc_id",
            "blk_idx",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("words"), (F.col("blk_idx") * SPAN_W + 1).cast("int"), SPAN_W
                ),
            ).alias("blk"),
            (F.col("doc_id") * SPAN_PACK + F.col("blk_idx")).alias("packed"),
        )
    )
    owners = blocks.groupBy("blk").agg(F.min("packed").alias("owner"))
    kept = blocks.join(owners, "blk").withColumn(
        "keep", F.col("packed") == F.col("owner")
    )
    parts = F.sort_array(
        F.collect_list(
            F.when(F.col("keep"), F.struct(F.col("blk_idx"), F.col("blk")))
        )
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count_if(F.col("keep")).alias("kept_blocks"),
        F.array_join(parts.getField("blk"), " ").alias("dedup_text"),
    )


# dataset_shuffle_order: shard fan-out of the reproducible corpus shuffle.
SHUFFLE_SALT = "shuffle-v1:"
SHUFFLE_SHARDS = 64


@register(
    "dataset_shuffle_order",
    tags=("llm", "dataset", "shuffle"),
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source,
         {duck_md5_int(f"'{SHUFFLE_SALT}' || CAST(doc_id AS VARCHAR)")} AS k
  FROM documents
)
SELECT doc_id, source,
       k % {SHUFFLE_SHARDS} AS shard,
       ROW_NUMBER() OVER (PARTITION BY k % {SHUFFLE_SHARDS}
                          ORDER BY k, doc_id) AS pos_in_shard
FROM keyed
""",
)
def dataset_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global corpus shuffle — the training-order
    randomization every pre-training run needs, made content-addressed so
    it is identical on any engine, partitioning, or rerun (seeded rand()
    is partitioning-dependent; this is md5(salt || doc_id), the same
    fixed-point trick as dataset_split_assign). The shuffled order is
    delivered the way trainers consume it: a shard id (hash mod 64) plus
    the position within that shard — row_number partitioned BY SHARD, so
    no single-partition global window exists in the plan; at 100 TB each
    shard sorts ~corpus/64 independently and writers emit one file per
    shard. Changing the salt re-shuffles the corpus deterministically
    (epoch reshuffling = salt per epoch)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        md5_int(
            F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    w = Window.partitionBy(F.col("k") % SHUFFLE_SHARDS).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "source",
        (F.col("k") % SHUFFLE_SHARDS).alias("shard"),
        F.row_number().over(w).alias("pos_in_shard"),
    )


DRIFT_TOPK = 20


@register(
    "corpus_drift_topk",
    tags=("llm", "text", "drift", "monitoring"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS tok
  FROM documents
), counts AS (
  SELECT tok,
         CAST(COUNT(CASE WHEN snap = 0 THEN 1 END) AS BIGINT) AS n_old,
         CAST(COUNT(CASE WHEN snap = 1 THEN 1 END) AS BIGINT) AS n_new
  FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
         CAST(SUM(n_new) AS BIGINT) AS t_new
  FROM counts
), drift AS (
  SELECT tok, n_old, n_new,
         ABS(n_old * t_new - n_new * t_old) AS drift_num
  FROM counts, tot
), tv AS (
  SELECT CAST(SUM(drift_num) AS BIGINT) AS tv_num FROM drift
)
SELECT tok, n_old, n_new, drift_num,
       CAST(drift_num AS DOUBLE) / NULLIF(CAST(tv_num AS DOUBLE), 0.0)
         AS drift_share,
       CAST(tv_num AS DOUBLE)
         / NULLIF(2.0 * CAST(t_old AS DOUBLE) * CAST(t_new AS DOUBLE), 0.0)
         AS tv_distance
FROM drift, tv, tot
ORDER BY drift_num DESC, tok
LIMIT {DRIFT_TOPK}
""",
)
def corpus_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: total-variation distance between the token
    distributions of two corpus snapshots (here the deterministic doc_id
    parity halves stand in for e.g. two crawl dates), plus the top-K
    tokens driving the drift. The per-token statistic is the integer
    cross-multiplication |c_old*T_new - c_new*T_old| — pure int64, so the
    global numerator sum is EXACT and order-independent (a float
    sum of p-q differences would be partition-order-dependent); the only
    doubles are two final divisions, IEEE-identical in any engine
    (NULLIF-guarded: identical distributions make the TV numerator 0,
    and an empty snapshot makes a total 0 — both yield NULL shares
    instead of an ANSI divide-by-zero; found by the hypothesis test).
    Overflow guard: n_i <= t_i, so every cross-product is bounded by
    t_old*t_new; a runtime `assert_true(t_old*t_new < 2^63)` (checked in
    doubles, which cannot themselves overflow) rides the broadcast
    totals row, so a corpus big enough to wrap int64 FAILS the job
    loudly instead of returning a wrong-but-plausible top-K under
    non-ANSI Spark (DuckDB's BIGINT arithmetic is already checked).
    Beyond that bound (a full 100 TB corpus pair) promote the numerator
    to DECIMAL(38,0) — same plan shape.

    Plan: one scan -> explode -> vocabulary aggregate with conditional
    counts (NO per-snapshot join: both snapshot counts come out of one
    map-side-combined groupBy) -> two scalar-row broadcasts -> global
    top-K via TakeOrderedAndProject. The corpus is shuffled once, at
    vocabulary granularity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("snap"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.count(F.when(F.col("snap") == 0, 1)).cast("long").alias("n_old"),
        F.count(F.when(F.col("snap") == 1, 1)).cast("long").alias("n_new"),
    )
    # coalesce(sum, 0): on an EMPTY corpus the global sums are NULL and
    # the overflow comparison below would evaluate to NULL —
    # assert_true(NULL) throws, turning the documented empty-corpus
    # degenerate case (empty result) into a misleading overflow error.
    tot = counts.agg(
        F.coalesce(F.sum("n_old"), F.lit(0)).cast("long").alias("t_old"),
        F.coalesce(F.sum("n_new"), F.lit(0)).cast("long").alias("t_new"),
    )
    # int64-overflow guard (see docstring): the filter keeps assert_true
    # in the plan (an unused projected column could be pruned away).
    tot = tot.where(
        F.assert_true(
            F.col("t_old").cast("double") * F.col("t_new").cast("double")
            < F.lit(float(2**63)),
            F.lit("corpus_drift_topk: t_old*t_new would overflow int64 — "
                  "promote drift_num to DECIMAL(38,0)"),
        ).isNull()
    )
    drift = counts.crossJoin(F.broadcast(tot)).withColumn(
        "drift_num",
        F.abs(F.col("n_old") * F.col("t_new") - F.col("n_new") * F.col("t_old")),
    )
    tv = drift.agg(F.sum("drift_num").cast("long").alias("tv_num"))
    return (
        drift.crossJoin(F.broadcast(tv))
        .select(
            "tok",
            "n_old",
            "n_new",
            "drift_num",
            (
                F.col("drift_num").cast("double")
                / F.nullif(F.col("tv_num").cast("double"), F.lit(0.0))
            ).alias("drift_share"),
            (
                F.col("tv_num").cast("double")
                / F.nullif(
                    F.lit(2.0)
                    * F.col("t_old").cast("double")
                    * F.col("t_new").cast("double"),
                    F.lit(0.0),
                )
            ).alias("tv_distance"),
        )
        .orderBy(F.col("drift_num").desc(), "tok")
        .limit(DRIFT_TOPK)
    )


# Tercile fractions as shared literals so Spark and DuckDB parse the
# identical double (percentile_disc is rank-based — the cutoffs are exact
# data values, no interpolation arithmetic to diverge).
_LM_P1 = repr(1 / 3)
_LM_P2 = repr(2 / 3)


@register(
    "text_lm_quality_buckets",
    tags=("llm", "text", "quality", "lm"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab
), tl AS (
  SELECT t.doc_id,
         CAST(FLOOR(LN(CAST(v.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
                    * 1e9) AS BIGINT) AS sll
  FROM toks t JOIN vocab v USING (tok) CROSS JOIN tot
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_toks,
         CAST(SUM(sll) AS BIGINT) AS ssum
  FROM tl GROUP BY doc_id
), scored AS (
  SELECT doc_id, n_toks,
         -(CAST(ssum AS DOUBLE) / 1e9) / n_toks AS ce
  FROM per_doc
), cuts AS (
  SELECT quantile_disc(ce, {_LM_P1}) AS c1,
         quantile_disc(ce, {_LM_P2}) AS c2
  FROM scored
)
SELECT doc_id, n_toks, ROUND(ce, 6) AS cross_entropy,
       CASE WHEN ce <= c1 THEN 'head'
            WHEN ce <= c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored, cuts
""",
)
def text_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality bucketing: train a unigram LM
    on the corpus itself, score every document by token-level
    cross-entropy, and split the corpus into head/middle/tail terciles —
    the standard curation signal for "keep the head, downsample the
    tail" pretraining mixes (CCNet, RedPajama). Everything is
    engine-exact: per-token log-probs fold as scaled longs
    (floor(ln(cnt/total)·1e9) — int64 sums are partition-order-proof),
    and the tercile cutoffs use percentile_disc, which picks exact data
    values by rank (verified same convention as DuckDB's quantile_disc),
    so the bucket boundaries carry no interpolation arithmetic.

    Scale shape: two corpus-token shuffles (vocabulary count, then the
    token→prob join — AQE broadcasts the vocab side when it fits), one
    doc-granularity aggregate, then a single-row cutoff aggregate
    broadcast back: NO global sort and NO unpartitioned window — the
    ntile-style bucketing that needs a total order is replaced by two
    broadcast comparisons. At 100 TB swap the exact percentile_disc for
    approx_percentile (same plan shape, sketch-sized cutoff state) and
    shard the vocabulary join on a hashed token key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("long").alias("total"))
    tl = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    F.col("cnt").cast("double") / F.col("total").cast("double")
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("sll"),
        )
    )
    per_doc = tl.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("sll").cast("long").alias("ssum"),
    )
    scored = per_doc.select(
        "doc_id",
        "n_toks",
        (-(F.col("ssum").cast("double") / F.lit(1e9)) / F.col("n_toks")).alias("ce"),
    )
    cuts = scored.agg(
        F.expr(f"percentile_disc({_LM_P1}) WITHIN GROUP (ORDER BY ce)").alias("c1"),
        F.expr(f"percentile_disc({_LM_P2}) WITHIN GROUP (ORDER BY ce)").alias("c2"),
    )
    bucket = (
        F.when(F.col("ce") <= F.col("c1"), "head")
        .when(F.col("ce") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "doc_id",
            "n_toks",
            F.round("ce", 6).alias("cross_entropy"),
            bucket.alias("bucket"),
        )
    )


@register(
    "corpus_source_health",
    tags=("llm", "text", "quality", "monitoring"),
    oracle="""
WITH th AS (
  SELECT source, lang, n_chars, md5(text) AS h FROM documents
), dupc AS (
  SELECT h, COUNT(*) AS c FROM th GROUP BY h
), base AS (
  SELECT t.source,
         COUNT(*) AS n_docs,
         COUNT(CASE WHEN d.c > 1 THEN 1 END) AS n_dup_docs,
         CAST(SUM(CAST(t.n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(t.n_chars)
           AS avg_chars
  FROM th t JOIN dupc d ON t.h = d.h
  GROUP BY t.source
), lc AS (
  SELECT source, lang, COUNT(*) AS cnt FROM th GROUP BY source, lang
), ent AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(cnt * LN(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT))
              AS BIGINT) AS s
  FROM lc GROUP BY source
)
SELECT b.source, b.n_docs, b.n_dup_docs,
       ROUND(CAST(b.n_dup_docs AS DOUBLE) / b.n_docs, 6) AS dup_rate,
       ROUND(b.avg_chars, 2) AS avg_chars,
       ROUND(LN(CAST(e.n AS DOUBLE)) - (CAST(e.s AS DOUBLE) / 1e6) / e.n, 6)
         AS lang_entropy
FROM base b JOIN ent e ON b.source = e.source
""",
)
def corpus_source_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health rollup — the monitoring query a crawl
    pipeline runs per snapshot to catch a degrading source before it
    poisons a training mix: document count, exact-duplicate rate
    (corpus-wide text-hash collisions attributed back to each source),
    average document length, and language-distribution Shannon entropy
    (a collapsing entropy = the source started emitting one language —
    usually boilerplate or an extraction bug). Entropy folds as scaled
    longs (floor(cnt·ln(cnt)·1e6) summed in int64, then
    ln(n) − s/n) so the few-term float sum cannot vary with partition
    order; averages use the decimal-sum discipline.

    Scale shape: one corpus shuffle on the 16-byte text hash (the dup
    count), one on (source, lang) — both with map-side partial
    aggregation; the two per-source aggregates join broadcast (sources
    are a dimension, thousands at most). Reference analog: the upload
    validation summary (/root/reference/src/commands/upload.js) — this
    is its engine-side generalization."""
    docs = load_table(spark, sf_dir, "documents")
    th = docs.select("source", "lang", "n_chars", F.md5("text").alias("h"))
    dupc = th.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    base = (
        th.join(dupc, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("c") > 1, 1)).alias("n_dup_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
                / F.count("n_chars")
            ).alias("avg_chars"),
        )
    )
    lc = th.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    ent = lc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(
            F.floor(
                F.col("cnt") * F.log(F.col("cnt").cast("double")) * F.lit(1e6)
            ).cast("long")
        )
        .cast("long")
        .alias("s"),
    )
    return (
        base.join(F.broadcast(ent), "source")
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
            F.round("avg_chars", 2).alias("avg_chars"),
            F.round(
                F.log(F.col("n").cast("double"))
                - (F.col("s").cast("double") / F.lit(1e6)) / F.col("n"),
                6,
            ).alias("lang_entropy"),
        )
    )


BPE_TOP_MERGES = 20
BPE_MIN_WORD_LEN = 2


@register(
    "text_bpe_merge_step",
    tags=("llm", "text", "bpe"),
    oracle=f"""
WITH vocab AS (
  SELECT word, COUNT(*) AS w_freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= {BPE_MIN_WORD_LEN}
  GROUP BY word
), pairs AS (
  SELECT p.pair AS pair, v.w_freq, v.word
  FROM vocab v,
       UNNEST(list_transform(generate_series(1, length(v.word) - 1),
                             i -> substr(v.word, CAST(i AS INTEGER), 2))) AS p(pair)
)
SELECT pair, weight, n_word_types, rk FROM (
  SELECT pair,
         CAST(SUM(w_freq) AS BIGINT) AS weight,
         COUNT(DISTINCT word) AS n_word_types,
         ROW_NUMBER() OVER (ORDER BY CAST(SUM(w_freq) AS BIGINT) DESC, pair) AS rk
  FROM pairs GROUP BY pair
)
WHERE rk <= {BPE_TOP_MERGES}
""",
)
def text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration over the corpus (Sennrich et al. 2016):
    count adjacent symbol-pair frequencies weighted by word frequency and
    rank the merge candidates. At the character stage a pair is just
    ``substring(word, i, 2)``, so the whole step is two hash aggregates:

    1. corpus → distinct-word frequencies. The explode shuffles only
       (word, partial count) after map-side combine — vocabulary-sized,
       not corpus-sized, which is what makes BPE training feasible at
       100 TB: every later merge iteration runs on the vocab table (rows
       = distinct words), never rescanning the corpus.
    2. vocab → pair weights. The pair explode multiplies vocab rows by
       avg word length only (corpus-independent), and the final top-k is
       TakeOrderedAndProject over an alphabet²-bounded aggregate.

    The weight sums word frequencies (a pair occurring twice inside one
    word counts twice); n_word_types counts distinct words containing the
    pair — the two stats a tokenizer trainer needs to pick and apply the
    merge."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= BPE_MIN_WORD_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("w_freq"))
    )
    pair_arr = F.expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
    )
    agg = (
        vocab.select("word", "w_freq", F.explode(pair_arr).alias("pair"))
        .groupBy("pair")
        .agg(
            F.sum("w_freq").alias("weight"),
            F.countDistinct("word").alias("n_word_types"),
        )
    )
    return (
        agg.orderBy(F.col("weight").desc(), F.col("pair"))
        .limit(BPE_TOP_MERGES)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("weight").desc(), F.col("pair"))),
        )
        .select("pair", "weight", "n_word_types", "rk")
    )


@register(
    "corpus_snapshot_diff",
    tags=("llm", "corpus", "monitoring"),
    oracle="""
WITH old_snap AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 7 = 0
                  THEN substr(text, 1, CAST(ceil(n_chars / 2.0) AS INTEGER))
                  ELSE text END) AS fp
  FROM documents WHERE doc_id % 13 <> 0
), new_snap AS (
  SELECT doc_id, source, md5(text) AS fp
  FROM documents WHERE doc_id % 11 <> 0
), diff AS (
  SELECT COALESCE(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         COALESCE(o.doc_id, n.doc_id) AS doc_id
  FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
)
SELECT source, status, COUNT(*) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM diff GROUP BY source, status
""",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff: classify every doc_id as
    added / removed / changed / unchanged between two corpus versions and
    roll the audit up per source. The two snapshots are derived
    deterministically from the fixture (doc_id % 13 / % 11 membership,
    % 7 docs get a truncated "old" text), standing in for two dated lake
    prefixes.

    Scale shape: each side projects to (doc_id, source, fingerprint)
    BEFORE the join, so the full-outer shuffle carries ~50 bytes/row
    instead of raw text — at 100 TB the fingerprint (md5 here for oracle
    portability; xxhash64 in production) is computed at ingest and stored,
    making the diff a pure metadata join. The join is a co-partitioned
    8-byte-key sort-merge; the rollup shuffles (source, status) partials
    only."""
    docs = load_table(spark, sf_dir, "documents")
    old_text = F.when(
        F.col("doc_id") % 7 == 0,
        F.expr("substring(text, 1, cast(ceil(n_chars / 2.0) as int))"),
    ).otherwise(F.col("text"))
    old_snap = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id", "source", F.md5(old_text).alias("fp")
    )
    new_snap = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("n_doc_id"),
        F.col("source").alias("n_source"),
        F.md5("text").alias("n_fp"),
    )
    diff = old_snap.join(
        new_snap, F.col("doc_id") == F.col("n_doc_id"), "full_outer"
    ).select(
        F.coalesce("source", "n_source").alias("source"),
        F.when(F.col("doc_id").isNull(), "added")
        .when(F.col("n_doc_id").isNull(), "removed")
        .when(F.col("fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("doc_id", "n_doc_id").alias("d"),
    )
    return diff.groupBy("source", "status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("d").alias("first_doc"),
        F.max("d").alias("last_doc"),
    )


BPE_TRAIN_ITERS = 5

# Greedy left-to-right merge application as a single JVM-side fold: when
# the last emitted symbol is `ma` and the incoming one is `mb`, the pair
# collapses to `mm`; the fold never re-examines emitted output, which is
# exactly BPE's non-overlapping left-to-right rule ('a a a' + merge(a,a)
# -> [aa, a]). ma/mb/mm are outer column references (the chosen merge
# rides each row via a broadcast cross join), so one expression serves
# every iteration.
_BPE_APPLY = (
    "aggregate(syms, cast(array() as array<string>),"
    " (acc, s) -> case when size(acc) > 0 and element_at(acc, -1) = ma"
    " and s = mb"
    " then concat(slice(acc, 1, size(acc) - 1), array(mm))"
    " else concat(acc, array(s)) end)"
)


def _bpe_train_stage_sql(k: int) -> str:
    """One unrolled training iteration for the DuckDB twin, consuming
    v{k} and producing b{k} (the chosen merge) and v{k+1} (the rewritten
    vocabulary). The greedy left-to-right application is expressed
    relationally: mark adjacent (a,b) positions, group consecutive marks
    into islands (grp = pos − running mark count), take the odd-ranked
    mark of each island (non-overlapping left-to-right), then rebuild
    each word's symbol list ordered by position — the same semantics the
    Spark side gets from its fold."""
    return f"""
p{k} AS (
  SELECT u.p.a AS a, u.p.b AS b, CAST(SUM(freq) AS BIGINT) AS weight
  FROM v{k}, UNNEST(list_transform(generate_series(1, len(syms) - 1),
       i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS u(p)
  GROUP BY u.p.a, u.p.b
), b{k} AS (
  SELECT {k + 1} AS iter, a AS pair_a, b AS pair_b, a || b AS merged, weight
  FROM p{k} ORDER BY weight DESC, a, b LIMIT 1
), ex{k} AS (
  SELECT v.word, v.freq, b.pair_a AS ma, b.pair_b AS mb, b.merged AS mm,
         u.e.pos AS pos, u.e.s AS s
  FROM v{k} v, b{k} b,
       UNNEST(list_transform(generate_series(1, len(v.syms)),
              i -> {{'pos': i, 's': v.syms[i]}})) AS u(e)
), m{k} AS (
  SELECT *, (s = ma AND lead(s) OVER (PARTITION BY word ORDER BY pos) = mb) AS mark
  FROM ex{k}
), g{k} AS (
  SELECT *, pos - SUM(CASE WHEN mark THEN 1 ELSE 0 END)
                  OVER (PARTITION BY word ORDER BY pos) AS grp
  FROM m{k}
), t{k} AS (
  SELECT *, CASE WHEN mark THEN
         (SUM(CASE WHEN mark THEN 1 ELSE 0 END)
          OVER (PARTITION BY word, grp ORDER BY pos)) % 2 = 1
       ELSE FALSE END AS take
  FROM g{k}
), w{k} AS (
  SELECT *, COALESCE(lag(take) OVER (PARTITION BY word ORDER BY pos), FALSE) AS prev_take
  FROM t{k}
), v{k + 1} AS (
  SELECT word, freq,
         list(CASE WHEN take THEN mm ELSE s END ORDER BY pos)
           FILTER (WHERE take OR NOT prev_take) AS syms
  FROM w{k} GROUP BY word, freq
)"""


def _bpe_train_ctes() -> str:
    ctes = f"""v0 AS (
  SELECT word, COUNT(*) AS freq,
         list_transform(generate_series(1, length(word)), i -> word[i]) AS syms
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= {BPE_MIN_WORD_LEN}
  GROUP BY word
)"""
    for k in range(BPE_TRAIN_ITERS):
        ctes += "," + _bpe_train_stage_sql(k)
    return ctes


def _bpe_train_oracle() -> str:
    sel = "\nUNION ALL ".join(
        f"SELECT iter, pair_a, pair_b, merged, weight FROM b{k}"
        for k in range(BPE_TRAIN_ITERS)
    )
    return f"WITH {_bpe_train_ctes()}\n{sel}"


def _bpe_apply_oracle() -> str:
    return f"""
WITH {_bpe_train_ctes()}, wc AS (
  SELECT doc_id, word, COUNT(*) AS n
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
  GROUP BY doc_id, word
)
SELECT doc_id,
  CAST(SUM(n * length(word)) AS BIGINT) AS n_tok_chars,
  CAST(SUM(n * COALESCE(len(v.syms), 1)) AS BIGINT) AS n_tok_bpe,
  ROUND(CAST(SUM(n * length(word)) AS DOUBLE)
        / SUM(n * COALESCE(len(v.syms), 1)), 6) AS compression
FROM wc LEFT JOIN v{BPE_TRAIN_ITERS} v USING (word)
GROUP BY doc_id
"""


@register(
    "text_bpe_train",
    tags=("llm", "text", "bpe"),
    oracle=_bpe_train_oracle(),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterated BPE training (Sennrich et al. 2016): BPE_TRAIN_ITERS
    rounds of count-pairs → pick the max-weight merge → apply it greedily
    to the vocabulary, returning the learned merge table
    (iter, pair_a, pair_b, merged, weight).

    Everything after the first corpus scan runs on the VOCAB table
    (distinct words × symbol arrays) — the corpus is never rescanned, so
    at 100 TB each training round costs one vocabulary-sized aggregate
    plus a map-only rewrite. The chosen merge is a one-row broadcast
    (orderBy.limit(1) plans TakeOrderedAndProject), NOT a driver
    collect; per-round localCheckpoint truncates the growing lineage the
    same way connected_components does. Symbols are strings, so two
    distinct symbol sequences rendering the same text are merged
    indistinguishably (production trainers use symbol ids); both engines
    share the convention. If the vocabulary exhausts its pairs early the
    merge table simply ends there."""
    merges, _ = _bpe_train_impl(spark, sf_dir)
    return merges


def _bpe_train_impl(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Run the training loop; return (merge table, final vocabulary with
    its word key and trained symbol arrays) — text_bpe_apply consumes the
    vocabulary side."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= BPE_MIN_WORD_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
            "freq",
        )
        # materialize the initial vocab ONCE: iteration 1's merge pick and
        # rewrite both consume it, and without this the corpus wordcount
        # re-runs for each — the only corpus-sized work in the trainer.
        .localCheckpoint()
    )
    pair_arr = F.expr(
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) as a, element_at(syms, i + 1) as b))"
    )
    merges: DataFrame | None = None
    for it in range(1, BPE_TRAIN_ITERS + 1):
        # size guard: Spark's sequence(1, 0) is the DESCENDING [1, 0],
        # not empty (DuckDB's generate_series(1, 0) IS empty), so a word
        # fully merged into one symbol would index past its array here.
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair_arr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("weight"))
        )
        best = (
            pairs.orderBy(F.col("weight").desc(), "a", "b")
            .limit(1)
            .select(
                F.lit(it).alias("iter"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.concat("a", "b").alias("merged"),
                "weight",
            )
        )
        merges = best if merges is None else merges.unionAll(best)
        vocab = (
            vocab.crossJoin(
                F.broadcast(
                    best.select(
                        F.col("pair_a").alias("ma"),
                        F.col("pair_b").alias("mb"),
                        F.col("merged").alias("mm"),
                    )
                )
            )
            .select("word", F.expr(_BPE_APPLY).alias("syms"), "freq")
            .localCheckpoint()
        )
    return merges, vocab


@register(
    "text_bpe_apply",
    tags=("llm", "text", "bpe"),
    oracle=_bpe_apply_oracle(),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained tokenizer: per document, the
    pre-merge token count (characters), the post-merge BPE token count,
    and the compression ratio the learned merges buy.

    The trained vocabulary (word → final symbol array) is a
    vocabulary-sized DIM table broadcast onto the per-document word
    counts — the corpus-sized side is one explode + one hash aggregate,
    and no symbol rewriting happens per document (a word's tokenization
    is word-internal in BPE, so it is computed once in the vocab and
    joined, not recomputed per occurrence — the production trick that
    makes corpus tokenization a join, not a per-token scan). Words below
    the training length floor count as one token."""
    _, vocab = _bpe_train_impl(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = wc.join(
        F.broadcast(vocab.select("word", F.size("syms").alias("n_syms"))),
        "word",
        "left",
    )
    chars = F.sum(F.col("n") * F.length("word"))
    bpe = F.sum(F.col("n") * F.coalesce("n_syms", F.lit(1)))
    return joined.groupBy("doc_id").agg(
        chars.cast("long").alias("n_tok_chars"),
        bpe.cast("long").alias("n_tok_bpe"),
        F.round(chars.cast("double") / bpe, 6).alias("compression"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — the sketch family's frequency side
# (agg_hll_sketch_rollup covers cardinality): a DEPTH×WIDTH grid of
# counters where every token increments one counter per row (row-salted
# hash), and a token's estimate is the MIN across rows — never below the
# true count (the CM guarantee), above it only through collisions. The
# production shape for streaming/mergeable frequency state at 100 TB:
# the sketch is a fixed-size integer grid, built by ONE vocabulary-sized
# aggregate (word counts pre-aggregate map-side first), mergeable across
# partitions/batches by plain addition. Hashing rides the md5 bridge
# (bit-identical in Spark and DuckDB), so the sketch, the estimates, AND
# the guarantee audit are hash-exact against the oracle.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 16  # deliberately narrow so fixture-vocab collisions are real
CMS_TOPN = 20


def _cms_col_spark(d: int) -> str:
    h = spark_md5_int(f"concat(tok, '#{d}')")
    return f"CAST(pmod({h}, {CMS_WIDTH}) AS INT)"


def _cms_col_duck(d: int) -> str:
    h = duck_md5_int(f"tok || '#{d}'")
    return f"CAST({h} % {CMS_WIDTH} AS INT)"


_CMS_ORACLE = f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
), cells AS (
  SELECT u.c.d AS d, u.c.col AS col, CAST(SUM(n) AS BIGINT) AS cnt
  FROM counts, UNNEST([
    {", ".join(f"{{{{'d': {d}, 'col': {_cms_col_duck(d)}}}}}" for d in range(CMS_DEPTH))}
  ]) AS u(c)
  GROUP BY 1, 2
), top_true AS (
  SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
  FROM counts QUALIFY rk <= {CMS_TOPN}
), probes AS (
  SELECT tok, n, rk, u.c.d AS d, u.c.col AS col
  FROM top_true, UNNEST([
    {", ".join(f"{{{{'d': {d}, 'col': {_cms_col_duck(d)}}}}}" for d in range(CMS_DEPTH))}
  ]) AS u(c)
)
SELECT p.tok AS word, p.rk,
       MAX(p.n) AS true_count,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
       MIN(c.cnt) >= MAX(p.n) AS overestimate_ok,
       CAST(MIN(c.cnt) - MAX(p.n) AS BIGINT) AS collision_err
FROM probes p JOIN cells c ON c.d = p.d AND c.col = p.col
GROUP BY p.tok, p.rk
"""


@register(
    "text_cms_heavy_hitters",
    tags=("llm", "text", "sketch", "heavy-hitters"),
    oracle=_CMS_ORACLE.format(),
)
def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus token frequencies, audited: build
    the DEPTH×WIDTH sketch, then for the true top-CMS_TOPN tokens report
    true count, CM estimate (min over rows), the guarantee flag
    (estimate ≥ truth — MUST hold for every row; the oracle hash pins
    it), and the collision error. WIDTH is deliberately tiny (16) so the
    fixture vocabulary actually collides and the error column is
    non-trivial; production sizes WIDTH ≈ e/ε.

    Plan shape: token counts collapse map-side to one vocabulary-sized
    aggregate; the sketch is a second aggregate over DEPTH×vocab
    exploded rows into DEPTH×WIDTH cells — a fixed-size integer grid
    that merges across partitions/batches by addition (the reason CM is
    the streaming frequency sketch). Estimates join the top-k probes to
    the broadcast-sized cell grid. md5-bridged hashing keeps both
    engines' grids bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()  # vocabulary-sized; reused by sketch build + top-k probes
    )
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"), F.expr(_cms_col_spark(d)).alias("col")
            )
            for d in range(CMS_DEPTH)
        ]
    )
    cells = (
        counts.select(F.explode(cell_structs).alias("c"), "n")
        .groupBy(F.col("c.d").alias("d"), F.col("c.col").alias("col"))
        .agg(F.sum("n").alias("cnt"))
    )
    top_w = Window.orderBy(F.col("n").desc(), F.col("tok"))
    top_true = (
        counts.withColumn("rk", F.row_number().over(top_w))
        .filter(F.col("rk") <= CMS_TOPN)
    )
    probes = top_true.select(
        "tok", "n", "rk", F.explode(cell_structs).alias("c")
    ).select("tok", "n", "rk", F.col("c.d").alias("d"), F.col("c.col").alias("col"))
    return (
        probes.join(F.broadcast(cells), ["d", "col"])
        .groupBy(F.col("tok").alias("word"), "rk")
        .agg(
            F.max("n").alias("true_count"),
            F.min("cnt").alias("cms_estimate"),
            (F.min("cnt") >= F.max("n")).alias("overestimate_ok"),
            (F.min("cnt") - F.max("n")).alias("collision_err"),
        )
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog — the cardinality sketch, bit-identical across engines
# ---------------------------------------------------------------------------
# 64 registers (b=6); the remaining 54 hash bits feed the leading-zero rank,
# capped at HLL_RMAX so the harmonic sum stays an EXACT int64
# (sum of 2^(RMAX - M) terms — no floating point anywhere).
HLL_M = 64
HLL_RMAX = 40
# alpha_64 = 0.709 carried as the exact rational 709/1000 so the estimate is
# a single integer division both engines compute identically.
HLL_ALPHA_NUM = 709
HLL_ALPHA_DEN = 1000
# Small-range (linear counting) correction, oracle-portable: E_lc = m·ln(m/V)
# precomputed for every possible zero-register count V at CODEGEN time and
# embedded as a literal table in both engines — no runtime ln(), so no
# cross-engine libm drift can break the hash. Index V=0 is unused (raw path).
import math as _math  # noqa: E402  (module-local, keeps the table honest)

HLL_LC_TABLE = tuple(
    0 if v == 0 else round(HLL_M * _math.log(HLL_M / v)) for v in range(HLL_M)
)
# classic threshold: linear counting wins below 2.5·m
HLL_LC_THRESHOLD = 5 * HLL_M // 2

# 60-bit hash from the md5 hex prefix — same bridge the CMS family uses.
_HLL_H_SPARK = spark_md5_int("tok")
_HLL_H_DUCK = duck_md5_int("tok")


def _hll_register_sql(h_expr: str, div: str) -> tuple[str, str]:
    """(register-index expr, rank expr) given the hash expr and the
    engine's integer-division operator ('div' for Spark, '//' for DuckDB).
    w = h div 64 has at most 54 bits, so the position of its leading 1 bit
    counted from the top of the 54-bit window is 55 - bit_length(w); both
    engines spell bit_length as length(bin(w)) (bin(0) = '0' in both)."""
    j = f"({h_expr}) % {HLL_M}"
    rho = f"LEAST(55 - length(bin(({h_expr}) {div} {HLL_M})), {HLL_RMAX})"
    return j, rho


_HLL_J_DUCK, _HLL_RHO_DUCK = _hll_register_sql(_HLL_H_DUCK, "//")

_HLL_ORACLE = f"""
WITH st AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
), r AS (
  SELECT source, CAST({_HLL_J_DUCK} AS INT) AS j, {_HLL_RHO_DUCK} AS rho
  FROM st
), regs_src AS (
  SELECT source, j, MAX(rho) AS m FROM r GROUP BY source, j
), regs AS (
  SELECT * FROM regs_src
  UNION ALL
  SELECT 'ALL' AS source, j, MAX(m) AS m FROM regs_src GROUP BY j
), est AS (
  SELECT source,
         CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_registers,
         SUM(1::BIGINT << ({HLL_RMAX} - m))
           + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_RMAX}) AS s
  FROM regs GROUP BY source
), raw AS (
  SELECT source, zero_registers,
         ({HLL_ALPHA_NUM} * {HLL_M} * {HLL_M} * (1::BIGINT << {HLL_RMAX}))
           // ({HLL_ALPHA_DEN} * s) AS raw_est
  FROM est
), corrected AS (
  SELECT source, zero_registers,
         CAST(CASE WHEN zero_registers > 0 AND raw_est < {HLL_LC_THRESHOLD}
              THEN ([{", ".join(str(v) for v in HLL_LC_TABLE)}])[zero_registers + 1]
              ELSE raw_est END AS BIGINT) AS hll_estimate
  FROM raw
), ex AS (
  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM st GROUP BY source
  UNION ALL
  SELECT 'ALL', CAST(COUNT(DISTINCT tok) AS BIGINT) FROM st
)
SELECT c.source,
       x.exact_distinct,
       c.hll_estimate,
       c.zero_registers,
       CAST(abs(c.hll_estimate - x.exact_distinct) * 1000
            // x.exact_distinct AS BIGINT) AS abs_err_permille
FROM corrected c JOIN ex x ON x.source = c.source
"""


@register(
    "text_hll_cardinality",
    tags=("llm", "text", "sketch", "cardinality"),
    oracle=_HLL_ORACLE,
)
def text_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog token-cardinality sketch, audited per source
    plus the MERGED corpus row: 64 registers from the md5-bridged 60-bit
    hash (6 index bits, leading-zero rank over the remaining 54, capped
    at HLL_RMAX), harmonic mean carried as the EXACT integer
    sum(2^(RMAX-M)) so both engines produce the identical estimate —
    this upgrades the rows-only approx_count_distinct story to a
    hash-green cross-engine sketch the way text_cms_heavy_hitters did
    for frequency. The 'ALL' row is computed by register-wise MAX of the
    per-source sketches — the HLL merge law executed literally, and,
    unlike CMS addition, MAX is IDEMPOTENT: replayed shards cannot skew
    the merged estimate, which is why HLL state tolerates at-least-once
    delivery at 100 TB where CMS needs exactly-once keying. Small-range
    bias is corrected by linear counting (E = m·ln(m/V)) via a 64-entry
    integer table precomputed at CODEGEN time and embedded literally in
    both engines — the classic correction without runtime ln(), so no
    libm drift can break the cross-engine hash; zero_registers and
    abs_err_permille keep the estimate regime visible in the output.

    Plan shape: one corpus scan → map-side-combined (source, tok)
    distinct (vocabulary-sized) → two register aggregates of 64 rows per
    source; estimates and exact counts join broadcast-small."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .cache()  # vocabulary-sized; reused by registers + exact counts
    )
    j_expr, rho_expr = _hll_register_sql(_HLL_H_SPARK, "div")
    r = st.select(
        "source",
        F.expr(f"CAST({j_expr} AS INT)").alias("j"),
        F.expr(rho_expr).alias("rho"),
    )
    regs_src = r.groupBy("source", "j").agg(F.max("rho").alias("m"))
    # the merge law, executed: the corpus sketch IS the register-wise max
    # of the per-source sketches
    regs_all = (
        regs_src.groupBy("j")
        .agg(F.max("m").alias("m"))
        .select(F.lit("ALL").alias("source"), "j", "m")
    )
    regs = regs_src.unionByName(regs_all)
    two_rmax = 1 << HLL_RMAX
    est = regs.groupBy("source").agg(
        (HLL_M - F.count(F.lit(1))).cast("long").alias("zero_registers"),
        (
            F.sum(F.expr(f"shiftleft(1L, {HLL_RMAX} - m)"))
            + (HLL_M - F.count(F.lit(1))) * F.lit(two_rmax)
        ).alias("s"),
    )
    ex = (
        st.groupBy("source")
        .agg(F.countDistinct("tok").alias("exact_distinct"))
        .unionByName(
            st.agg(F.countDistinct("tok").alias("exact_distinct")).select(
                F.lit("ALL").alias("source"), "exact_distinct"
            )
        )
    )
    # integer division on both sides: the 3.2e18 numerator is beyond 2^53,
    # so a double-typed `/` would round where DuckDB's `//` is exact
    numer = HLL_ALPHA_NUM * HLL_M * HLL_M * two_rmax
    lc_literal = ", ".join(str(v) for v in HLL_LC_TABLE)
    estimate = F.expr(
        f"CAST(CASE WHEN zero_registers > 0"
        f" AND {numer}L div ({HLL_ALPHA_DEN} * s) < {HLL_LC_THRESHOLD}"
        f" THEN element_at(array({lc_literal}), CAST(zero_registers + 1 AS INT))"
        f" ELSE {numer}L div ({HLL_ALPHA_DEN} * s) END AS BIGINT)"
    )
    return (
        est.join(F.broadcast(ex), "source")
        .withColumn("hll_estimate", estimate)
        .select(
            "source",
            "exact_distinct",
            "hll_estimate",
            "zero_registers",
            F.expr(
                "CAST(abs(hll_estimate - exact_distinct) * 1000"
                " div exact_distinct AS BIGINT)"
            ).alias("abs_err_permille"),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocations — association mining over adjacent bigrams
# ---------------------------------------------------------------------------
PMI_MIN_PAIR = 5  # noise floor: a collocation seen < 5 times is not evidence
PMI_TOPN = 20
# PMI = ln(ratio) with ratio = C_ab*T/(C_a*C_b); ln is monotone, so ranking
# and reporting the SCALED RATIO keeps the whole query in deterministic
# arithmetic. Both engines compute floor(double(C_ab*T)/double(C_a*C_b)*1e6)
# with the identical expression shape: the int64 products are exact in a
# double while T < 2^26.5 (guarded), and IEEE division/multiplication of
# identical operands is correctly rounded — bit-identical cross-engine.
PMI_SCALE = 1_000_000
_PMI_T_GUARD = 94_000_000  # T above this → C_ab*T may exceed 2^53

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), uni AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(l) AS tok FROM toks) GROUP BY tok
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t FROM uni
), pairs AS (
  SELECT l[i] AS w1, l[i + 1] AS w2, COUNT(*) AS n
  FROM toks, UNNEST(range(1, len(l))) AS u(i)
  GROUP BY 1, 2
), scored AS (
  SELECT p.w1, p.w2, p.n AS pair_count, ua.c AS w1_count, ub.c AS w2_count,
         CAST(FLOOR(CAST(p.n * t.t AS DOUBLE)
                    / CAST(ua.c * ub.c AS DOUBLE)
                    * {PMI_SCALE}.0) AS BIGINT) AS lift_ppm
  FROM pairs p
  JOIN uni ua ON ua.tok = p.w1
  JOIN uni ub ON ub.tok = p.w2
  CROSS JOIN tot t
  WHERE p.n >= {PMI_MIN_PAIR}
)
SELECT *
FROM (
  SELECT w1, w2, pair_count, w1_count, w2_count, lift_ppm,
         ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, w1, w2) AS rk
  FROM scored
) WHERE rk <= {PMI_TOPN}
"""


@register(
    "text_pmi_collocations",
    tags=("llm", "text", "collocation", "topk"),
    oracle=_PMI_ORACLE,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI adjacent-bigram collocations: the association statistic
    behind phrase detection (word2vec-style phrase merging, tokenizer
    vocab candidates). PMI's ln() is monotone, so the query ranks and
    reports the scaled lift C_ab·T/(C_a·C_b) instead — keeping both
    engines in exact int64 products and one correctly-rounded double
    division (expression shape identical on both sides; a broadcast-row
    assert_true guards the 2^53 exactness bound on C_ab·T). Bigrams are
    extracted map-only by zipping the token array with its own tail
    (slice + arrays_zip — NOT sequence(), whose empty-range semantics
    differ between engines); no positional self-join ever happens.

    Plan shape: two vocabulary-shuffled aggregates over one corpus
    scan each (bigram grain and unigram grain), then the bigram table
    joins the broadcast unigram counts twice and the broadcast total
    row; the final top-20 rides a filtered unpartitioned window over
    only the >= MIN_PAIR survivors."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("l"))
    uni = (
        toks.select(F.explode("l").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(
        F.sum("c").cast("long").alias("t")
    ).withColumn(
        # exactness guard: beyond this, switch lift to DECIMAL(38) math
        "t",
        F.expr(
            f"CASE WHEN assert_true(t < {_PMI_T_GUARD}L, 'PMI lift needs "
            f"decimal math beyond T={_PMI_T_GUARD}') IS NULL THEN t END"
        ),
    )
    pairs = (
        toks.withColumn("a1", F.expr("slice(l, 1, size(l) - 1)"))
        .withColumn("a2", F.expr("slice(l, 2, size(l) - 1)"))
        .select(F.explode(F.arrays_zip("a1", "a2")).alias("z"))
        .select(F.col("z.a1").alias("w1"), F.col("z.a2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= PMI_MIN_PAIR)
    )
    ua = uni.select(F.col("tok").alias("w1"), F.col("c").alias("w1_count"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c").alias("w2_count"))
    scored = (
        pairs.join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n").alias("pair_count"),
            "w1_count",
            "w2_count",
            F.expr(
                f"CAST(FLOOR(CAST(n * t AS DOUBLE)"
                f" / CAST(w1_count * w2_count AS DOUBLE)"
                f" * {PMI_SCALE}.0) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.orderBy(F.col("lift_ppm").desc(), "w1", "w2")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= PMI_TOPN)
    )


# ---------------------------------------------------------------------------
# Cross-source quality calibration — rank-based score normalization
# ---------------------------------------------------------------------------
_CALIB_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         RANK() OVER (PARTITION BY source ORDER BY n_chars) AS src_rank,
         COUNT(*) OVER (PARTITION BY source) AS n_src
  FROM documents
)
SELECT doc_id, source, n_chars,
       CAST(src_rank AS BIGINT) AS src_rank,
       CAST((src_rank - 1) * 1000 // NULLIF(n_src - 1, 0) AS BIGINT) AS pct_milli,
       CAST(CASE WHEN n_src > 1
                 THEN LEAST((src_rank - 1) * 10 // (n_src - 1), 9)
            END AS BIGINT) AS decile
FROM ranked
"""


@register(
    "text_quality_calibration",
    tags=("llm", "text", "quality", "window"),
    oracle=_CALIB_ORACLE,
)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank calibration of a quality signal (n_chars as the
    stand-in score): each document's within-source percentile in exact
    integer milli-units, plus its decile bucket. This is how
    heterogeneous sources mix without one source's score DISTRIBUTION
    dominating another's — a web crawl and a books corpus have
    incomparable raw scores, but 'top decile of its own source' is
    comparable, and the decile column feeds directly into
    dataset_mixture-style sampling weights. RANK (not row_number) keeps
    tied scores at the same percentile; the explicit
    (rank−1)·1000/(n−1) integer form avoids percent_rank()'s
    double-typed output and its engine-specific single-row edge case;
    a singleton source has no rank spread, so BOTH pct_milli (NULLIF)
    and decile (explicit CASE — LEAST would otherwise skip the NULL and
    return an arbitrary 9) are NULL for n_src = 1.

    Plan shape: one window over the source partitioning — a single
    exchange on the source key; no global sort. At 100 TB a source is
    still one window partition, so heavily skewed source sizes would
    switch this to the percentile-cutoff broadcast topology
    (text_lm_quality_buckets) at the cost of bucket granularity."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars")
    ws = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.rank().over(w).alias("src_rank"),
            F.count(F.lit(1)).over(ws).alias("n_src"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("src_rank").cast("long").alias("src_rank"),
            F.expr(
                "CAST((src_rank - 1) * 1000 div NULLIF(n_src - 1, 0) AS BIGINT)"
            ).alias("pct_milli"),
            # decile NULL-propagates for a singleton source (ADVICE r6):
            # LEAST skips NULLs in both engines, so the raw form returned
            # an arbitrary 9 for n_src=1 — the CASE makes pct_milli and
            # decile consistently undefined when there is no rank spread.
            F.expr(
                "CAST(CASE WHEN n_src > 1"
                " THEN LEAST((src_rank - 1) * 10 div (n_src - 1), 9)"
                " END AS BIGINT)"
            ).alias("decile"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM surprisal — a perplexity proxy in exact integer arithmetic
# ---------------------------------------------------------------------------
_SURPRISAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), big AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(l))) AS u(i)
), model AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY 1, 2
), firsts AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM model GROUP BY w1
), scored AS (
  SELECT m.w1, m.w2,
         length(bin(f.c1 // m.c12)) - 1 AS bits
  FROM model m JOIN firsts f USING (w1)
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(s.bits) AS BIGINT) AS total_bits,
       CAST(SUM(s.bits) * 1000 // COUNT(*) AS BIGINT) AS bits_per_bigram_milli
FROM big b JOIN scored s ON s.w1 = b.w1 AND s.w2 = b.w2
GROUP BY b.doc_id
"""


@register(
    "text_bigram_surprisal",
    tags=("llm", "text", "quality", "lm"),
    oracle=_SURPRISAL_ORACLE,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal scoring — the perplexity-proxy quality signal
    (KenLM-style filtering, made exactly portable): train adjacent-bigram
    counts on the corpus itself, then score each document by the summed
    surprisal of its bigrams under the model,
    floor(log2(P(w2|w1)^-1)) = floor(log2(c(w1,*) / c(w1,w2))) bits.
    The integer log2 is length(bin(q)) - 1 — bit length is exact and
    identical in both engines (the HLL rank trick), so a
    transcendental-looking LM score stays hash-checkable; the quotient is
    >= 1 by construction (a bigram's count never exceeds its first
    token's continuation total). High bits/bigram = improbable word
    transitions under the corpus's own statistics — boilerplate and
    fluent text score low, gibberish and shuffled text score high; the
    milli-normalized column feeds the same mixture/filter machinery as
    text_lm_quality_buckets.

    Plan shape: ONE bigram explode feeds both the model aggregate
    (vocabulary-grain shuffle) and the scoring join back onto the same
    exploded rows ((w1,w2)-keyed shuffle join — vocabulary-sized build
    side), then one doc-grain aggregate. No window, no driver state; at
    100 TB every exchange is bigram-vocabulary- or corpus-linear, and
    the model table could be persisted once and broadcast for repeated
    scoring passes. Grain: documents with >= 2 tokens (a shorter doc has
    no bigram and no defined surprisal)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("l"))
    big = (
        toks.withColumn("a1", F.expr("slice(l, 1, size(l) - 1)"))
        .withColumn("a2", F.expr("slice(l, 2, size(l) - 1)"))
        .select("doc_id", F.explode(F.arrays_zip("a1", "a2")).alias("z"))
        .select("doc_id", F.col("z.a1").alias("w1"), F.col("z.a2").alias("w2"))
    )
    model = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    firsts = model.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    scored = model.join(firsts, "w1").select(
        "w1", "w2",
        (F.length(F.expr("bin(c1 div c12)")) - 1).alias("bits"),
    )
    return (
        big.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").cast("long").alias("total_bits"),
            F.expr("CAST(SUM(bits) * 1000 div COUNT(*) AS BIGINT)").alias(
                "bits_per_bigram_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval — the RAG-pipeline lexical search primitive
# ---------------------------------------------------------------------------
# Fixed literal query set (query_id, term) — the retrieval workload is a
# constant the way sim_cosine_topk's N_QUERIES is: tiny, broadcast, known.
BM25_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_join", "spark"), ("q_join", "join"),
    ("q_window", "window"), ("q_window", "agg"),
    ("q_stream", "stream"), ("q_stream", "batch"), ("q_stream", "data"),
    ("q_cust", "customer"), ("q_cust", "order"),
)
BM25_TOP_K = 10
# k1 = 1.2 and b = 0.75 carried in milli units; the idf is the RAW
# Robertson ratio (2N - 2df + 1)/(2df + 1) in ppm — log-free, like
# text_pmi_collocations reports the ratio instead of ln(ratio): log is
# monotone, so per-term weighting order is preserved while every operation
# stays exact integer arithmetic that hashes identically cross-engine.
# (Unlike PMI's single-term ranking, SUMMING ratio-idf instead of log-idf
# does change multi-term blends — documented as this operator's scoring
# function, deterministic and portable by construction.)

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)

# CTE body factored out so retrieval.py's RRF fusion oracle can reuse the
# exact same lexical ranking text (`ranked` is the consumable CTE); the
# composed _BM25_ORACLE string is byte-identical to its pre-factoring form.
_BM25_CTES = f"""queries(query_id, term) AS (
  VALUES {_BM25_VALUES}
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) * 1000
           // COUNT(*) AS avgdl_milli
  FROM documents
), posting AS (
  SELECT tok AS term, doc_id, dl, COUNT(*) AS tf
  FROM (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS tok
    FROM documents
  )
  WHERE tok IN (SELECT DISTINCT term FROM queries)
  GROUP BY tok, doc_id, dl
), df AS (
  SELECT term, COUNT(*) AS df FROM posting GROUP BY term
), scored AS (
  SELECT q.query_id, p.doc_id,
         ((2 * s.n_docs - 2 * d.df + 1) * 1000000 // (2 * d.df + 1)) // 1000
           * (p.tf * 2200 * 1000
              // (p.tf * 1000
                  + (1200 * (250 + (750 * (p.dl * 1000000 // s.avgdl_milli))
                                   // 1000)) // 1000)) AS term_score
  FROM queries q
  JOIN posting p ON p.term = q.term
  JOIN df d ON d.term = q.term
  CROSS JOIN stats s
), ranked AS (
  SELECT query_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(term_score) AS BIGINT) AS score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY SUM(term_score) DESC, doc_id) AS rk
  FROM scored GROUP BY query_id, doc_id
)"""

_BM25_ORACLE = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, n_terms_matched, score, rk
FROM ranked WHERE rk <= {BM25_TOP_K}
"""


@register(
    "text_bm25_search",
    tags=("llm", "text", "retrieval", "bm25", "topk"),
    oracle=_BM25_ORACLE,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval — the keyword half of every RAG / training-
    data search stack (Robertson & Zaragoza 2009), in exact integer
    arithmetic: for a fixed literal query set, score each matching
    document SUM over matched terms of idf_surrogate x tf-saturation and
    return the top-k per query. tf saturation is the real BM25 form
    (k1 = 1.2, b = 0.75, carried in milli units with explicit integer-div
    ordering mirrored in the oracle); the idf is the raw Robertson ratio
    (2N-2df+1)/(2df+1) in ppm — log-free so the score stays
    hash-checkable (the text_pmi_collocations precedent; log is monotone
    per term, and the blended scoring function is documented as this
    operator's own). The idf's leading `div 1000` happens BEFORE the tf
    product so the int64 headroom holds to ~1e12 docs.

    Plan shape: the query terms prune the posting build at the SCAN
    (explode -> IN-list filter -> (term, doc) count — a posting list for
    9 terms, not a corpus index); df is a terms-sized aggregate; the
    scoring join is posting x broadcast(queries ⋈ df ⋈ corpus-stats);
    one doc-grain sum and a top-k window per query (K x |queries| rows).
    At 100 TB nothing shuffles at corpus grain except the pruned posting
    build, and a pre-built inverted index (layout family) would replace
    even that with a bucket-pruned read."""
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(BM25_QUERIES), ["query_id", "term"]
    )
    terms = sorted({t for _, t in BM25_QUERIES})
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "CAST(SUM(size(split(text, ' '))) AS BIGINT) * 1000"
            " div COUNT(*)"
        ).alias("avgdl_milli"),
    )
    posting = (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("dl"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        posting.join(F.broadcast(queries), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))"
                " div 1000"
                " * (tf * 2200 * 1000"
                "    div (tf * 1000"
                "         + (1200 * (250 + (750 * (dl * 1000000"
                "                                  div avgdl_milli))"
                "                          div 1000)) div 1000))"
            ).alias("term_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    return (
        scored.groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum("term_score").cast("long").alias("score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BM25_TOP_K)
    )


# ---------------------------------------------------------------------------
# HLL source-overlap — sketch-based cross-source vocabulary contamination
# ---------------------------------------------------------------------------
_HLL_LC_LIST = ", ".join(str(v) for v in HLL_LC_TABLE)


def _hll_est_duck(regs: str, keys: str) -> str:
    """DuckDB CTE pair (est_<regs>, cor_<regs>) applying the portable-HLL
    estimate (harmonic sum in exact int64 + codegen-time linear-counting
    table) to a register CTE grouped by ``keys`` — the same formula
    text_hll_cardinality inlines, factored so the pair-grain estimate is
    literally the single-source one."""
    return f"""est_{regs} AS (
  SELECT {keys}, CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_registers,
         SUM(1::BIGINT << ({HLL_RMAX} - m))
           + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_RMAX}) AS s
  FROM {regs} GROUP BY {keys}
), cor_{regs} AS (
  SELECT {keys},
         CAST(CASE WHEN zero_registers > 0 AND raw_est < {HLL_LC_THRESHOLD}
              THEN ([{_HLL_LC_LIST}])[zero_registers + 1]
              ELSE raw_est END AS BIGINT) AS est
  FROM (SELECT {keys}, zero_registers,
               ({HLL_ALPHA_NUM} * {HLL_M} * {HLL_M}
                  * (1::BIGINT << {HLL_RMAX}))
                 // ({HLL_ALPHA_DEN} * s) AS raw_est
        FROM est_{regs})
)"""


_HLL_OVERLAP_ORACLE = f"""
WITH st AS (
  SELECT DISTINCT source, tok
  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
), r AS (
  SELECT source, CAST({_HLL_J_DUCK} AS INT) AS j, {_HLL_RHO_DUCK} AS rho
  FROM st
), regs_src AS (
  SELECT source, j, MAX(rho) AS m FROM r GROUP BY source, j
), prs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM st) a
  JOIN (SELECT DISTINCT source FROM st) b ON a.source < b.source
), pair_regs AS (
  SELECT p.sa, p.sb, r.j, MAX(r.m) AS m
  FROM prs p JOIN regs_src r ON r.source = p.sa OR r.source = p.sb
  GROUP BY p.sa, p.sb, r.j
), {_hll_est_duck("regs_src", "source")},
{_hll_est_duck("pair_regs", "sa, sb")},
ex AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM st GROUP BY source
), inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS c
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.sa AS source_a, p.sb AS source_b,
       xa.c AS exact_a, xb.c AS exact_b,
       COALESCE(i.c, 0) AS exact_inter,
       xa.c + xb.c - COALESCE(i.c, 0) AS exact_union,
       ca.est AS hll_a, cb.est AS hll_b, cp.est AS hll_union,
       ca.est + cb.est - cp.est AS hll_inter,
       CAST(abs(cp.est - (xa.c + xb.c - COALESCE(i.c, 0))) * 1000
            // (xa.c + xb.c - COALESCE(i.c, 0)) AS BIGINT)
         AS hll_union_err_permille,
       CAST(COALESCE(i.c, 0) * 1000
            // (xa.c + xb.c - COALESCE(i.c, 0)) AS BIGINT) AS jaccard_milli,
       CAST(GREATEST(ca.est + cb.est - cp.est, 0) * 1000
            // cp.est AS BIGINT) AS hll_jaccard_milli
FROM prs p
JOIN cor_regs_src ca ON ca.source = p.sa
JOIN cor_regs_src cb ON cb.source = p.sb
JOIN cor_pair_regs cp ON cp.sa = p.sa AND cp.sb = p.sb
JOIN ex xa ON xa.source = p.sa
JOIN ex xb ON xb.source = p.sb
LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
"""


@register(
    "text_hll_overlap",
    tags=("llm", "text", "sketch", "cardinality", "overlap"),
    oracle=_HLL_OVERLAP_ORACLE,
)
def text_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap from HLL sketches — the
    contamination/leakage estimator that works when two corpus shards
    can't be joined: for every source pair, the UNION sketch is the
    register-wise MAX of the two per-source sketches (the HLL merge
    law), and the intersection estimate is inclusion-exclusion
    |A| + |B| - |A∪B| — the standard sketch-overlap recipe (and its
    known weakness: the subtraction can go NEGATIVE for small true
    overlaps, which the raw hll_inter column deliberately exposes while
    hll_jaccard_milli clamps at 0). Exact distinct counts and the exact
    pairwise intersection ride along so every pair row carries its own
    error audit (hll_union_err_permille), the same honest-recall pattern
    as sim_ann_ivfadc_recall.

    Plan shape: ONE corpus scan -> (source, tok) distinct (vocabulary-
    sized, cached) -> 64-register sketches per source; the pair frame is
    |sources|^2/2 rows of 64-int registers — constant-size state per
    source, so at 100 TB each shard ships 64 ints, never its
    vocabulary; only the exact-audit join touches vocabulary-grain data
    (drop it in production and the whole comparison is sketch-sized).
    All estimate arithmetic is the exact-int64 portable-HLL form
    (md5-bridged hash, bit-length rank, codegen-time linear-counting
    table) shared with text_hll_cardinality."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .cache()
    )
    j_expr, rho_expr = _hll_register_sql(_HLL_H_SPARK, "div")
    regs = (
        st.select(
            "source",
            F.expr(f"CAST({j_expr} AS INT)").alias("j"),
            F.expr(rho_expr).alias("rho"),
        )
        .groupBy("source", "j")
        .agg(F.max("rho").alias("m"))
        .cache()  # reused by the single-source and pair-grain estimates
    )
    two_rmax = 1 << HLL_RMAX
    numer = HLL_ALPHA_NUM * HLL_M * HLL_M * two_rmax

    def estimate(grouped, out):
        est = grouped.agg(
            (HLL_M - F.count(F.lit(1))).cast("long").alias("zero_registers"),
            (
                F.sum(F.expr(f"shiftleft(1L, {HLL_RMAX} - m)"))
                + (HLL_M - F.count(F.lit(1))) * F.lit(two_rmax)
            ).alias("s"),
        )
        return est.select(
            *[c for c in est.columns if c not in ("zero_registers", "s")],
            F.expr(
                f"CAST(CASE WHEN zero_registers > 0"
                f" AND {numer}L div ({HLL_ALPHA_DEN} * s) < {HLL_LC_THRESHOLD}"
                f" THEN element_at(array({_HLL_LC_LIST}),"
                f" CAST(zero_registers + 1 AS INT))"
                f" ELSE {numer}L div ({HLL_ALPHA_DEN} * s) END AS BIGINT)"
            ).alias(out),
        )

    srcs = st.select("source").distinct()
    prs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(srcs.select(F.col("source").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    pair_regs = (
        prs.join(regs, F.col("source") == F.col("source_a"))
        .select("source_a", "source_b", "j", "m")
        .unionByName(
            prs.join(regs, F.col("source") == F.col("source_b")).select(
                "source_a", "source_b", "j", "m"
            )
        )
        .groupBy("source_a", "source_b", "j")
        .agg(F.max("m").alias("m"))
    )
    est_src = estimate(regs.groupBy("source"), "est")
    est_pair = estimate(pair_regs.groupBy("source_a", "source_b"), "hll_union")
    ex = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("c"))
    inter = (
        st.select(F.col("source").alias("source_a"), "tok")
        .join(
            st.select(F.col("source").alias("source_b"), "tok"),
            "tok",
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    return (
        prs.join(
            F.broadcast(est_src.select(F.col("source").alias("source_a"),
                                       F.col("est").alias("hll_a"))),
            "source_a",
        )
        .join(
            F.broadcast(est_src.select(F.col("source").alias("source_b"),
                                       F.col("est").alias("hll_b"))),
            "source_b",
        )
        .join(F.broadcast(est_pair), ["source_a", "source_b"])
        .join(
            F.broadcast(ex.select(F.col("source").alias("source_a"),
                                  F.col("c").alias("exact_a"))),
            "source_a",
        )
        .join(
            F.broadcast(ex.select(F.col("source").alias("source_b"),
                                  F.col("c").alias("exact_b"))),
            "source_b",
        )
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "exact_a",
            "exact_b",
            F.coalesce("exact_inter", F.lit(0)).alias("exact_inter"),
            (
                F.col("exact_a") + F.col("exact_b")
                - F.coalesce("exact_inter", F.lit(0))
            ).alias("exact_union"),
            "hll_a",
            "hll_b",
            "hll_union",
            (F.col("hll_a") + F.col("hll_b") - F.col("hll_union")).alias(
                "hll_inter"
            ),
        )
        .select(
            "*",
            F.expr(
                "CAST(abs(hll_union - exact_union) * 1000 div exact_union"
                " AS BIGINT)"
            ).alias("hll_union_err_permille"),
            F.expr(
                "CAST(exact_inter * 1000 div exact_union AS BIGINT)"
            ).alias("jaccard_milli"),
            F.expr(
                "CAST(GREATEST(hll_inter, 0L) * 1000 div hll_union"
                " AS BIGINT)"
            ).alias("hll_jaccard_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate n-gram flagging — the C4-style corpus-frequency filter
# ---------------------------------------------------------------------------
BOILER_W = 3         # sliding window width (tokens)
BOILER_MIN_DOCS = 10  # a span seen in >= this many DISTINCT docs is boilerplate


@register(
    "text_boilerplate_ngrams",
    tags=("llm", "text", "quality", "boilerplate"),
    oracle=f"""
WITH pos AS (
  SELECT doc_id,
         list_transform(range(1, len(words) - {BOILER_W - 2}),
                        i -> words[i] || ' ' || words[i+1] || ' '
                             || words[i+2]) AS spans
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
  WHERE len(words) >= {BOILER_W}
), exploded AS (
  SELECT doc_id, unnest(spans) AS span FROM pos
), df AS (
  SELECT span, COUNT(DISTINCT doc_id) AS n_docs
  FROM exploded GROUP BY span
), boiler AS (
  SELECT span FROM df WHERE n_docs >= {BOILER_MIN_DOCS}
)
SELECT e.doc_id,
       COUNT(*) AS n_spans,
       CAST(COUNT(*) FILTER (WHERE b.span IS NOT NULL) AS BIGINT)
         AS n_boiler,
       CAST(COUNT(*) FILTER (WHERE b.span IS NOT NULL) * 1000
            // COUNT(*) AS BIGINT) AS boiler_permille
FROM exploded e LEFT JOIN boiler b ON b.span = e.span
GROUP BY e.doc_id
""",
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate flagging — the C4/RefinedWeb curation
    rule text_span_dedup deliberately is NOT: span_dedup keeps each
    span's FIRST occurrence (ExactSubstr semantics); this one scores
    every SLIDING BOILER_W-token window against its corpus document
    frequency and flags ALL occurrences of spans seen in >=
    BOILER_MIN_DOCS distinct documents — headers, navigation chrome,
    license blurbs repeat across documents and get removed everywhere,
    including their first appearance. Output is the per-doc audit
    (total positions, boilerplate positions, permille) that feeds the
    same filter thresholds as text_quality_score. Grain: docs with >=
    BOILER_W tokens (shorter docs have no window).

    Plan shape: one explode to sliding positions; df is a span-grain
    groupBy with COUNT(DISTINCT doc_id) (two-level: map-side combine on
    (span, doc) then span — Spark plans distinct-agg exactly so); the
    flagging join is position ⋈ span-keyed boilerplate set, then one
    doc-grain aggregate. At 100 TB every exchange is span-vocabulary- or
    position-linear, and the span key would ship as xxhash64(span) —
    8 bytes — with text never entering an Exchange (the
    corpus_curation_pipeline rule)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= BOILER_W
    )
    exploded = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {BOILER_W - 1}),"
                f" i -> concat_ws(' ', slice(w, i, {BOILER_W})))"
            )
        ).alias("span"),
    )
    boiler = (
        exploded.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("span", F.lit(True).alias("is_boiler"))
    )
    return (
        exploded.join(boiler, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count_if(F.col("is_boiler").isNotNull())
            .cast("long")
            .alias("n_boiler"),
            F.expr(
                "CAST(COUNT_IF(is_boiler IS NOT NULL) * 1000 div COUNT(*)"
                " AS BIGINT)"
            ).alias("boiler_permille"),
        )
    )


@register(
    "dataset_temperature_weights",
    tags=("llm", "sampling", "aggregate", "mixture"),
    oracle="""
WITH per_src AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
), w AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_mass
  FROM per_src
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(sqrt_mass) AS BIGINT) AS total_sqrt
  FROM w
)
SELECT lang, source, n_docs, n_tokens, sqrt_mass,
       CAST(sqrt_mass * 1000000 // total_sqrt AS BIGINT) AS weight_ppm,
       CAST(n_tokens * 1000000 // total_tokens AS BIGINT) AS actual_ppm,
       CAST((sqrt_mass * 1000000 // total_sqrt) * 1000
            // (n_tokens * 1000000 // total_tokens) AS BIGINT)
         AS upsample_milli
FROM w, tot
""",
)
def dataset_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights, alpha = 0.5 — the
    multilingual-pretraining recipe (sample domain d with probability
    proportional to mass_d^alpha; mBERT/XLM-R use alpha ~0.3-0.7) that
    sits BETWEEN dataset_mixture_weights' uniform target (alpha = 0) and
    proportional sampling (alpha = 1): low-resource domains upsample,
    high-resource ones downsample, without flattening the mixture
    entirely. alpha = 1/2 is the portable choice: mass^0.5 is
    FLOOR(SQRT(n_tokens)) — IEEE sqrt of an exactly-representable int64
    is correctly rounded and identical in both engines, so the whole
    weight table stays hash-checkable (the transcendental-free
    discipline of text_pmi_collocations; a general alpha needs pow(),
    which is NOT correctly rounded and would break the bridge).
    upsample_milli > 1000 marks domains a sampler repeats.

    Plan shape: one corpus aggregate to (lang, source) grain + a 1-row
    broadcast of the totals — identical budget to
    dataset_mixture_weights, output broadcast-sized downstream."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = per_src.withColumn(
        "sqrt_mass",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long"),
    )
    tot = w.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("sqrt_mass").cast("long").alias("total_sqrt"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "sqrt_mass",
        F.expr("CAST(sqrt_mass * 1000000 div total_sqrt AS BIGINT)").alias(
            "weight_ppm"
        ),
        F.expr("CAST(n_tokens * 1000000 div total_tokens AS BIGINT)").alias(
            "actual_ppm"
        ),
        F.expr(
            "CAST((sqrt_mass * 1000000 div total_sqrt) * 1000"
            " div (n_tokens * 1000000 div total_tokens) AS BIGINT)"
        ).alias("upsample_milli"),
    )


# ---------------------------------------------------------------------------
# Train/val/test split leakage audit — cross-split duplicate groups
# ---------------------------------------------------------------------------
# The silent eval-corruption bug in every training pipeline: near-identical
# documents land on both sides of a content-addressed split (the md5-by-id
# rule CANNOT prevent it — clones have different ids, so ~25% of clone
# pairs straddle train/val/test by construction). This audit groups the
# corpus by the order-insensitive token-bag fingerprint (text_fingerprint's
# canon) and reports every group that spans >=2 splits, with the per-split
# census. The split rule is EXACTLY dataset_split_assign's md5 first-hex
# rule (crosshash.split_assign_col / SPLIT_CASE_SQL), so the two operators
# cannot drift.

_SPLIT_LEAKAGE_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
         {SPLIT_CASE_SQL} AS split
  FROM documents
), grp AS (
  SELECT fp,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT split) AS n_splits,
         MIN(doc_id) AS min_doc_id,
         SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS train_docs,
         SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS val_docs,
         SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS test_docs
  FROM assigned GROUP BY fp
)
SELECT fp AS fingerprint,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_splits AS BIGINT) AS n_splits,
       CAST(min_doc_id AS BIGINT) AS min_doc_id,
       CAST(train_docs AS BIGINT) AS train_docs,
       CAST(val_docs AS BIGINT) AS val_docs,
       CAST(test_docs AS BIGINT) AS test_docs
FROM grp WHERE n_splits >= 2
"""


@register(
    "dataset_split_leakage",
    tags=("llm", "text", "splitting", "dedup", "audit"),
    oracle=_SPLIT_LEAKAGE_ORACLE,
)
def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split duplicate-group audit: every token-bag-fingerprint
    group that spans >=2 of the md5-assigned train/val/test splits, with
    its per-split census — the decontamination step that runs BEFORE
    eval numbers are trusted. Groups are keyed by the order-insensitive
    canonical fingerprint (sorted distinct token bag -> md5), so
    reordered/duplicated-token clones are caught, not just byte clones.

    Plan shape: fingerprint and split are map-only column transforms;
    ONE fingerprint-keyed exchange groups the corpus (map-side
    combinable counts); the >=2-splits filter prunes to the leaked
    tail. Same budget as exact dedup — the fingerprint is the 16-byte
    shuffle key, raw text never shuffles. At 100 TB this composes with
    the near-dup family: feed minhash cluster labels in place of the
    fingerprint for fuzzy leakage at identical plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.concat_ws(" ", F.sort_array(F.array_distinct(F.split("text", " "))))
    assigned = docs.select(
        "doc_id",
        F.md5(canon).alias("fp"),
        split_assign_col().alias("split"),
    )
    grp = assigned.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.min("doc_id").alias("min_doc_id"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("train_docs"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("val_docs"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("test_docs"),
    )
    return grp.filter(F.col("n_splits") >= 2).selectExpr(
        "fp AS fingerprint",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_splits AS BIGINT) AS n_splits",
        "CAST(min_doc_id AS BIGINT) AS min_doc_id",
        "CAST(train_docs AS BIGINT) AS train_docs",
        "CAST(val_docs AS BIGINT) AS val_docs",
        "CAST(test_docs AS BIGINT) AS test_docs",
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch plan — turning mixture weights into repeat factors
# ---------------------------------------------------------------------------
# The step after dataset_temperature_weights: given a token training budget
# (a fixed multiple of the corpus) and the alpha=1/2 temperature target, how
# many EPOCHS of each (lang, source) does the sampler actually run, with
# repeats capped (the data-constrained-scaling recipe: repeating pretraining
# data beyond ~4 epochs stops helping, so capped domains surrender their
# excess budget)? All integer: the target allocation is budget·sqrt_mass //
# total_sqrt, epochs are milli-units capped at EPOCH_CAP_MILLI, and the
# planned token count folds the truncation back so planned <= target always
# holds (invariant-testable). Products carry DECIMAL(38,0) on the Spark side
# (n_tokens × 1000000 exceeds int64 at real corpus sizes; DuckDB
# auto-promotes to HUGEINT).
_EPOCH_BUDGET_MULT = 2  # train budget = 2x the corpus token mass
_EPOCH_CAP_MILLI = 4000  # max 4 epochs per domain

_EPOCH_ORACLE = f"""
WITH per_src AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
), w AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS sqrt_mass
  FROM per_src
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(sqrt_mass) AS BIGINT) AS total_sqrt
  FROM w
), plan AS (
  SELECT lang, source, n_docs, n_tokens, sqrt_mass,
         total_tokens * {_EPOCH_BUDGET_MULT} * sqrt_mass // total_sqrt
           AS target_tokens,
         LEAST({_EPOCH_CAP_MILLI},
               total_tokens * {_EPOCH_BUDGET_MULT} * sqrt_mass
                 // total_sqrt * 1000 // n_tokens) AS epochs_milli
  FROM w, tot
)
SELECT lang, source, n_docs, n_tokens, sqrt_mass,
       CAST(target_tokens AS BIGINT) AS target_tokens,
       CAST(epochs_milli AS BIGINT) AS epochs_milli,
       CAST(epochs_milli = {_EPOCH_CAP_MILLI} AS INT) AS capped,
       CAST(n_tokens * epochs_milli // 1000 AS BIGINT) AS planned_tokens,
       CAST(target_tokens - n_tokens * epochs_milli // 1000 AS BIGINT)
         AS shortfall_tokens
FROM plan
"""


@register(
    "dataset_epoch_plan",
    tags=("llm", "sampling", "mixture", "aggregate"),
    oracle=_EPOCH_ORACLE,
)
def dataset_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain epoch/repeat plan for a token budget of 2x the corpus
    under the alpha=1/2 temperature target — the actionable output of
    dataset_temperature_weights: epochs_milli is how many passes the
    sampler makes over each (lang, source) (1000 = exactly once),
    capped at 4 epochs per the data-constrained-scaling rule, with the
    surrendered budget reported as shortfall_tokens. planned <= target
    by construction (truncating splits), so the plan never overspends.

    Scale shape: identical to dataset_temperature_weights — one corpus
    aggregate to (lang, source) grain plus a 1-row totals broadcast;
    the plan itself is domain-grain (broadcast-sized). The sqrt is
    FLOOR(SQRT(int64)) — correctly rounded IEEE, identical in both
    engines (the transcendental-free bridge discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = per_src.withColumn(
        "sqrt_mass",
        F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long"),
    )
    tot = w.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("sqrt_mass").cast("long").alias("total_sqrt"),
    )
    plan = w.crossJoin(F.broadcast(tot)).selectExpr(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "sqrt_mass",
        f"CAST(total_tokens AS DECIMAL(38,0)) * {_EPOCH_BUDGET_MULT} * sqrt_mass"
        " div total_sqrt AS target_tokens",
        f"""LEAST(CAST({_EPOCH_CAP_MILLI} AS BIGINT),
              CAST(CAST(total_tokens AS DECIMAL(38,0)) * {_EPOCH_BUDGET_MULT}
                   * sqrt_mass div total_sqrt AS DECIMAL(38,0))
                * 1000 div n_tokens) AS epochs_milli""",
    )
    return plan.selectExpr(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "sqrt_mass",
        "CAST(target_tokens AS BIGINT) AS target_tokens",
        "CAST(epochs_milli AS BIGINT) AS epochs_milli",
        f"CAST(epochs_milli = {_EPOCH_CAP_MILLI} AS INT) AS capped",
        "CAST(CAST(n_tokens AS DECIMAL(38,0)) * epochs_milli div 1000 AS BIGINT)"
        " AS planned_tokens",
        "CAST(target_tokens - CAST(n_tokens AS DECIMAL(38,0)) * epochs_milli"
        " div 1000 AS BIGINT) AS shortfall_tokens",
    )


# ---------------------------------------------------------------------------
# Gopher quality rules — the classic pretraining document filter
# ---------------------------------------------------------------------------
# The rule family from the Gopher/MassiveText data pipeline (word-count
# bounds, mean-word-length band, symbol-to-word ratio, alphabetic-word
# fraction, minimum stopword evidence), each computed in exact integer
# milli-units per document and reported as per-(source, lang) fail counts —
# the shape a curation dashboard consumes before setting thresholds. The
# per-rule thresholds are the published ones where integer-expressible.
_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "that")

_GOPHER_ORACLE = f"""
WITH per_doc AS (
  SELECT source, lang,
         len(string_split(text, ' ')) AS n_words,
         list_sum(list_transform(string_split(text, ' '), w -> len(w)))
           AS sum_wlen,
         len(list_filter(string_split(text, ' '),
                         w -> regexp_matches(w, '^[A-Za-z]'))) AS n_alpha,
         len(list_filter(string_split(text, ' '),
                         w -> contains(w, '#') OR contains(w, '...')))
           AS n_symbol,
         {" + ".join(f"CAST(list_contains(string_split(text, ' '), '{s}') AS INT)" for s in _GOPHER_STOPWORDS)}
           AS stop_hits
  FROM documents
), flags AS (
  SELECT source, lang,
         CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_word_count,
         CAST(sum_wlen * 1000 // n_words BETWEEN 3000 AND 10000 AS INT)
           AS ok_mean_wlen,
         CAST(n_symbol * 1000 // n_words <= 100 AS INT) AS ok_symbol_ratio,
         CAST(n_alpha * 1000 // n_words >= 800 AS INT) AS ok_alpha_frac,
         CAST(stop_hits >= 2 AS INT) AS ok_stopwords
  FROM per_doc WHERE n_words > 0
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(1 - ok_word_count) AS BIGINT) AS fail_word_count,
       CAST(SUM(1 - ok_mean_wlen) AS BIGINT) AS fail_mean_wlen,
       CAST(SUM(1 - ok_symbol_ratio) AS BIGINT) AS fail_symbol_ratio,
       CAST(SUM(1 - ok_alpha_frac) AS BIGINT) AS fail_alpha_frac,
       CAST(SUM(1 - ok_stopwords) AS BIGINT) AS fail_stopwords,
       CAST(SUM(ok_word_count * ok_mean_wlen * ok_symbol_ratio
                * ok_alpha_frac * ok_stopwords) AS BIGINT) AS n_pass_all
FROM flags GROUP BY source, lang
"""


@register(
    "text_gopher_rules",
    tags=("llm", "text", "quality", "curation"),
    oracle=_GOPHER_ORACLE,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition-free quality rules per document, rolled up
    to per-(source, lang) fail counts: word-count bounds [50, 100000],
    mean word length in [3.0, 10.0], symbol-to-word ratio <= 0.1
    ('#'/'...' carriers), alphabetic-word fraction >= 0.8, and >= 2
    distinct stopwords present. Every ratio is an exact integer milli
    division, so the rule verdicts hash-match across engines — the
    filter itself is the deliverable (n_pass_all is what survives).

    Scale shape: pure per-row expression work (higher-order array
    functions inside whole-stage codegen — no UDF, no explode: the
    token array never leaves the row) followed by ONE
    map-side-combinable aggregate to (source, lang) grain. At 100 TB
    this is a single scan + a kilobyte-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    stop_hits = None
    for s in _GOPHER_STOPWORDS:
        term = F.array_contains(words, s).cast("int")
        stop_hits = term if stop_hits is None else stop_hits + term
    per_doc = docs.select(
        "source",
        "lang",
        F.size(words).alias("n_words"),
        F.expr(
            "aggregate(split(text, ' '), 0L, (acc, w) -> acc + length(w))"
        ).alias("sum_wlen"),
        F.size(F.filter(words, lambda w: w.rlike("^[A-Za-z]"))).alias("n_alpha"),
        F.size(
            F.filter(
                words,
                lambda w: w.contains("#") | w.contains("..."),
            )
        ).alias("n_symbol"),
        stop_hits.alias("stop_hits"),
    ).filter(F.col("n_words") > 0)
    flags = per_doc.selectExpr(
        "source",
        "lang",
        "CAST(n_words BETWEEN 50 AND 100000 AS INT) AS ok_word_count",
        "CAST(sum_wlen * 1000 div n_words BETWEEN 3000 AND 10000 AS INT)"
        " AS ok_mean_wlen",
        "CAST(n_symbol * 1000 div n_words <= 100 AS INT) AS ok_symbol_ratio",
        "CAST(n_alpha * 1000 div n_words >= 800 AS INT) AS ok_alpha_frac",
        "CAST(stop_hits >= 2 AS INT) AS ok_stopwords",
    )
    return flags.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(1 - F.col("ok_word_count")).cast("long").alias("fail_word_count"),
        F.sum(1 - F.col("ok_mean_wlen")).cast("long").alias("fail_mean_wlen"),
        F.sum(1 - F.col("ok_symbol_ratio")).cast("long").alias("fail_symbol_ratio"),
        F.sum(1 - F.col("ok_alpha_frac")).cast("long").alias("fail_alpha_frac"),
        F.sum(1 - F.col("ok_stopwords")).cast("long").alias("fail_stopwords"),
        F.sum(
            F.col("ok_word_count")
            * F.col("ok_mean_wlen")
            * F.col("ok_symbol_ratio")
            * F.col("ok_alpha_frac")
            * F.col("ok_stopwords")
        )
        .cast("long")
        .alias("n_pass_all"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility report — tokens-per-word by (lang, source): the
# standard multilingual-tokenizer health metric (a BPE trained on mixed
# text segments under-represented languages into more pieces; fertility
# >> 1 flags languages paying a token tax in the training budget).
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
WITH {{ctes}}, wc AS (
  SELECT lang, source, word
  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS word
        FROM documents)
)
SELECT lang, source,
  CAST(COUNT(*) AS BIGINT) AS n_words,
  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
  CAST(SUM(COALESCE(len(v.syms), 1)) AS BIGINT) AS n_bpe_tokens,
  CAST(SUM(COALESCE(len(v.syms), 1)) * 1000 // COUNT(*) AS BIGINT)
    AS fertility_milli,
  CAST(SUM(length(word)) * 1000 // SUM(COALESCE(len(v.syms), 1)) AS BIGINT)
    AS chars_per_token_milli
FROM wc LEFT JOIN v{BPE_TRAIN_ITERS} v USING (word)
GROUP BY lang, source
"""


@register(
    "text_bpe_fertility",
    tags=("llm", "text", "bpe", "quality"),
    oracle=_FERTILITY_ORACLE.format(ctes=_bpe_train_ctes()),
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by (lang, source) under the trained BPE:
    words, characters, BPE tokens, fertility (tokens per word, milli) and
    characters per token (milli) — the per-language token-tax report a
    multilingual pretraining run reads before fixing mixture weights
    (fairness ref: the XLM-R / NLLB fertility analyses). Words below the
    training length floor count as one token, same as text_bpe_apply.

    Plan shape: the trained vocabulary is a persisted artifact (built
    once per corpus by the text_bpe_train loop — vocabulary-sized, never
    corpus-rescanned) broadcast-joined onto ONE corpus explode, then a
    (lang, source)-grain map-side-combinable aggregate. All ratios are
    integer milli via truncating division on positive operands, so the
    report hash-matches the unrolled DuckDB training chain exactly."""
    from ._shared import persisted_artifact

    docs = load_table(spark, sf_dir, "documents")
    vocab = persisted_artifact(
        spark,
        "bpe_vocab",
        docs.inputFiles(),
        lambda: _bpe_train_impl(spark, sf_dir)[1],
    )
    words = docs.select(
        "lang", "source", F.explode(F.split("text", " ")).alias("word")
    )
    joined = words.join(
        F.broadcast(vocab.select("word", F.size("syms").alias("n_syms"))),
        "word",
        "left",
    )
    toks = F.sum(F.coalesce("n_syms", F.lit(1)))
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        toks.cast("long").alias("n_bpe_tokens"),
        F.expr(
            "CAST(SUM(COALESCE(n_syms, 1)) * 1000 div COUNT(*) AS BIGINT)"
        ).alias("fertility_milli"),
        F.expr(
            "CAST(SUM(length(word)) * 1000 div SUM(COALESCE(n_syms, 1))"
            " AS BIGINT)"
        ).alias("chars_per_token_milli"),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): score every raw document by
# how much more likely its hashed-unigram features are under a TARGET
# domain's distribution than under the raw corpus's — the standard cheap
# way to select 100 TB of web text toward a small high-quality target
# without training a classifier. Features are md5-hashed word buckets
# (the fixed-dimension hashed n-gram space DSIR uses); both unigram models
# are Laplace-smoothed bucket counts; and the per-bucket likelihood ratio
# is reported LOG-FREE in exact ppm (the text_bm25_search / PMI
# precedent: log is monotone per bucket, unigram ratios cluster in
# [0.5, 2) where an integer log2 would quantize every bucket to 0 bits,
# and the ppm ratio keeps full resolution while staying hash-checkable).
# Summing ppm deviations instead of log ratios is this operator's
# documented scoring function — deterministic and portable.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"  # the "target domain": English documents

_DSIR_BUCKET_SPARK = f"CAST(pmod({spark_md5_int('word')}, {DSIR_BUCKETS}) AS INT)"
_DSIR_BUCKET_DUCK = f"CAST({duck_md5_int('word')} % {DSIR_BUCKETS} AS INT)"

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_DUCK} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents)
), model AS (
  SELECT bucket,
         COUNT(*) + 1 AS c_raw,
         COUNT(*) FILTER (lang = '{DSIR_TARGET_LANG}') + 1 AS c_tgt
  FROM toks GROUP BY bucket
), totals AS (
  SELECT (SUM(c_raw - 1) + {DSIR_BUCKETS}) * 1000000
           // (SUM(c_tgt - 1) + {DSIR_BUCKETS}) AS k
  FROM model
), devs AS (
  SELECT bucket, (c_tgt * k) // c_raw - 1000000 AS dev
  FROM model, totals
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(d.dev) AS BIGINT) AS weight_ppm,
       CAST((CASE WHEN SUM(d.dev) < 0 THEN -1 ELSE 1 END)
            * (abs(SUM(d.dev)) // COUNT(*)) AS BIGINT)
         AS ppm_per_token
FROM toks t JOIN devs d USING (bucket)
GROUP BY t.doc_id
"""


@register(
    "dsir_importance_weights",
    tags=("llm", "text", "quality", "sampling", "dsir"),
    oracle=_DSIR_ORACLE,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: the summed per-token ppm
    deviation of the target-domain/raw-corpus likelihood ratio over
    md5-hashed unigram buckets (target = lang 'en'), Laplace-smoothed.
    Positive ppm_per_token = looks like the target; the resampling step
    keeps top-weight docs (dataset_temperature_weights /
    sample_weighted machinery downstream). Ratio arithmetic: one global
    constant k = floor(N_raw*1e6/N_tgt), per bucket
    dev = floor(c_tgt*k/c_raw) - 1e6 — ONE division order, mirrored
    exactly; int64-safe to ~9e12 target tokens (k*c_tgt bounded by
    1e6*N_tgt*ratio).

    Plan shape: ONE token explode feeds the bucket-grain model aggregate
    (DSIR_BUCKETS rows, map-side combined) and the scoring join back
    onto the same exploded rows (bucket-keyed broadcast build side),
    then one doc-grain aggregate — the text_bigram_surprisal shape with
    a fixed-width feature space, which is exactly why DSIR hashes:
    model state is O(buckets), not O(vocab), at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("word"),
    ).select("doc_id", "lang", F.expr(_DSIR_BUCKET_SPARK).alias("bucket"))
    model = toks.groupBy("bucket").agg(
        (F.count(F.lit(1)) + 1).alias("c_raw"),
        (F.count_if(F.col("lang") == DSIR_TARGET_LANG) + 1).alias("c_tgt"),
    )
    totals = model.agg(
        F.expr(
            f"(SUM(c_raw - 1) + {DSIR_BUCKETS}) * 1000000"
            f" div (SUM(c_tgt - 1) + {DSIR_BUCKETS})"
        ).alias("k")
    )
    devs = (
        model.crossJoin(F.broadcast(totals))
        .select("bucket", F.expr("(c_tgt * k) div c_raw - 1000000").alias("dev"))
    )
    return (
        toks.join(F.broadcast(devs), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("dev").cast("long").alias("weight_ppm"),
            F.expr(
                "CAST((CASE WHEN SUM(dev) < 0 THEN -1 ELSE 1 END)"
                " * (abs(SUM(dev)) div COUNT(*)) AS BIGINT)"
            ).alias("ppm_per_token"),
        )
    )


# Length-bucketed batching audit: B buckets by token-length rank. The
# padding-waste identity (pad every doc in a batch to the batch max)
# quantifies what bucketing saves vs one global bucket — the dynamic-
# batching decision every training dataloader makes.
PADDING_BUCKETS = 8


@register(
    "dataset_padding_waste",
    tags=("llm", "packing", "dataset"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), bucketed AS (
  SELECT doc_id, n_tokens,
         NTILE({PADDING_BUCKETS}) OVER (ORDER BY n_tokens, doc_id) AS bucket
  FROM toks
), per_bucket AS (
  SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
         CAST(MAX(n_tokens) AS BIGINT) AS max_len,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
  FROM bucketed GROUP BY bucket
), global_row AS (
  SELECT CAST(0 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
         CAST(MAX(n_tokens) AS BIGINT) AS max_len,
         CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
  FROM toks
), unioned AS (
  SELECT * FROM per_bucket UNION ALL SELECT * FROM global_row
)
SELECT bucket, n_docs, max_len, sum_tokens,
       max_len * n_docs AS padded_tokens,
       max_len * n_docs - sum_tokens AS waste_tokens,
       CAST((max_len * n_docs - sum_tokens) * 1000000
            // (max_len * n_docs) AS BIGINT) AS waste_ppm
FROM unioned
""",
)
def dataset_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: rank documents by token length
    into PADDING_BUCKETS equal-count buckets (exact ANSI NTILE — the
    dynamic-batching shard assignment), and report per bucket the
    padding waste identity padded = max_len × n_docs vs sum of real
    tokens; bucket 0 is the single-global-bucket baseline, so the output
    itself quantifies the waste reduction length-bucketing buys (the
    reason dataloaders length-sort before batching). All integers.

    Scale: the rank bucketing is `_distributed_ntile` — one range
    exchange + per-partition windows + partition-grain offsets, never a
    single-partition sort (the orders_rfm_segments lesson); the audit
    aggregates are map-side combinable to ≤ B+1 rows."""
    from .analytics import _distributed_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    bucketed = _distributed_ntile(
        toks, [F.col("n_tokens"), F.col("doc_id")], PADDING_BUCKETS, "bucket"
    )
    per_bucket = bucketed.groupBy(
        F.col("bucket").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    global_row = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    ).select(F.lit(0).cast("long").alias("bucket"), "n_docs", "max_len", "sum_tokens")
    unioned = per_bucket.unionByName(global_row)
    return unioned.select(
        "bucket",
        "n_docs",
        "max_len",
        "sum_tokens",
        (F.col("max_len") * F.col("n_docs")).alias("padded_tokens"),
        (F.col("max_len") * F.col("n_docs") - F.col("sum_tokens")).alias(
            "waste_tokens"
        ),
        # ppm in DECIMAL(38,0): padded_tokens can reach ~1e17 at corpus
        # scale, so the *1e6 product needs 128 bits where DuckDB silently
        # promotes to HUGEINT (the events_hhi_concentration convention)
        F.expr(
            "CAST(CAST((max_len * n_docs - sum_tokens) AS DECIMAL(38,0))"
            " * 1000000 div (max_len * n_docs) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# Zipf frequency-band audit (r10): the rank-frequency sanity check every
# corpus report carries. Exact power-of-two frequency bands (an explicit
# integer CASE ladder, identical text on both engines — no float log2
# whose libm rounding could diverge at band edges) over the term
# frequency table: per band, vocabulary mass, occurrence mass and its ppm
# share. A Zipf-ish corpus shows geometrically decaying vocabulary per
# band with roughly flat occurrence mass; a clone-heavy or templated
# corpus shows up immediately as a bulge in the high bands.
# ---------------------------------------------------------------------------

ZIPF_MAX_BAND = 20  # frequencies >= 2^20 all land in the top band


def _zipf_band_case(var: str) -> str:
    branches = "".join(
        f" WHEN {var} < {1 << (b + 1)} THEN {b}" for b in range(ZIPF_MAX_BAND)
    )
    return f"CASE{branches} ELSE {ZIPF_MAX_BAND} END"


@register(
    "text_zipf_buckets",
    tags=("llm", "text", "profiling", "aggregate"),
    oracle=f"""
WITH tf AS (
  SELECT t.term, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
  WHERE t.term <> ''
  GROUP BY t.term
), banded AS (
  SELECT {_zipf_band_case("freq")} AS band, freq FROM tf
), tot AS (
  SELECT SUM(freq) AS total_occ FROM tf
)
SELECT CAST(band AS INT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(freq) AS BIGINT) AS occurrences,
       CAST(MIN(freq) AS BIGINT) AS min_freq,
       CAST(MAX(freq) AS BIGINT) AS max_freq,
       CAST(SUM(freq) * 1000000 // (SELECT total_occ FROM tot) AS BIGINT)
         AS occ_share_ppm
FROM banded
GROUP BY band
""",
)
def text_zipf_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies corpus audit in exact power-of-two bands:
    band b holds terms with 2^b <= freq < 2^(b+1) (ELSE-capped at
    2^{ZIPF_MAX_BAND}); per band the vocabulary count, occurrence mass,
    band frequency range, and the milli-grain occurrence share. The
    banding is an explicit integer CASE ladder mirrored verbatim in the
    oracle — no float log2 at band boundaries.

    Scale: one explode -> term-grain combinable aggregate (the
    text_wordfreq_topk budget), one vocabulary-grain band aggregate into
    <= {ZIPF_MAX_BAND}+1 rows, and a 1-row broadcast total. The corpus
    scan grows; the output never does."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    tot = tf.agg(F.sum("freq").alias("total_occ"))
    banded = tf.select(F.expr(_zipf_band_case("freq")).alias("band"), "freq")
    return (
        banded.groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("freq").cast("long").alias("occurrences"),
            F.min("freq").cast("long").alias("min_freq"),
            F.max("freq").cast("long").alias("max_freq"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_terms",
            "occurrences",
            "min_freq",
            "max_freq",
            F.expr("CAST(occurrences * 1000000 div total_occ AS BIGINT)").alias(
                "occ_share_ppm"
            ),
        )
    )


REPEAT_MAX_EPOCHS = 2  # data-constrained cap: no domain repeats more than 2x
# token budget = 1.5x the corpus (3/2, kept integral) — the data-constrained
# regime where low-resource domains hit the epoch cap and the waterline
# spills the remainder into the high-resource ones


@register(
    "dataset_repeat_factor_mix",
    tags=("llm", "sampling", "aggregate", "window"),
    oracle=f"""
WITH per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
  FROM documents GROUP BY lang
), cfg AS (
  SELECT CAST(SUM(t) * 3 // 2 AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(t * {REPEAT_MAX_EPOCHS}) AS BIGINT) AS sum_cap
  FROM per_lang
), ranked AS (
  SELECT lang, n_docs, t, t * {REPEAT_MAX_EPOCHS} AS cap,
         ROW_NUMBER() OVER (ORDER BY t * {REPEAT_MAX_EPOCHS}, lang) AS idx,
         SUM(t * {REPEAT_MAX_EPOCHS})
           OVER (ORDER BY t * {REPEAT_MAX_EPOCHS}, lang
                 ROWS UNBOUNDED PRECEDING) AS pfx,
         LEAD(t * {REPEAT_MAX_EPOCHS})
           OVER (ORDER BY t * {REPEAT_MAX_EPOCHS}, lang) AS next_cap
  FROM per_lang
), cand AS (
  SELECT r.idx AS i, c.b - r.pfx AS lam_num, c.d - r.idx AS lam_den,
         r.cap, r.next_cap, c.sum_cap, c.b
  FROM ranked r CROSS JOIN cfg c
  UNION ALL
  SELECT 0, c.b, c.d, NULL, (SELECT MIN(cap) FROM ranked), c.sum_cap, c.b
  FROM cfg c
), chosen AS (
  SELECT i, lam_num, lam_den FROM cand
  WHERE sum_cap > b AND lam_den > 0
    AND (i = 0 OR cap * lam_den <= lam_num)
    AND next_cap IS NOT NULL AND next_cap * lam_den > lam_num
), final AS (
  SELECT r.lang, r.n_docs, r.t, r.cap,
         CASE WHEN ch.i IS NULL OR r.idx <= ch.i THEN r.cap
              ELSE ch.lam_num // ch.lam_den
                   + CASE WHEN r.idx - ch.i <= ch.lam_num % ch.lam_den
                          THEN 1 ELSE 0 END
         END AS alloc,
         CASE WHEN ch.i IS NULL OR r.idx <= ch.i THEN 1 ELSE 0 END AS capped
  FROM ranked r LEFT JOIN chosen ch ON TRUE
)
SELECT lang, n_docs,
       CAST(t AS BIGINT) AS n_tokens,
       CAST(cap AS BIGINT) AS cap_tokens,
       CAST(alloc AS BIGINT) AS alloc_tokens,
       CAST(alloc * 1000 // t AS BIGINT) AS epochs_milli,
       CAST(capped AS INT) AS capped
FROM final
""",
)
def dataset_repeat_factor_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture allocation (the repeat-factor regime of
    Muennighoff et al. 2023, "Scaling Data-Constrained Language Models"):
    given a token budget of 1.5x the corpus and a hard cap of
    {REPEAT_MAX_EPOCHS} epochs per language domain, find the WATER-FILLING
    allocation — every domain gets an equal share lambda of the budget
    unless its cap binds, and the waterline lambda is exactly the value
    where capped + uncapped mass meets the budget. Low-resource languages
    pin at the epoch cap; the remainder spills into high-resource ones.

    The solve is CLOSED-FORM over windows, not iterative: sort domains by
    capacity, prefix-sum, and the unique valid split i* satisfies
    cap_i*(D-i) <= B - P_i < next_cap*(D-i) — one window pass + a 1-row
    broadcast back. Allocations stay exact integers (floor lambda, then
    largest-remainder +1s to the first lam_num mod lam_den uncapped
    domains in sort order), so sum(alloc) == budget exactly and the whole
    plan hash-checks.

    Scale: corpus work is ONE lang-grain aggregate (map-side combined).
    The waterline solve runs at domain grain — windows over D rows
    distribute fine even at D ~ 1e6 web domains; the chosen row is a
    1-row broadcast. Nothing iterates, nothing collects."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("t"),
    )
    cfg = per_lang.agg(
        F.expr("CAST(SUM(t) * 3 div 2 AS BIGINT)").alias("b"),
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum(F.col("t") * REPEAT_MAX_EPOCHS).cast("long").alias("sum_cap"),
    )
    cap = (F.col("t") * REPEAT_MAX_EPOCHS).alias("cap")
    w = Window.orderBy(F.col("t") * REPEAT_MAX_EPOCHS, "lang")
    ranked = per_lang.select(
        "lang",
        "n_docs",
        "t",
        cap,
        F.row_number().over(w).alias("idx"),
        F.sum(F.col("t") * REPEAT_MAX_EPOCHS)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pfx"),
        F.lead(F.col("t") * REPEAT_MAX_EPOCHS).over(w).alias("next_cap"),
    )
    min_cap = ranked.agg(F.min("cap").alias("next_cap"))
    cand = ranked.crossJoin(F.broadcast(cfg)).select(
        F.col("idx").alias("i"),
        (F.col("b") - F.col("pfx")).alias("lam_num"),
        (F.col("d") - F.col("idx")).alias("lam_den"),
        "cap",
        "next_cap",
        "sum_cap",
        "b",
    ).unionByName(
        cfg.crossJoin(F.broadcast(min_cap)).select(
            F.lit(0).cast("long").alias("i"),
            F.col("b").alias("lam_num"),
            F.col("d").alias("lam_den"),
            F.lit(None).cast("long").alias("cap"),
            "next_cap",
            "sum_cap",
            "b",
        )
    )
    chosen = cand.filter(
        (F.col("sum_cap") > F.col("b"))
        & (F.col("lam_den") > 0)
        & ((F.col("i") == 0) | (F.col("cap") * F.col("lam_den") <= F.col("lam_num")))
        & F.col("next_cap").isNotNull()
        & (F.col("next_cap") * F.col("lam_den") > F.col("lam_num"))
    ).select("i", "lam_num", "lam_den")
    final = ranked.join(F.broadcast(chosen), F.lit(True), "left")
    alloc = F.when(
        F.col("i").isNull() | (F.col("idx") <= F.col("i")), F.col("cap")
    ).otherwise(
        F.expr("lam_num div lam_den")
        + F.when(
            F.col("idx") - F.col("i") <= F.col("lam_num") % F.col("lam_den"), 1
        ).otherwise(0)
    )
    capped = (
        F.when(F.col("i").isNull() | (F.col("idx") <= F.col("i")), 1)
        .otherwise(0)
        .cast("int")
    )
    return final.select(
        "lang",
        "n_docs",
        F.col("t").cast("long").alias("n_tokens"),
        F.col("cap").cast("long").alias("cap_tokens"),
        alloc.cast("long").alias("alloc_tokens"),
        capped.alias("capped"),
    ).select(
        "lang",
        "n_docs",
        "n_tokens",
        "cap_tokens",
        "alloc_tokens",
        F.expr("CAST(alloc_tokens * 1000 div n_tokens AS BIGINT)").alias(
            "epochs_milli"
        ),
        "capped",
    )


VOCAB_GROWTH_BANDS = 10  # corpus-arrival deciles for the growth curve


@register(
    "text_vocab_growth",
    tags=("llm", "text", "corpus", "aggregate", "window"),
    oracle=f"""
WITH mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
words AS (
  SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS w
  FROM documents d
), banded_docs AS (
  SELECT d.doc_id,
         CAST(d.doc_id * {VOCAB_GROWTH_BANDS} // (m.max_id + 1) AS BIGINT)
           AS band,
         len(string_split(d.text, ' ')) AS n_tok
  FROM documents d CROSS JOIN mx m
), first_seen AS (
  SELECT w, MIN(doc_id) AS first_doc FROM words GROUP BY w
), new_per_band AS (
  SELECT CAST(f.first_doc * {VOCAB_GROWTH_BANDS} // (m.max_id + 1) AS BIGINT)
           AS band,
         COUNT(*) AS new_words
  FROM first_seen f CROSS JOIN mx m
  GROUP BY 1
), band_stats AS (
  SELECT band, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
  FROM banded_docs GROUP BY band
), merged AS (
  SELECT b.band, b.n_docs, b.n_tokens, COALESCE(n.new_words, 0) AS new_words
  FROM band_stats b LEFT JOIN new_per_band n ON n.band = b.band
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(SUM(n_docs) OVER w AS BIGINT) AS docs_cum,
       CAST(SUM(n_tokens) OVER w AS BIGINT) AS tokens_cum,
       CAST(SUM(new_words) OVER w AS BIGINT) AS vocab_cum,
       CAST(new_words AS BIGINT) AS new_words,
       CAST(SUM(new_words) OVER w * 1000000 // SUM(n_tokens) OVER w AS BIGINT)
         AS ttr_ppm
FROM merged
WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps'-law audit a corpus builder
    watches while scaling ingestion): documents band into
    {VOCAB_GROWTH_BANDS} arrival deciles BY doc_id VALUE (no global
    sort — arrival order is the id), each word attributes to the band of
    its FIRST occurrence, and the output is the cumulative curve: docs,
    tokens, vocabulary size, new types per band, and the cumulative
    type-token ratio in ppm. A flattening new_words column is the
    saturation signal (diminishing novel content — time to diversify
    sources); a ttr_ppm that stops falling flags synthetic/templated
    inflow.

    Scale: one explode to word grain, one WORD-grain min-aggregate
    (vocabulary-linear, map-side combinable — the shuffle key would ship
    as xxhash64(word) at 100 TB), one doc-grain band aggregate, and a
    window over {VOCAB_GROWTH_BANDS} rows. The value-based banding is
    the scale story: ntile would need a corpus-wide sort; integer
    division by max_id needs one 1-row broadcast."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    banded_docs = docs.crossJoin(F.broadcast(mx)).select(
        F.expr(f"CAST(doc_id * {VOCAB_GROWTH_BANDS} div (max_id + 1) AS BIGINT)")
        .alias("band"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    first_seen = words.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    new_per_band = (
        first_seen.crossJoin(F.broadcast(mx))
        .groupBy(
            F.expr(
                f"CAST(first_doc * {VOCAB_GROWTH_BANDS} div (max_id + 1) AS BIGINT)"
            ).alias("band")
        )
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    band_stats = banded_docs.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    merged = band_stats.join(new_per_band, "band", "left").withColumn(
        "new_words", F.coalesce("new_words", F.lit(0))
    )
    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return merged.select(
        F.col("band").cast("long").alias("band"),
        F.sum("n_docs").over(w).cast("long").alias("docs_cum"),
        F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
        F.sum("new_words").over(w).cast("long").alias("vocab_cum"),
        F.col("new_words").cast("long").alias("new_words"),
        F.expr(
            "CAST(SUM(new_words) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) * 1000000"
            " div SUM(n_tokens) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED"
            " PRECEDING AND CURRENT ROW) AS BIGINT)"
        ).alias("ttr_ppm"),
    )


# --- RAKE keyword extraction ------------------------------------------------
# RAKE delimiters: the repo's deterministic stopword list. Candidate phrases
# are maximal stopword-free token runs; keep the top-RAKE_TOP_K phrases per
# document under the usual total order.
RAKE_TOP_K = 3


@register(
    "text_rake_keywords",
    tags=("llm", "text", "keywords", "rake"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), marked AS (
  SELECT doc_id, pos, tok,
         CASE WHEN list_contains({list(STOPWORDS)!r}, tok) THEN 1 ELSE 0 END
           AS is_stop
  FROM toks
), seg AS (
  SELECT doc_id, pos, tok, is_stop,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
  FROM marked
), member AS (
  SELECT doc_id, seg, pos, tok,
         COUNT(*) OVER (PARTITION BY doc_id, seg) AS phrase_len
  FROM seg WHERE is_stop = 0
), word_stats AS (
  SELECT doc_id, tok, COUNT(*) AS freq, SUM(phrase_len - 1) AS deg
  FROM member GROUP BY 1, 2
), scored_member AS (
  SELECT m.doc_id, m.seg, m.pos, m.tok,
         w.deg * 1000 // w.freq AS wscore
  FROM member m JOIN word_stats w ON w.doc_id = m.doc_id AND w.tok = m.tok
), phrases AS (
  SELECT doc_id, seg,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(wscore) AS BIGINT) AS score_milli
  FROM scored_member GROUP BY 1, 2
), dedup AS (
  SELECT doc_id, phrase, n_words, score_milli,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM phrases GROUP BY 1, 2, 3, 4
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score_milli DESC, phrase) AS rnk
  FROM dedup
)
SELECT doc_id, CAST(rnk AS BIGINT) AS rank, phrase, n_words,
       n_occurrences, score_milli
FROM ranked WHERE rnk <= {RAKE_TOP_K}
""",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010) — the
    classic unsupervised keyword operator, per document exactly as the
    paper defines it: candidate phrases are maximal stopword-free token
    runs; each word scores deg(w)/freq(w) from the document's own
    co-occurrence stats (deg = sum of (phrase_len - 1) over the word's
    phrase occurrences); a phrase scores the sum of its member word
    scores; the top {RAKE_TOP_K} phrases per document are kept under the
    total order (score DESC, phrase ASC).

    Exactness: freq/deg are counts; word scores ship as integer milli
    (deg * 1000 div freq) and the phrase score is the SUM of those
    integers — both engines sum the same floored values, so no float
    exists anywhere (summing floored ratios, not flooring the sum, is
    the pinned convention).

    Scale shape: RAKE is per-document by definition, so EVERYTHING
    partitions on doc_id — segmentation is one running-sum window,
    phrase stats one window count, word stats a (doc, word) aggregate,
    and the member-score join co-partitions on (doc, word). No corpus-
    wide state at all: the operator is embarrassingly parallel over
    documents at any scale, and the only rows that survive to the
    output are {RAKE_TOP_K} per document."""
    docs = spread_small(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).withColumn("is_stop", F.array_contains(stop_arr, F.col("tok")).cast("int"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    seg = toks.withColumn(
        "seg", F.sum("is_stop").over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
    )
    member = (
        seg.filter(F.col("is_stop") == 0)
        .withColumn(
            "phrase_len", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "seg"))
        )
        .select("doc_id", "seg", "pos", "tok", "phrase_len")
    )
    word_stats = member.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("phrase_len") - 1).alias("deg"),
    )
    scored_member = member.join(word_stats, ["doc_id", "tok"]).select(
        "doc_id",
        "seg",
        "pos",
        "tok",
        F.expr("deg * 1000 div freq").alias("wscore"),
    )
    phrases = scored_member.groupBy("doc_id", "seg").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("wscore").cast("long").alias("score_milli"),
    )
    dedup = phrases.groupBy("doc_id", "phrase", "n_words", "score_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    ranked = dedup.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score_milli").desc(), F.col("phrase")
            )
        )
        .cast("long"),
    )
    return ranked.filter(F.col("rank") <= RAKE_TOP_K).select(
        "doc_id", "rank", "phrase", "n_words", "n_occurrences", "score_milli"
    )
