"""Text-analysis / dedup workload over ``documents`` — the
driver-mandated LLM-data-pipeline surface (SURVEY.md §2.11 X1/X5).

Everything here stays JVM-side (built-in string/regexp functions inside
whole-stage codegen); no Python UDFs. Near-dup (MinHash/SimHash) and
fingerprinting live in ``operators/dedup.py`` and are registered by
``workloads/vectors.py`` / M6 entries as rows-only checks.

Scale: all per-document transforms are embarrassingly parallel map
work; the dedup groupBys shuffle on a hash of the text (uniform keys,
no skew). At 100 TB, exact dedup on sha256(text) is the standard
pattern — the hash is computed map-side and the shuffle carries only
(hash, doc_id).
"""

from __future__ import annotations

from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from orca_ztbus_python_processor_spark.functions.stats import f32
from orca_ztbus_python_processor_spark.sources.parquet import read_table
from orca_ztbus_python_processor_spark.workloads.base import Catalog

CATALOG = Catalog()

# Shared token / stopword regexes — keep the dialect-neutral subset so
# Java (Spark) and RE2-ish (DuckDB) agree.
TOKEN_RE = "[A-Za-z0-9]+"
STOPWORD_RE = r"\b(the|a|of|and|in|is|to|it)\b"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# dedup_exact — exact duplicate grouping by content (X1): canonical id =
# min(doc_id) per identical text. groupBy on text hashes map-side.
# --------------------------------------------------------------------------
@CATALOG.query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("text")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
        .select("canonical_doc_id", "n_copies")
    )


# --------------------------------------------------------------------------
# dedup_sha256 — content-hash dedup (X1): at 100 TB you never shuffle
# the text itself; sha256 is computed at the scan and only (hash, id)
# moves. Spark sha2 and DuckDB sha256 both emit lowercase hex.
# --------------------------------------------------------------------------
@CATALOG.query(
    "dedup_sha256",
    oracle="""
    SELECT sha256(text) AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# token_stats — token counting (X5): regex token count + whitespace
# word count per document, all codegen'd string ops.
# --------------------------------------------------------------------------
@CATALOG.query(
    "token_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_RE)).cast("long").alias("n_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
    )


# --------------------------------------------------------------------------
# doc_quality — quality scoring (X5): length + stopword-ratio features
# (the heuristics an LLM-data pipeline gates on).
# --------------------------------------------------------------------------
@CATALOG.query(
    "doc_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(len(regexp_extract_all(text, '{STOPWORD_RE}')) AS BIGINT) AS n_stopwords,
           CAST(CASE WHEN len(regexp_extract_all(text, '{TOKEN_RE}')) > 0
                THEN CAST(len(regexp_extract_all(text, '{STOPWORD_RE}')) AS DOUBLE)
                     / len(regexp_extract_all(text, '{TOKEN_RE}'))
                END AS REAL) AS stopword_ratio,
           CAST(CASE WHEN length(text) >= 100
                      AND len(regexp_extract_all(text, '{TOKEN_RE}')) >= 20
                THEN 1.0 ELSE 0.0 END AS REAL) AS quality_score
    FROM documents
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tokens = F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    n_stop = F.regexp_count(F.col("text"), F.lit(STOPWORD_RE))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_stop.cast("long").alias("n_stopwords"),
        f32(F.when(n_tokens > 0, n_stop.cast("double") / n_tokens)).alias("stopword_ratio"),
        f32(
            F.when((F.length("text") >= 100) & (n_tokens >= 20), 1.0).otherwise(0.0)
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# lang_source_profile — grouped profile over the lang/source dimensions.
# --------------------------------------------------------------------------
@CATALOG.query(
    "lang_source_profile",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(avg(n_chars) AS REAL) AS avg_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def lang_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            f32(F.avg("n_chars")).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# lang_id_heuristic — n-gram/stopword language-ID heuristic (X5): score
# each language by marker-word hits, argmax with deterministic
# tie-break. (On this synthetic corpus the labels are random; the
# point is the deterministic, shippable scoring plumbing.)
# --------------------------------------------------------------------------
_LANG_MARKERS: Mapping[str, str] = MappingProxyType({
    "en": r"\b(the|and|of|is)\b",
    "es": r"\b(el|la|de|que)\b",
    "fr": r"\b(le|la|et|les)\b",
    "de": r"\b(der|die|und|das)\b",
    "zh": r"(的|是|了|在)",
})


@CATALOG.query(
    "lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["en"]}')) AS BIGINT) AS score_en,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["es"]}')) AS BIGINT) AS score_es,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["fr"]}')) AS BIGINT) AS score_fr,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["de"]}')) AS BIGINT) AS score_de,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["zh"]}')) AS BIGINT) AS score_zh
        FROM documents
    )
    SELECT doc_id, lang, score_en, score_es, score_fr, score_de, score_zh,
           CASE
             WHEN score_en >= greatest(score_es, score_fr, score_de, score_zh) THEN 'en'
             WHEN score_es >= greatest(score_fr, score_de, score_zh) THEN 'es'
             WHEN score_fr >= greatest(score_de, score_zh) THEN 'fr'
             WHEN score_de >= score_zh THEN 'de'
             ELSE 'zh'
           END AS pred_lang
    FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = {
        lang: F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
        for lang, pat in _LANG_MARKERS.items()
    }
    df = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_MARKERS],
    )
    s = {lang: F.col(f"score_{lang}") for lang in _LANG_MARKERS}
    pred = (
        F.when(s["en"] >= F.greatest(s["es"], s["fr"], s["de"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["fr"], s["de"], s["zh"]), "es")
        .when(s["fr"] >= F.greatest(s["de"], s["zh"]), "fr")
        .when(s["de"] >= s["zh"], "de")
        .otherwise("zh")
    )
    return df.withColumn("pred_lang", pred)


# --------------------------------------------------------------------------
# bpe_pretokenize_stats — BPE-ish token counting (X5): a GPT-2-style
# pre-tokenizer regex (contraction suffixes | space-prefixed word runs |
# digit runs | punctuation runs), restricted to the lookahead-free
# subset both Java regex and RE2 support. The pre-token count is the
# standard cheap proxy for BPE token count in corpus budgeting.
# --------------------------------------------------------------------------
BPE_RE = "'(s|t|ll|ve|re|d|m)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@CATALOG.query(
    "bpe_pretokenize_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_RE.replace("'", "''")}')) AS BIGINT)
               AS n_bpe_pretokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_word_tokens,
           CAST(CASE WHEN length(text) > 0
                THEN CAST(len(regexp_extract_all(text, '{BPE_RE.replace("'", "''")}')) AS DOUBLE)
                     / length(text) END AS REAL) AS tokens_per_char
    FROM documents
    """,
)
def bpe_pretokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bpe = F.regexp_count(F.col("text"), F.lit(BPE_RE)).cast("long")
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_bpe.alias("n_bpe_pretokens"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_RE)).cast("long").alias("n_word_tokens"),
        f32(
            F.when(F.length("text") > 0, n_bpe.cast("double") / F.length("text"))
        ).alias("tokens_per_char"),
    )


# --------------------------------------------------------------------------
# vocab_top_tokens — vocabulary building (X5): explode documents into
# lowercased tokens, count total occurrences and document frequency,
# keep the top 100 by occurrence count (ties broken by token so the
# result is deterministic). The tokenizer is the same TOKEN_RE used by
# token_stats, JVM-side end to end (regexp_extract_all + explode).
# Scale: the explode widens ~n_tokens×, but the per-doc distinct for DF
# is computed via (token, doc_id) partial aggregation before the global
# token rollup — two map-combinable aggs; the top-100 is
# TakeOrderedAndProject, no global sort.
# --------------------------------------------------------------------------
@CATALOG.query(
    "vocab_top_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
        FROM documents
    )
    SELECT token,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS doc_freq
    FROM tok
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")).alias(
            "raw_token"
        ),
    ).select("doc_id", F.lower(F.col("raw_token")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(100)
    )


# --------------------------------------------------------------------------
# repetition_signals — Gopher-style repetition / boilerplate scoring:
# duplicate-token fraction and top-token dominance per document, the
# two cheapest repetition gates a pretraining pipeline filters on.
# Scale: explode widens ~n_tokens×, then two map-combinable aggs —
# (doc_id, token) partial counts shuffle once; the per-doc rollup
# reuses the doc_id hash partitioning (AQE keeps it one exchange
# chain, no re-shuffle on the prefix key).
# --------------------------------------------------------------------------
@CATALOG.query(
    "repetition_signals",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
        FROM documents
    ), per AS (
        SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct_tokens,
           CAST(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS REAL) AS dup_token_ratio,
           CAST(CAST(max(cnt) AS DOUBLE) / sum(cnt) AS REAL) AS top_token_share
    FROM per GROUP BY doc_id
    """,
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")).alias("raw"),
        )
        .select("doc_id", F.lower(F.col("raw")).alias("token"))
    )
    per = tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    n_tok = F.sum("cnt")
    n_distinct = F.count("*")
    return per.groupBy("doc_id").agg(
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        f32(F.lit(1.0) - n_distinct.cast("double") / n_tok).alias("dup_token_ratio"),
        f32(F.max("cnt").cast("double") / n_tok).alias("top_token_share"),
    )


# --------------------------------------------------------------------------
# ngram_topk_bigrams — n-gram vocabulary over adjacent token pairs:
# zip_with over two shifted slices forms the bigram array JVM-side
# (no Python, no self-join on position), then the same two
# map-combinable aggs + TakeOrderedAndProject as vocab_top_tokens.
# The size>=2 guard mirrors the oracle's empty range — and avoids
# Spark's sequence(1, size-1) descending when size<2.
# --------------------------------------------------------------------------
BIGRAM_TOKEN_RE = "[a-z0-9]+"


@CATALOG.query(
    "ngram_topk_bigrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}') AS t
        FROM documents
    ), big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    )
    SELECT bigram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS doc_freq
    FROM big GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 100
    """,
)
def ngram_topk_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}', 0)").alias("t"),
    ).where(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    return (
        big.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), "bigram")
        .limit(100)
    )


# --------------------------------------------------------------------------
# bigram_lm_quality_score — self-trained bigram-LM document scoring,
# the KenLM-style quality-filter proxy a corpus pipeline runs when no
# external LM is available: train MLE bigram probabilities on the
# corpus itself (logp(w2|w1) = ln(c(w1 w2) / c(w1 ·))), then score
# each document by its mean bigram log-probability. Low scores flag
# gibberish / boilerplate-shuffled text; high scores flag repetitive
# templates — both ends are what quality filtering cuts.
#
# Scale shape: one token explode feeding (a) the LM counts (two
# map-side-combinable aggs, the second over the already-tiny bigram
# dictionary) and (b) the per-position scoring join, keyed on the
# bigram string. The LM table is vocabulary-bounded, not corpus-
# bounded, but can still exceed broadcast size at 100 TB — no
# broadcast hint; AQE promotes it at runtime when it fits. No Python
# anywhere.
# --------------------------------------------------------------------------
@CATALOG.query(
    "bigram_lm_quality_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}') AS t
        FROM documents
    ), big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    ), bg AS (
        SELECT bigram, count(*) AS c_bg FROM big GROUP BY bigram
    ), w1c AS (
        SELECT split_part(bigram, ' ', 1) AS w1, sum(c_bg) AS c_w1
        FROM bg GROUP BY 1
    ), lm AS (
        SELECT bigram, ln(CAST(c_bg AS DOUBLE) / c_w1) AS logp
        FROM bg JOIN w1c ON split_part(bg.bigram, ' ', 1) = w1c.w1
    )
    SELECT big.doc_id, count(*) AS n_bigrams,
           CAST(avg(logp) AS REAL) AS avg_logp
    FROM big JOIN lm ON big.bigram = lm.bigram
    GROUP BY big.doc_id
    """,
)
def bigram_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.expr(f"regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}', 0)").alias("t"),
        )
        .where(F.size("t") >= 2)
    )
    big = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
                " (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    bg = big.groupBy("bigram").agg(F.count("*").alias("c_bg"))
    w1_of = F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    w1c = bg.groupBy(w1_of.alias("w1")).agg(F.sum("c_bg").alias("c_w1"))
    lm = (
        bg.withColumn("w1", w1_of)
        .join(w1c, "w1")
        .select("bigram", F.log(F.col("c_bg").cast("double") / F.col("c_w1")).alias("logp"))
    )
    return (
        big.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), f32(F.avg("logp")).alias("avg_logp"))
    )


# --------------------------------------------------------------------------
# stratified_sample_profile — deterministic weighted sampling per
# source domain (the "data mixing" primitive: upsample curated
# domains, downsample crawl). Keep decision = first two hex chars of
# md5(doc_id) under a per-domain threshold — no RNG state, stable
# under re-partitioning, bit-identical across engines, and fusible
# into any downstream write as a pure per-row predicate.
# Scale: map-only assignment + one tiny groupBy(source) rollup.
# --------------------------------------------------------------------------
_SAMPLE_THRESHOLDS = MappingProxyType({"src0": "80", "src1": "40"})  # 50%, 25%; default ~10%
_DEFAULT_THRESHOLD = "1a"


@CATALOG.query(
    "stratified_sample_profile",
    oracle=f"""
    WITH k AS (
        SELECT source, n_chars,
               CASE WHEN source = 'src0' THEN '{_SAMPLE_THRESHOLDS["src0"]}'
                    WHEN source = 'src1' THEN '{_SAMPLE_THRESHOLDS["src1"]}'
                    ELSE '{_DEFAULT_THRESHOLD}' END AS thr,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
        FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(count(CASE WHEN hx < thr THEN 1 END) AS BIGINT) AS n_sampled,
           CAST(CAST(count(CASE WHEN hx < thr THEN 1 END) AS DOUBLE) / count(*) AS REAL)
               AS observed_rate,
           CAST(sum(CASE WHEN hx < thr THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
    FROM k GROUP BY source
    """,
)
def stratified_sample_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    thr = F.when(F.col("source") == "src0", _SAMPLE_THRESHOLDS["src0"]).when(
        F.col("source") == "src1", _SAMPLE_THRESHOLDS["src1"]
    ).otherwise(_DEFAULT_THRESHOLD)
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    keep = hx < thr
    return (
        _docs(spark, sf_dir)
        .select("source", "n_chars", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("keep"), 1)).alias("n_sampled"),
            f32(
                F.count(F.when(F.col("keep"), 1)).cast("double") / F.count("*")
            ).alias("observed_rate"),
            F.sum(F.when(F.col("keep"), F.col("n_chars")).otherwise(0)).alias(
                "sampled_chars"
            ),
        )
    )


# --------------------------------------------------------------------------
# pii_scrub_events — PII/identifier redaction plumbing: count and mask
# numeric runs in the events props payload (stand-in for the
# email/phone/SSN regex bank a production scrubber ships — same
# regexp_replace pipeline, different pattern set). Per-row codegen
# string ops, embarrassingly parallel; at 100 TB this fuses into the
# ingest scan with zero extra passes.
# --------------------------------------------------------------------------
NUM_RUN_RE = "[0-9]+"


@CATALOG.query(
    "pii_scrub_events",
    oracle=f"""
    SELECT event_id,
           CAST(len(regexp_extract_all(props, '{NUM_RUN_RE}')) AS BIGINT) AS n_number_runs,
           regexp_replace(props, '{NUM_RUN_RE}', '<NUM>', 'g') AS scrubbed
    FROM events
    """,
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_count(F.col("props"), F.lit(NUM_RUN_RE)).cast("long").alias(
            "n_number_runs"
        ),
        F.regexp_replace(F.col("props"), NUM_RUN_RE, "<NUM>").alias("scrubbed"),
    )


# --------------------------------------------------------------------------
# train_test_split_profile — deterministic hash-based dataset split, the
# standard trick for reproducible train/val/test assignment in a
# training-data pipeline: bucket on the first hex digit of
# md5(doc_id) — 13/16 train, 2/16 val, 1/16 test. No randomness, no
# seed state, stable under re-runs and re-partitioning; md5 is
# bit-identical across engines so the oracle matches exactly.
# Scale: pure per-row projection (JVM md5) + a 3x|lang| groupBy —
# map-combinable, one tiny shuffle; the assignment itself never
# shuffles and can be fused into any downstream write.
# --------------------------------------------------------------------------
@CATALOG.query(
    "train_test_split_profile",
    oracle="""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs,
           CAST(avg(n_chars) AS REAL) AS avg_chars
    FROM assigned
    GROUP BY split, lang
    """,
)
def train_test_split_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(digit < "d", "train").when(digit < "f", "val").otherwise("test")
    )
    return (
        _docs(spark, sf_dir)
        .select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), f32(F.avg("n_chars")).alias("avg_chars"))
    )


# --------------------------------------------------------------------------
# sequence_packing_profile — token-budget bin packing (the sequence-
# packing step of an LLM pretraining pipeline: documents are
# concatenated in a deterministic order into fixed-size token bins).
# Docs are laid out per language in doc_id order; a doc's bin is the
# one its FIRST token lands in (cumulative-offset packing — exactly
# reproducible in any engine, unlike first-fit-decreasing).
#
# Scale shape (VERDICT r11 #2 lint rewrite): the cumulative offset
# comes from functions.quantiles.group_prefix_sum — range-partitioned
# (lang, doc_id), per-(partition, lang) integer sums to the driver,
# broadcast prefix offsets, one window bounded by PARTITION size. The
# previous form ran the cumsum through a Window.partitionBy(lang) —
# |langs| reducers each sorting a whole language's corpus at 100x.
# Integer token counts make every partial exact, so the offsets (and
# the hash compare) are bit-identical to the single-task form.
# --------------------------------------------------------------------------
_PACK_BUDGET = 512


@CATALOG.query(
    "sequence_packing_profile",
    oracle=f"""
    WITH toks AS (
        SELECT lang, doc_id,
               CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS n_tokens
        FROM documents
    ), cum AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_off
        FROM toks
    )
    SELECT lang,
           CAST(tok_off // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(sum(n_tokens) / {_PACK_BUDGET}.0 AS REAL) AS fill_ratio
    FROM cum
    GROUP BY 1, 2
    """,
)
def sequence_packing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        group_prefix_sum,
    )

    toks = _docs(spark, sf_dir).select(
        "lang",
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(TOKEN_RE)).cast("long").alias("n_tokens"),
    )
    cum = group_prefix_sum(toks, "lang", "doc_id", "n_tokens", out_col="offset")
    return (
        cum.groupBy(
            "lang", (F.col("offset") / _PACK_BUDGET).cast("long").alias("pack_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            f32(F.sum("n_tokens") / float(_PACK_BUDGET)).alias("fill_ratio"),
        )
    )


# --------------------------------------------------------------------------
# contamination_share — benchmark-contamination audit: how much of each
# training document's content appears verbatim in a held-out set
# (source 'src0' stands in for the benchmark corpus). Content is
# compared by 20-char shingles sampled at stride 10 (deterministic
# positions — both engines enumerate the same offsets; stride trades
# resolution for a 10x smaller join, the standard fingerprint-sampling
# move). Scale: shingle rows are generated map-side and shuffle once
# on the shingle for the join; the benchmark side is the small
# relation and broadcasts.
# --------------------------------------------------------------------------
_CONTAM_K = 20
_CONTAM_STRIDE = 10
_BENCH_SOURCE = "src0"


@CATALOG.query(
    "contamination_share",
    oracle=f"""
    WITH bench AS (
        SELECT DISTINCT substr(text, CAST(i AS BIGINT), {_CONTAM_K}) AS s
        FROM (
            SELECT text,
                   unnest(generate_series(1, greatest(length(text) - {_CONTAM_K - 1}, 1),
                                          {_CONTAM_STRIDE})) AS i
            FROM documents WHERE source = '{_BENCH_SOURCE}'
        )
    ), train AS (
        SELECT DISTINCT doc_id,
               substr(text, CAST(i AS BIGINT), {_CONTAM_K}) AS s
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - {_CONTAM_K - 1}, 1),
                                          {_CONTAM_STRIDE})) AS i
            FROM documents WHERE source <> '{_BENCH_SOURCE}'
        )
    )
    SELECT train.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN bench.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           CAST(sum(CASE WHEN bench.s IS NOT NULL THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS contamination_rate
    FROM train LEFT JOIN bench ON train.s = bench.s
    GROUP BY train.doc_id
    """,
)
def contamination_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingle_arr = (
        f"array_distinct(transform(sequence(1, greatest(length(text) - {_CONTAM_K - 1}, 1),"
        f" {_CONTAM_STRIDE}), i -> substring(text, i, {_CONTAM_K})))"
    )
    docs = _docs(spark, sf_dir)
    bench = (
        docs.where(F.col("source") == _BENCH_SOURCE)
        .select(F.explode(F.expr(shingle_arr)).alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = docs.where(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", F.explode(F.expr(shingle_arr)).alias("s")
    )
    joined = train.join(F.broadcast(bench), "s", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        f32(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            / F.count("*").cast("double")
        ).alias("contamination_rate"),
    )


# --------------------------------------------------------------------------
# tfidf_top_terms — corpus-level TF-IDF with languages as the document
# axis (term frequency per lang, inverted lang-frequency): the top-10
# most characteristic terms per language. Two aggregation trees off one
# token explode (tf by (lang, term); df by term), re-joined on term,
# then a per-lang top-k window — the vocabulary-analysis shape of
# vocab_top_tokens extended with a cross-group weighting.
# --------------------------------------------------------------------------
@CATALOG.query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ), tf AS (
        SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT term, count(DISTINCT lang) AS df FROM toks GROUP BY 1
    ), n AS (
        SELECT count(DISTINCT lang) AS n_langs FROM toks
    ), scored AS (
        SELECT tf.lang, tf.term, tf.tf, df.df,
               CAST(tf.tf * ln(n.n_langs / CAST(df.df AS DOUBLE)) AS REAL) AS tfidf,
               row_number() OVER (
                   PARTITION BY tf.lang
                   ORDER BY tf.tf * ln(n.n_langs / CAST(df.df AS DOUBLE)) DESC,
                            tf.term) AS rn
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, df, tfidf, CAST(rn AS BIGINT) AS rank
    FROM scored WHERE rn <= 10
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    toks = _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
        ).alias("term"),
    )
    tf = toks.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("lang").alias("df"))
    n = toks.agg(F.count_distinct("lang").alias("n_langs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_d",
            F.col("tf") * F.log(F.col("n_langs") / F.col("df").cast("double")),
        )
    )
    w = W.partitionBy("lang").orderBy(F.col("tfidf_d").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("lang", "term", "tf", "df", f32(F.col("tfidf_d")).alias("tfidf"), "rank")
    )


# --------------------------------------------------------------------------
# zipf_token_profile — Zipf/heavy-tail audit of the corpus vocabulary:
# token frequencies histogrammed into log2 buckets (bucket k holds
# terms occurring [2^k, 2^(k+1)) times). The shape check a tokenizer /
# vocab-size decision reads off one scan. Scale: one explode, one
# (term) shuffle with partial counts, then a tiny bucket rollup — the
# histogram never exceeds ~40 rows regardless of corpus size.
# --------------------------------------------------------------------------
@CATALOG.query(
    "zipf_token_profile",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ), tf AS (
        SELECT term, count(*) AS freq FROM toks GROUP BY 1
    )
    SELECT CAST(floor(log2(freq)) AS BIGINT) AS freq_bucket,
           count(*) AS n_terms,
           CAST(sum(freq) AS BIGINT) AS total_occurrences,
           CAST(min(freq) AS BIGINT) AS min_freq,
           CAST(max(freq) AS BIGINT) AS max_freq
    FROM tf
    GROUP BY 1
    """,
)
def zipf_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
        ).alias("term")
    )
    tf = toks.groupBy("term").agg(F.count("*").alias("freq"))
    return (
        tf.groupBy(F.floor(F.log2("freq")).cast("long").alias("freq_bucket"))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("freq").alias("total_occurrences"),
            F.min("freq").alias("min_freq"),
            F.max("freq").alias("max_freq"),
        )
    )


# --------------------------------------------------------------------------
# cross_source_dup_matrix — which source pairs share content (the
# cross-dump overlap a CommonCrawl-style pipeline measures before
# deciding dedup order), at TWO grains per pair: shared 13-token
# spans (n_shared_spans — partial inclusion, the grain that actually
# drives dedup-order decisions) and shared identical full documents
# (n_shared_texts — exact dups are a subset of span overlap, so the
# pair list is complete at the span grain).
#
# Round-10 degenerate-evidence rework: the original doc-grain-only
# matrix hash-matched an EMPTY result at the driver's sf0.01 from
# round 3 on (the fixture plants whole-document dups only at sf0.1+,
# .benchmarks/degenerate_evidence.json) — the q4 class. The fixture's
# cross-source overlap is span-grain at every scale (22 live pairs at
# sf0.01), so the span measure makes the twin's evidence real while
# the text measure keeps the original semantics.
#
# Scale shape: hashes computed MAP-SIDE so the self-join shuffles
# (source, grain, 32-char hash), never text; both sides cluster the
# same way and source_a < source_b halves the output without a
# distinct. Output is at most |sources|^2 rows. The distinct
# (source, span-hash) set is corpus-sized at 100 TB — the KMV sketch
# (kmv_distinct_user_overlap's estimator) is the documented
# extreme-scale alternative for the overlap MAGNITUDE; the exact path
# here is the oracle-matched correctness surface.
# --------------------------------------------------------------------------
# 13-token span width — same convention as DECONTAM_N below (pinned
# equal in tests/test_round10_ops.py).
CROSS_SOURCE_SPAN_K = 13

_CSD_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
# Let-bind the token array (a single-element transform): referencing
# _CSD_TOKENS directly inside the gram lambda lets CollapseProject
# inline it, re-running the regex tokenizer once PER GRAM (~spans/doc
# times) instead of once per doc — measured 4.4 s -> ~1 s at sf0.1.
_CSD_GRAMS = (
    f"element_at(transform(array({_CSD_TOKENS}), ts ->"
    f" array_distinct(transform(sequence(1, greatest(size(ts)"
    f" - {CROSS_SOURCE_SPAN_K - 1}, 1)),"
    f" i -> concat_ws(' ', slice(ts, i, {CROSS_SOURCE_SPAN_K}))))), 1)"
)


@CATALOG.query(
    "cross_source_dup_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        FROM documents
    ), spans AS (
        SELECT DISTINCT source, 'span' AS grain,
               md5(array_to_string(
                   tokens[CAST(i AS BIGINT):CAST(i + {CROSS_SOURCE_SPAN_K - 1} AS BIGINT)],
                   ' ')) AS h
        FROM (
            SELECT source, tokens,
                   unnest(generate_series(1,
                          greatest(len(tokens) - {CROSS_SOURCE_SPAN_K - 1}, 1))) AS i
            FROM toks
        )
    ), texts AS (
        SELECT DISTINCT source, 'text' AS grain, md5(text) AS h FROM documents
    ), hashed AS (
        SELECT * FROM spans UNION SELECT * FROM texts
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(CASE WHEN a.grain = 'span' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_spans,
           CAST(sum(CASE WHEN a.grain = 'text' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_texts
    FROM hashed a
    JOIN hashed b ON a.grain = b.grain AND a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    spans = docs.select(
        "source",
        F.lit("span").alias("grain"),
        F.explode(F.expr(_CSD_GRAMS)).alias("g"),
    ).select("source", "grain", F.md5(F.col("g")).alias("h"))
    texts = docs.select(
        "source", F.lit("text").alias("grain"), F.md5(F.col("text")).alias("h")
    )
    # pinned: both self-join legs read the distinct hash set — one
    # tokenize + md5 + distinct pass instead of two (round-12 census)
    hashed = spans.unionByName(texts).distinct().localCheckpoint(eager=False)
    a = hashed.select(F.col("source").alias("source_a"), "grain", "h")
    b = hashed.select(F.col("source").alias("source_b"), "grain", "h")
    return (
        a.join(b, ["grain", "h"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum((F.col("grain") == "span").cast("long")).alias(
                "n_shared_spans"
            ),
            F.sum((F.col("grain") == "text").cast("long")).alias(
                "n_shared_texts"
            ),
        )
    )


# --------------------------------------------------------------------------
# rare_token_density — mean self-information of a document's token
# stream (avg ln(N/df) over token OCCURRENCES), rolled up per
# (lang, source): the "surprisal" quality signal that separates
# boilerplate-heavy sources from information-dense ones. Two agg trees
# off one explode (occurrences; distinct-doc df per term) re-joined on
# term — the df side is vocabulary-sized and the join shuffles on term
# where both sides are already clustered.
# --------------------------------------------------------------------------
@CATALOG.query(
    "rare_token_density",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
        FROM documents
    ), docfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), per_doc AS (
        SELECT t.doc_id, t.lang, t.source,
               avg(ln(n.n_docs / CAST(d.df AS DOUBLE))) AS doc_rarity
        FROM toks t JOIN docfreq d USING (term) CROSS JOIN n
        GROUP BY 1, 2, 3
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(avg(doc_rarity) AS REAL) AS avg_rarity,
           CAST(max(doc_rarity) AS REAL) AS max_rarity
    FROM per_doc
    GROUP BY 1, 2
    """,
)
def rare_token_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-9 rework (the warm probe pinned the old shape at 4.0x):
    # the occurrence stream now collapses to (doc, term, count) FIRST,
    # so (a) the corpus is tokenized ONCE — docfreq aggregates FROM
    # the same exchange (ReusedExchange), where the old two-tree form
    # ran the regexp explode twice — and (b) every downstream stage
    # (df count, vocab join, per-doc rollup) moves pair-grain rows
    # instead of raw occurrences. doc_rarity becomes the
    # count-weighted mean sum(c*ln)/sum(c) — identical addends to the
    # oracle's occurrence-grain avg, f32 output absorbs the
    # summation-order delta (hash-matched at three SFs).
    docs = _docs(spark, sf_dir)
    dt = (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{TOKEN_RE}', 0)")
            ).alias("term"),
        )
        .groupBy("doc_id", "lang", "source", "term")
        .agg(F.count("*").alias("c"))
    )
    docfreq = dt.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    per_doc = (
        dt.join(docfreq, "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id", "lang", "source")
        .agg(
            (
                F.sum(
                    F.col("c")
                    * F.log(F.col("n_docs") / F.col("df").cast("double"))
                )
                / F.sum("c")
            ).alias("doc_rarity")
        )
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        f32(F.avg("doc_rarity")).alias("avg_rarity"),
        f32(F.max("doc_rarity")).alias("max_rarity"),
    )


# --------------------------------------------------------------------------
# pipeline_retention_funnel — the end-to-end pretraining-ingest funnel
# in one query: raw -> length filter -> token-count filter -> exact
# dedup (canonical = lowest doc_id among the QUALITY-PASSING copies of
# a text), counted per source with the final retention rate. This is
# the per-dump report a data-curation run publishes. Scale: stage
# predicates are map-side; dedup canonicalization is one md5-hash
# window (shuffle on the 16-byte hash); the per-source rollup is tiny.
# --------------------------------------------------------------------------
@CATALOG.query(
    "pipeline_retention_funnel",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, md5(text) AS h,
               n_chars >= 100 AS pass_len,
               len(regexp_extract_all(text, '{TOKEN_RE}')) >= 20 AS pass_tok
        FROM documents
    ), surv AS (
        SELECT source,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1 AS canon
        FROM base WHERE pass_len AND pass_tok
    ), stage AS (
        SELECT source, count(*) AS n_raw,
               CAST(sum(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
               CAST(sum(CASE WHEN pass_len AND pass_tok THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_quality_ok
        FROM base GROUP BY 1
    ), dedup AS (
        SELECT source,
               CAST(sum(CASE WHEN canon THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM surv GROUP BY 1
    )
    SELECT stage.source, n_raw, n_len_ok, n_quality_ok,
           COALESCE(n_kept, 0) AS n_kept,
           CAST(COALESCE(n_kept, 0) / CAST(n_raw AS DOUBLE) AS REAL) AS retention
    FROM stage LEFT JOIN dedup ON stage.source = dedup.source
    """,
)
def pipeline_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W  # noqa: PLC0415

    base = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("h"),
        (F.col("n_chars") >= 100).alias("pass_len"),
        (F.regexp_count(F.col("text"), F.lit(TOKEN_RE)) >= 20).alias("pass_tok"),
    )
    surv = (
        base.where(F.col("pass_len") & F.col("pass_tok"))
        .withColumn(
            "canon",
            F.row_number().over(W.partitionBy("h").orderBy("doc_id")) == 1,
        )
    )
    stage = base.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("pass_len").cast("long")).alias("n_len_ok"),
        F.sum((F.col("pass_len") & F.col("pass_tok")).cast("long")).alias(
            "n_quality_ok"
        ),
    )
    dedup = surv.groupBy("source").agg(
        F.sum(F.col("canon").cast("long")).alias("n_kept")
    )
    return (
        stage.join(dedup, "source", "left")
        .select(
            "source",
            "n_raw",
            "n_len_ok",
            "n_quality_ok",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            f32(
                F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n_raw").cast("double")
            ).alias("retention"),
        )
    )


# --------------------------------------------------------------------------
# doc_chunk_windows — fixed-size token windows with stride/overlap (X5):
# the chunking pass that turns variable-length documents into
# training-sequence windows. Map-side only: tokenize -> sequence of
# chunk starts -> explode; the single shuffle is the final per-source
# profile rollup. At 100 TB the explode multiplies rows ~n_tokens/stride
# per doc BEFORE any shuffle, so the wide stage stays within the scan
# task and only the tiny aggregate crosses the wire.
# --------------------------------------------------------------------------
CHUNK_SIZE = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive windows


@CATALOG.query(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ), chunks AS (
        SELECT doc_id, source, n_tokens,
               unnest(range(0, n_tokens, {CHUNK_STRIDE})) AS start
        FROM toks
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(avg(least({CHUNK_SIZE}, n_tokens - start)) AS REAL) AS avg_chunk_len,
           CAST(avg(CASE WHEN n_tokens - start >= {CHUNK_SIZE}
                         THEN 1.0 ELSE 0.0 END) AS REAL) AS full_chunk_share
    FROM chunks
    GROUP BY source
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-96 windows of 128 whitespace tokens per document,
    profiled per source: chunk count, mean chunk length, share of full
    (non-tail) chunks — the numbers that size a training run's sequence
    budget. Same whitespace tokenization as ``token_stats`` (n_tokens
    >= 1 by the split convention, so every doc yields >= 1 chunk)."""
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    chunks = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", n_tokens.alias("n_tokens"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.greatest(F.col("n_tokens") - 1, F.lit(0).cast("long")),
                    F.lit(CHUNK_STRIDE).cast("long"),
                )
            ).alias("start"),
        )
    )
    chunk_len = F.least(F.lit(CHUNK_SIZE).cast("long"), F.col("n_tokens") - F.col("start"))
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        f32(F.avg(chunk_len)).alias("avg_chunk_len"),
        f32(
            F.avg((F.col("n_tokens") - F.col("start") >= CHUNK_SIZE).cast("double"))
        ).alias("full_chunk_share"),
    )


# --------------------------------------------------------------------------
# data_mix_rebalance_profile — training-mix rebalancing (X5): given a
# uniform target mix across sources, the per-source downsampling
# fraction and expected post-sampling counts. The numbers a data-mixing
# stage computes before drawing the actual sample (the draw itself is
# seeded-random and engine-specific; the PLAN is deterministic and
# oracle-matched). Post-aggregation frame is one row per source, so the
# whole-frame window is trivially cheap at any corpus scale.
# --------------------------------------------------------------------------
@CATALOG.query(
    "data_mix_rebalance_profile",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    )
    SELECT source,
           n_docs,
           CAST(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS REAL) AS share,
           CAST(1.0 / count(*) OVER () AS REAL) AS target_share,
           CAST(least(1.0, (1.0 / count(*) OVER ())
                / (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ())) AS REAL)
               AS sample_fraction,
           CAST(floor(n_docs * least(1.0, (1.0 / count(*) OVER ())
                / (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()))) AS BIGINT)
               AS expected_n
    FROM per
    """,
)
def data_mix_rebalance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample-only rebalancing toward a uniform source mix:
    over-represented sources get fraction target/current (< 1),
    under-represented ones keep everything (capped at 1 — upsampling is
    a repetition policy, not a sampling fraction)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy()
    per = _docs(spark, sf_dir).groupBy("source").agg(F.count("*").alias("n_docs"))
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(w)
    target = F.lit(1.0) / F.count("*").over(w)
    frac = F.least(F.lit(1.0), target / share)
    return per.select(
        "source",
        "n_docs",
        f32(share).alias("share"),
        f32(target).alias("target_share"),
        f32(frac).alias("sample_fraction"),
        F.floor(F.col("n_docs") * frac).cast("long").alias("expected_n"),
    )


# --------------------------------------------------------------------------
# token_entropy_profile — lexical-diversity scoring (X5): per-document
# Shannon entropy of the token distribution plus type-token ratio, the
# repetition/diversity gate that complements doc_quality's surface
# heuristics and repetition_signals' n-gram view. Entropy uses the
# closed form H = ln(n) - sum(c*ln c)/n in BOTH engines (identical
# float evaluation order at the term level — cross-engine hash-safe).
# Scale: one token explode -> (doc, token) partial-agg counts -> per-doc
# rollup; both aggs map-side combine, shuffles carry counts not text.
# --------------------------------------------------------------------------
@CATALOG.query(
    "token_entropy_profile",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
        FROM documents
    ), counts AS (
        SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(count(*) / CAST(sum(c) AS DOUBLE) AS REAL) AS type_token_ratio,
           CAST(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c) AS REAL)
               AS token_entropy
    FROM counts
    GROUP BY doc_id
    """,
)
def token_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")).alias(
            "raw_token"
        ),
    ).select("doc_id", F.lower(F.col("raw_token")).alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return (
        counts.groupBy("doc_id")
        .agg(
            n.cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            f32(F.count("*") / n.cast("double")).alias("type_token_ratio"),
            f32(
                F.log(n.cast("double"))
                - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n
            ).alias("token_entropy"),
        )
    )


# --------------------------------------------------------------------------
# ngram_novelty_score — per-document novelty (the memorization-risk /
# boilerplate signal): the share of a document's 20-char stride-10
# shingles whose FIRST corpus occurrence (min doc_id) is this document.
# Low novelty = the document restates content that earlier documents
# already carry — the curation signal between exact dedup (X1) and
# near-dup clustering (X2). Same deterministic shingle enumeration as
# contamination_share, so both engines see identical fingerprints.
# Scale: shingles generate map-side; first-occurrence is one
# map-combinable min-agg on the shingle key, and the ownership join
# re-uses that same key partitioning; the per-doc rollup shuffles
# (doc, 2 counts) cells.
# --------------------------------------------------------------------------
@CATALOG.query(
    "ngram_novelty_score",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               substr(text, CAST(i AS BIGINT), {_CONTAM_K}) AS s
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - {_CONTAM_K - 1}, 1),
                                          {_CONTAM_STRIDE})) AS i
            FROM documents
        )
    ), firsts AS (
        SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           count(*) AS n_shingles,
           count(*) FILTER (WHERE firsts.first_doc = sh.doc_id) AS n_novel,
           CAST(count(*) FILTER (WHERE firsts.first_doc = sh.doc_id)
                / CAST(count(*) AS DOUBLE) AS REAL) AS novelty_share
    FROM sh JOIN firsts ON sh.s = firsts.s
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The wide exploded stream crosses ONE exchange (the min-agg on the
    # shingle key). Everything else is narrow: per-doc shingle counts
    # come from size(array_distinct(...)) map-side BEFORE the explode,
    # and per-doc novel counts are a rollup of the (already small)
    # first-occurrence frame — so the final join moves only (doc_id,
    # count) rows, never shingles. This replaces the earlier
    # sh-join-firsts form, which re-shuffled the full exploded stream a
    # second time just to tag each shingle row with its winner.
    shingle_arr = (
        f"array_distinct(transform(sequence(1, greatest(length(text) - {_CONTAM_K - 1}, 1),"
        f" {_CONTAM_STRIDE}), i -> substring(text, i, {_CONTAM_K})))"
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(shingle_arr).alias("sh_arr")
    )
    per_doc = docs.select(
        "doc_id", F.size("sh_arr").cast("long").alias("n_shingles")
    )
    novel = (
        docs.select("doc_id", F.explode("sh_arr").alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        per_doc.join(novel, per_doc.doc_id == novel.first_doc, "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            f32(F.col("n_novel") / F.col("n_shingles").cast("double")).alias(
                "novelty_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# bm25_keyword_topk — Okapi BM25 ranking of the corpus against a fixed
# keyword query (the retrieval/curation scorer a training-data pipeline
# runs to surface topic-matched documents; same X5 family as TF-IDF but
# with the saturating tf and length normalization real search uses).
#
# Scale shape: ONE token explode, filtered to the query terms BEFORE
# the per-doc groupBy (the shuffle carries only (doc, query-term) hits,
# not the whole vocabulary); document length comes from a map-side
# regexp_count (no second explode); corpus scalars (N, avgdl) are a
# 1-row agg cross-joined back (the q22 device, no collect); per-term
# document frequencies are a |terms|-row frame joined with an explicit
# broadcast. Scores are f32-quantized BEFORE the top-k ordering so the
# rank (and the k-boundary) is identical cross-engine despite
# sum-association differences at double precision.
# --------------------------------------------------------------------------
BM25_TERMS = ("spark", "merge", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 25


@CATALOG.query(
    "bm25_keyword_topk",
    oracle=f"""
    WITH dlf AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}')) AS BIGINT) AS dl
        FROM documents
    ), scal AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dlf
    ), tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS cnt
        FROM tok WHERE token IN ('spark', 'merge', 'vector')
        GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, count(*) AS dfq FROM tf GROUP BY token
    )
    SELECT t.doc_id,
           count(*) AS n_terms_matched,
           CAST(sum(
               ln(1 + (s.n_docs - d.dfq + 0.5) / (d.dfq + 0.5))
               * t.cnt * ({BM25_K1} + 1)
               / (t.cnt + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
           ) AS REAL) AS bm25
    FROM tf t
    JOIN dlf l USING (doc_id)
    JOIN dfreq d USING (token)
    CROSS JOIN scal s
    GROUP BY t.doc_id
    ORDER BY bm25 DESC, t.doc_id
    LIMIT {BM25_TOPK}
    """,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    dlf = docs.select(
        "doc_id",
        F.regexp_count(F.lower(F.col("text")), F.lit(BIGRAM_TOKEN_RE))
        .cast("long")
        .alias("dl"),
    )
    scal = dlf.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{BIGRAM_TOKEN_RE}', 0)")
            ).alias("token"),
        )
        .where(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("dfq"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + 0.5) / (F.col("dfq") + 0.5)
    )
    term_score = idf * F.col("cnt") * (BM25_K1 + 1) / (
        F.col("cnt")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dlf, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_matched"),
            f32(F.sum(term_score)).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --------------------------------------------------------------------------
# unicode_class_profile — character-class composition per document
# (X5): alphabetic / digit / whitespace / other ratios. The cheap
# charset-sanity gate a curation pipeline runs before language ID —
# binary-ish payloads, digit floods, and whitespace art all light up
# here. Pure codegen'd regexp_count over the scan: map-only, no
# shuffle, column-pruned to (doc_id, text).
# --------------------------------------------------------------------------
@CATALOG.query(
    "unicode_class_profile",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
           CAST(len(regexp_extract_all(text, '\\s')) AS BIGINT) AS n_space,
           CAST(CASE WHEN length(text) > 0
                THEN len(regexp_extract_all(text, '[A-Za-z]'))
                     / CAST(length(text) AS DOUBLE) END AS REAL) AS alpha_ratio,
           CAST(CASE WHEN length(text) > 0
                THEN (length(text)
                      - len(regexp_extract_all(text, '[A-Za-z]'))
                      - len(regexp_extract_all(text, '[0-9]'))
                      - len(regexp_extract_all(text, '\\s')))
                     / CAST(length(text) AS DOUBLE) END AS REAL) AS other_ratio
    FROM documents
    """,
)
def unicode_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_chars = F.length("text")
    n_alpha = F.regexp_count(F.col("text"), F.lit("[A-Za-z]"))
    n_digit = F.regexp_count(F.col("text"), F.lit("[0-9]"))
    n_space = F.regexp_count(F.col("text"), F.lit(r"\s"))
    safe_len = F.when(n_chars > 0, n_chars.cast("double"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_actual"),
        n_alpha.cast("long").alias("n_alpha"),
        n_digit.cast("long").alias("n_digit"),
        n_space.cast("long").alias("n_space"),
        f32(n_alpha / safe_len).alias("alpha_ratio"),
        f32((n_chars - n_alpha - n_digit - n_space) / safe_len).alias("other_ratio"),
    )


# --------------------------------------------------------------------------
# term_postings_index — inverted-index build (X5 / IR): for the top 20
# terms by document frequency, the full posting list (sorted doc_ids,
# comma-joined) plus df and total occurrences. The retrieval-side twin
# of vocab_top_tokens: BM25/keyword search serve from exactly this
# layout. Postings aggregate from the same (token, doc_id) partial agg
# the vocabulary uses — one explode, two map-combinable shuffles, top-20
# via TakeOrdered; the posting string is built AFTER the top-k cut, so
# only 20 lists ever concatenate.
# --------------------------------------------------------------------------
@CATALOG.query(
    "term_postings_index",
    oracle=f"""
    WITH tok_all AS (
        SELECT doc_id,
               lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
        FROM documents
    ), tok AS (
        SELECT DISTINCT doc_id, token FROM tok_all
    ), top_terms AS (
        SELECT token, count(DISTINCT doc_id) AS doc_freq,
               count(*) AS n_occurrences
        FROM tok_all
        GROUP BY token
        ORDER BY doc_freq DESC, token
        LIMIT 20
    )
    SELECT tt.token, tt.doc_freq, tt.n_occurrences,
           string_agg(t.doc_id, ',' ORDER BY t.doc_id) AS postings
    FROM top_terms tt JOIN tok t ON tt.token = t.token
    GROUP BY tt.token, tt.doc_freq, tt.n_occurrences
    """,
)
def term_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")).alias(
                "raw_token"
            ),
        )
        .select("doc_id", F.lower(F.col("raw_token")).alias("token"))
    )
    per_doc = tok.groupBy("token", "doc_id").agg(
        F.count("*").alias("n_in_doc")
    )
    top_terms = (
        per_doc.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("n_in_doc").alias("n_occurrences"),
        )
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(20)
    )
    return (
        per_doc.join(F.broadcast(top_terms), "token")
        .groupBy("token", "doc_freq", "n_occurrences")
        .agg(
            F.array_join(F.array_sort(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
        .select("token", "doc_freq", "n_occurrences", "postings")
    )


# --------------------------------------------------------------------------
# source_lorenz_profile — corpus balance as a Lorenz curve over
# sources: sources ordered by document mass ascending, each with its
# share and cumulative share of docs and of character mass. The
# inequality view behind mixture decisions (a cum_share curve hugging
# zero = a corpus dominated by one source). Per-source aggregation is
# one map-combinable groupBy; the Lorenz windows run over the tiny
# |sources|-row frame.
# --------------------------------------------------------------------------
@CATALOG.query(
    "source_lorenz_profile",
    oracle="""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_chars,
           CAST(n_docs / CAST(sum(n_docs) OVER () AS DOUBLE) AS REAL) AS doc_share,
           CAST(sum(n_docs) OVER (ORDER BY n_docs, source)
                / CAST(sum(n_docs) OVER () AS DOUBLE) AS REAL) AS cum_doc_share,
           CAST(sum(n_chars) OVER (ORDER BY n_docs, source)
                / CAST(sum(n_chars) OVER () AS DOUBLE) AS REAL) AS cum_char_share
    FROM per
    """,
)
def source_lorenz_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
    )
    total_w = W.partitionBy()
    lorenz_w = (
        W.orderBy("n_docs", "source").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per.select(
        "source",
        "n_docs",
        "n_chars",
        f32(F.col("n_docs") / F.sum("n_docs").over(total_w).cast("double")).alias(
            "doc_share"
        ),
        f32(
            F.sum("n_docs").over(lorenz_w)
            / F.sum("n_docs").over(total_w).cast("double")
        ).alias("cum_doc_share"),
        f32(
            F.sum("n_chars").over(lorenz_w)
            / F.sum("n_chars").over(total_w).cast("double")
        ).alias("cum_char_share"),
    )


# --------------------------------------------------------------------------
# temperature_mix_weights — temperature-based source sampling (the
# multilingual/multi-source standard: sample share proportional to
# p^alpha, alpha in (0,1), so rare sources are boosted without letting
# any source dominate). Reports per source the natural token share p,
# the temperature share q = p^a / sum(p^a), and the boost factor q/p
# (an effective-epochs multiplier: >1 means the source repeats). The
# alpha=0.5 midpoint is the conventional default. Token mass comes from
# ONE map-side regexp_count; everything after is a |sources|-row frame.
# --------------------------------------------------------------------------
MIX_ALPHA = 0.5


@CATALOG.query(
    "temperature_mix_weights",
    oracle=f"""
    WITH per AS (
        SELECT source,
               CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ), shares AS (
        SELECT source, n_tokens,
               n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p
        FROM per
    )
    SELECT source, n_tokens,
           CAST(p AS REAL) AS nat_share,
           CAST(pow(p, {MIX_ALPHA}) / sum(pow(p, {MIX_ALPHA})) OVER ()
                AS REAL) AS temp_share,
           CAST((pow(p, {MIX_ALPHA}) / sum(pow(p, {MIX_ALPHA})) OVER ()) / p
                AS REAL) AS boost
    FROM shares
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.sum(F.regexp_count(F.col("text"), F.lit(TOKEN_RE)))
            .cast("long")
            .alias("n_tokens")
        )
    )
    total_w = W.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(total_w).cast("double")
    shares = per.select("source", "n_tokens", p.alias("p"))
    pa = F.pow(F.col("p"), F.lit(MIX_ALPHA))
    q = pa / F.sum(pa).over(total_w)
    return shares.select(
        "source",
        "n_tokens",
        f32(F.col("p")).alias("nat_share"),
        f32(q).alias("temp_share"),
        f32(q / F.col("p")).alias("boost"),
    )


# --------------------------------------------------------------------------
# prefix_blocked_edit_distance — classic record-linkage blocking: docs
# sharing a 24-char prefix form a block; within each block every
# unordered pair gets an exact Levenshtein similarity. Blocking is what
# makes edit distance (quadratic per pair, useless all-pairs) usable at
# corpus scale: candidate generation is an equi-self-join on the block
# key (shuffle on prefix hash, pairs only WITHIN blocks), the
# O(len_a*len_b) DP runs only on those pairs, and both engines ship the
# same built-in levenshtein. Complements the MinHash family: edit
# distance catches character-level near-dups (OCR noise, small edits)
# that shingle Jaccard underweights.
# --------------------------------------------------------------------------
_EDIT_BLOCK_CHARS = 24


@CATALOG.query(
    "prefix_blocked_edit_distance",
    oracle=f"""
    WITH blocked AS (
        SELECT doc_id, text, substr(text, 1, {_EDIT_BLOCK_CHARS}) AS blk
        FROM documents WHERE length(text) >= {_EDIT_BLOCK_CHARS}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.text, b.text) AS edit_dist,
           CAST(1.0 - levenshtein(a.text, b.text)
                / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE)
                AS REAL) AS edit_sim
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    """,
)
def prefix_blocked_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocked = (
        _docs(spark, sf_dir)
        .where(F.length("text") >= _EDIT_BLOCK_CHARS)
        .select(
            "doc_id",
            "text",
            F.substring("text", 1, _EDIT_BLOCK_CHARS).alias("blk"),
        )
    )
    a = blocked.select(
        F.col("blk"), F.col("doc_id").alias("id_a"), F.col("text").alias("t_a")
    )
    b = blocked.select(
        F.col("blk").alias("blk_b"),
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("t_b"),
    )
    lev = F.levenshtein(F.col("t_a"), F.col("t_b"))
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .select(
            "id_a",
            "id_b",
            lev.alias("edit_dist"),
            f32(
                1.0
                - lev
                / F.greatest(F.length("t_a"), F.length("t_b")).cast("double")
            ).alias("edit_sim"),
        )
    )


# --------------------------------------------------------------------------
# token_cooccurrence_pmi — collocation mining: pointwise mutual
# information of adjacent token pairs, ln(N * c(ab) / (c(a)*c(b))),
# over pairs seen >= 5 times; top 50 by PMI (ties by pair). High-PMI
# pairs are multiword units ("new york") a tokenizer/phrase stage
# should treat atomically. One explode produces BOTH the unigram and
# the adjacent-bigram streams; the scalar N is a 1-row broadcast; the
# two unigram lookups broadcast back onto the (already aggregated)
# bigram frame, so nothing wide crosses a second shuffle.
# --------------------------------------------------------------------------
_PMI_MIN_COUNT = 5


@CATALOG.query(
    "token_cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS tok,
               generate_subscripts(regexp_extract_all(text, '{TOKEN_RE}'), 1) AS pos
        FROM documents
    ), uni AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), n_total AS (
        SELECT count(*) AS n FROM toks
    ), bi AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS c_ab
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY a.tok, b.tok
        HAVING count(*) >= {_PMI_MIN_COUNT}
    )
    SELECT bi.tok_a, bi.tok_b, bi.c_ab,
           CAST(ln(n.n * CAST(bi.c_ab AS DOUBLE) / (ua.c * CAST(ub.c AS DOUBLE)))
                AS REAL) AS pmi
    FROM bi, n_total n
    JOIN uni ua ON bi.tok_a = ua.tok
    JOIN uni ub ON bi.tok_b = ub.tok
    ORDER BY pmi DESC, bi.tok_a, bi.tok_b
    LIMIT 50
    """,
)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")
        ).alias("pos0", "raw"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.lower(F.col("raw")).alias("tok"),
        # pinned: four consumers (unigrams, total, both bigram join
        # legs) — one regexp tokenize pass instead of four (round-12;
        # the one-tokenize-pass discipline)
    ).localCheckpoint(eager=False)
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    n_total = toks.agg(F.count("*").alias("n"))
    nxt = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("tok").alias("tok_b"),
    )
    bi = (
        toks.join(
            nxt,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos") + 1),
        )
        .groupBy(F.col("tok").alias("tok_a"), "tok_b")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        bi.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            f32(
                F.log(
                    F.col("n")
                    * F.col("c_ab").cast("double")
                    / (F.col("c_a") * F.col("c_b").cast("double"))
                )
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(50)
    )


# --------------------------------------------------------------------------
# doc_length_log2_histogram — corpus length distribution on a log2
# scale (the curation histogram every corpus report opens with:
# power-law length spread needs log buckets, not equiwidth). Bucket =
# floor(log2(n_chars)) on the pre-materialized n_chars column; one
# map-combinable aggregate, ~30 output rows at any corpus size, shares
# and average length per bucket from a broadcast 1-row total.
# --------------------------------------------------------------------------
@CATALOG.query(
    "doc_length_log2_histogram",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(log2(n_chars)) AS BIGINT) AS log2_bucket, n_chars
        FROM documents WHERE n_chars > 0
    )
    SELECT log2_bucket,
           count(*) AS n_docs,
           CAST(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS REAL)
               AS doc_share,
           CAST(avg(n_chars) AS REAL) AS avg_chars
    FROM b
    GROUP BY log2_bucket
    """,
)
def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.floor(F.log2(F.col("n_chars"))).cast("long")
    counts = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars") > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(F.count("*").alias("n_docs"), F.avg("n_chars").alias("_avg"))
        .localCheckpoint(eager=False)  # ~30 rows; reused by the total side
    )
    total = F.broadcast(counts.agg(F.sum("n_docs").alias("_total")))
    return counts.crossJoin(total).select(
        "log2_bucket",
        "n_docs",
        f32(F.col("n_docs") / F.col("_total").cast("double")).alias("doc_share"),
        f32(F.col("_avg")).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# token_length_histogram — token-length distribution (the BPE/tokenizer
# design histogram: how much mass sits in 1-2-char tokens vs long
# identifiers). One explode -> (length) partial counts; the explode is
# the only fact-scale stage and the shuffle carries ~20 (length, count)
# cells per task.
# --------------------------------------------------------------------------
@CATALOG.query(
    "token_length_histogram",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents
    ), counted AS (
        SELECT length(token) AS token_len, token FROM tok
    )
    SELECT token_len,
           count(*) AS n_tokens,
           count(DISTINCT token) AS n_distinct,
           CAST(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS REAL)
               AS token_share
    FROM counted
    GROUP BY token_len
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = _docs(spark, sf_dir).select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("token")
    )
    counts = (
        tok.groupBy(F.length("token").alias("token_len"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.count_distinct("token").alias("n_distinct"),
        )
        .localCheckpoint(eager=False)  # ~20 rows
    )
    total = F.broadcast(counts.agg(F.sum("n_tokens").alias("_total")))
    return counts.crossJoin(total).select(
        "token_len",
        "n_tokens",
        "n_distinct",
        f32(F.col("n_tokens") / F.col("_total").cast("double")).alias("token_share"),
    )


# --------------------------------------------------------------------------
# source_vocab_overlap_matrix — pairwise vocabulary overlap between
# sources (the domain-similarity matrix a data-mixing stage consults:
# which corpora are near-duplicates in vocabulary space?). Distinct
# (source, token) pairs — partial-agg'd before the one token-keyed
# exchange — self-joined ON TOKEN (co-located, no cross join), counted
# per source pair, then Jaccard from broadcast per-source vocab sizes.
# Output is |sources| choose 2 rows; the token join is the only
# fact-scale stage and its key (token) is the natural shuffle key.
# --------------------------------------------------------------------------
@CATALOG.query(
    "source_vocab_overlap_matrix",
    oracle=f"""
    WITH vocab AS (
        SELECT DISTINCT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents
    ), sizes AS (
        SELECT source, count(*) AS vocab_size FROM vocab GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM vocab a JOIN vocab b
          ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_shared,
           sa.vocab_size AS vocab_a, sb.vocab_size AS vocab_b,
           CAST(n_shared / CAST(sa.vocab_size + sb.vocab_size - n_shared
                                AS DOUBLE) AS REAL) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def source_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("token"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # reused by sizes and both join sides
    )
    sizes = F.broadcast(
        vocab.groupBy("source").agg(F.count("*").alias("vocab_size"))
    )
    a = vocab.select(F.col("source").alias("source_a"), "token")
    b = vocab.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, ["token"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            sizes.select(F.col("source").alias("source_a"), F.col("vocab_size").alias("vocab_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"), F.col("vocab_size").alias("vocab_b")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            f32(
                F.col("n_shared")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# source_char_trigram_jsd — DISTRIBUTIONAL divergence between source
# pairs: Jensen-Shannon divergence of their character-trigram
# distributions, via the entropy identity JSD(P, Q) = H((P+Q)/2) -
# (H(P) + H(Q)) / 2 (nats, in [0, ln 2]). The distribution-shape
# complement to source_vocab_overlap_matrix's SET overlap: two sources
# can share a vocabulary yet weight it differently (template-heavy vs
# organic), and char trigrams catch tokenizer-invisible differences
# (casing/punctuation/encoding residue). The domain-mixing signal a
# data-mix planner reads next to the KL anomaly sweep.
#
# Scale shape: the corpus-sized stage is ONE (source, trigram) count
# (map-combinable); everything downstream runs at |sources| x |tri
# vocab| grain — trigram vocabulary is alphabet-bounded, so the pair
# mixture M is built from two equi-joins against a broadcast pair list
# (NOT an IN-condition nested-loop join) and the entropy rollups are
# bounded. Output is |sources|^2 / 2 rows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "source_char_trigram_jsd",
    oracle="""
    WITH docs3 AS (
        SELECT source, lower(text) AS txt FROM documents
        WHERE length(text) >= 3
    ), tri AS (
        SELECT source,
               substr(txt, CAST(i AS BIGINT), 3) AS tri
        FROM docs3, unnest(generate_series(1, length(txt) - 2)) AS t(i)
    ), counts AS (
        SELECT source, tri, count(*) AS c FROM tri GROUP BY source, tri
    ), tot AS (
        SELECT source, sum(c) AS t FROM counts GROUP BY source
    ), shares AS (
        SELECT counts.source, tri, c / CAST(t AS DOUBLE) AS p
        FROM counts JOIN tot ON tot.source = counts.source
    ), hs AS (
        SELECT source, -sum(p * ln(p)) AS h FROM shares GROUP BY source
    ), srcs AS (
        SELECT DISTINCT source FROM shares
    ), prs AS (
        SELECT s1.source AS source_a, s2.source AS source_b
        FROM srcs s1 JOIN srcs s2 ON s1.source < s2.source
    ), m AS (
        SELECT source_a, source_b, tri, sum(p) / 2 AS mp
        FROM (
            SELECT p.source_a, p.source_b, s.tri, s.p
            FROM prs p JOIN shares s ON s.source = p.source_a
            UNION ALL
            SELECT p.source_a, p.source_b, s.tri, s.p
            FROM prs p JOIN shares s ON s.source = p.source_b
        )
        GROUP BY source_a, source_b, tri
    ), hm AS (
        SELECT source_a, source_b,
               -sum(mp * ln(mp)) AS h, count(*) AS n_tri
        FROM m GROUP BY source_a, source_b
    )
    SELECT hm.source_a, hm.source_b,
           CAST(hm.n_tri AS BIGINT) AS n_tri_union,
           CAST(hm.h - (ha.h + hb.h) / 2 AS REAL) AS jsd_nats
    FROM hm
    JOIN hs ha ON ha.source = hm.source_a
    JOIN hs hb ON hb.source = hm.source_b
    """,
)
def source_char_trigram_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    tri = (
        _docs(spark, sf_dir)
        .select("source", F.lower(F.col("text")).alias("txt"))
        .where(F.length("txt") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(txt) - 2),"
                    " i -> substring(txt, i, 3))"
                )
            ).alias("tri"),
        )
    )
    counts = tri.groupBy("source", "tri").agg(F.count("*").alias("c"))
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    shares = (
        counts.join(F.broadcast(tot), "source")
        .select("source", "tri", (F.col("c") / F.col("t").cast("double")).alias("p"))
        .localCheckpoint(eager=False)  # reused by hs and both mixture legs
    )
    # Round-13 restructure (guide §2.3 "aggregate before you shuffle",
    # §2.4): the union-leg mixture replicated every share row once per
    # pair it participates in ((|sources|-1) x |shares| rows) into a
    # (pair, tri) aggregation whose keys are near-unique — no map-side
    # collapse. The JSD mixture decomposes instead into per-source
    # scalars plus shared-trigram corrections:
    #   -sum_union mp ln mp
    #     = -[ sum_both ((pa+pb)/2) ln((pa+pb)/2)
    #          + (T_a - sum_both (pa/2) ln(pa/2))
    #          + (T_b - sum_both (pb/2) ln(pb/2)) ]
    #   with T_s = sum_{tri in s} (p/2) ln(p/2)  (a per-source scalar:
    #   a tri only in one source contributes mp = p/2), and
    #   n_tri_union = n_a + n_b - n_both.
    # One self-join of shares on tri (both legs read the pinned blocks
    # through ONE reused exchange) replaces the pair fan-out, and every
    # aggregation collapses map-side to |sources|^2 rows. Per-term
    # doubles are identical to the union form; only summation grouping
    # changes, absorbed by the f32 output boundary exactly like the
    # engine-to-engine order difference already is.
    half = F.col("p") / 2
    stats = (
        shares.groupBy("source")
        .agg(
            (-F.sum(F.col("p") * F.log("p"))).alias("h"),
            F.sum(half * F.log(half)).alias("t_half"),
            F.count("*").alias("n_tri"),
        )
        .localCheckpoint(eager=False)  # |sources| rows, read by 3 legs
    )
    prs = F.broadcast(
        stats.select(F.col("source").alias("source_a"))
        .join(
            stats.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    mp = (F.col("sa.p") + F.col("sb.p")) / 2
    pa_half = F.col("sa.p") / 2
    pb_half = F.col("sb.p") / 2
    both = (
        shares.alias("sa")
        .join(
            shares.alias("sb"),
            (F.col("sa.tri") == F.col("sb.tri"))
            & (F.col("sa.source") < F.col("sb.source")),
        )
        .groupBy(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
        )
        .agg(
            F.sum(mp * F.log(mp)).alias("s_m"),
            F.sum(pa_half * F.log(pa_half)).alias("s_a"),
            F.sum(pb_half * F.log(pb_half)).alias("s_b"),
            F.count("*").alias("n_both"),
        )
    )
    sta = F.broadcast(
        stats.select(
            F.col("source").alias("source_a"),
            F.col("h").alias("ha"),
            F.col("t_half").alias("ta"),
            F.col("n_tri").alias("na"),
        )
    )
    stb = F.broadcast(
        stats.select(
            F.col("source").alias("source_b"),
            F.col("h").alias("hb"),
            F.col("t_half").alias("tb"),
            F.col("n_tri").alias("nb"),
        )
    )
    hm = -(
        F.coalesce(F.col("s_m"), F.lit(0.0))
        + (F.col("ta") - F.coalesce(F.col("s_a"), F.lit(0.0)))
        + (F.col("tb") - F.coalesce(F.col("s_b"), F.lit(0.0)))
    )
    return (
        prs.join(both, ["source_a", "source_b"], "left")
        .join(sta, "source_a")
        .join(stb, "source_b")
        .select(
            "source_a",
            "source_b",
            (
                F.col("na") + F.col("nb")
                - F.coalesce(F.col("n_both"), F.lit(0).cast("long"))
            ).alias("n_tri_union"),
            f32(hm - (F.col("ha") + F.col("hb")) / 2).alias("jsd_nats"),
        )
    )


# --------------------------------------------------------------------------
# hapax_legomena_share — per-source hapax profile (tokens occurring
# exactly once): the vocabulary-freshness signal that separates
# organic text (hapax share ~40-60% by Zipf) from templated/generated
# text (low hapax share). Two nested map-combinable aggregates over the
# single token explode; output is |sources| rows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "hapax_legomena_share",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        FROM documents
    ), counts AS (
        SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
    )
    SELECT source,
           count(*) AS vocab_size,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS hapax_vocab_share
    FROM counts
    GROUP BY source
    """,
)
def hapax_legomena_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    hapax = (F.col("c") == 1).cast("long")
    return counts.groupBy("source").agg(
        F.count("*").alias("vocab_size"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(hapax).alias("n_hapax"),
        f32(F.sum(hapax) / F.count("*").cast("double")).alias("hapax_vocab_share"),
    )


# --------------------------------------------------------------------------
# exact_dup_cross_source_keep — curation KEEP POLICY on exact-dup
# groups: identical texts collapse to ONE canonical copy chosen by
# (source ASC, doc_id ASC) — the deterministic "priority source wins"
# rule — and the rollup reports, per source, how many docs it keeps,
# how many it loses, and how many it loses TO ANOTHER SOURCE (the
# cross-source leakage number a mixing stage needs, since dropping a
# doc whose canonical lives in a different source shifts the mix).
# Plan: min(struct(source, doc_id)) per text group is one
# map-combinable aggregate; the shuffle carries (text-hash, 2-field
# struct); the rollup is |sources| rows.
# --------------------------------------------------------------------------
@CATALOG.query(
    "exact_dup_cross_source_keep",
    oracle="""
    WITH labeled AS (
        SELECT source, doc_id,
               first_value(source) OVER w AS canon_source,
               first_value(doc_id) OVER w AS canon_doc_id
        FROM documents
        WINDOW w AS (PARTITION BY text ORDER BY source, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id = canon_doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN doc_id <> canon_doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN doc_id <> canon_doc_id
                         AND canon_source <> source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost_cross_source
    FROM labeled
    GROUP BY source
    """,
)
def exact_dup_cross_source_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    canon = docs.groupBy("text").agg(
        F.min(F.struct("source", "doc_id")).alias("c")
    )
    labeled = docs.join(canon, "text").select(
        "source",
        "doc_id",
        F.col("c.source").alias("canon_source"),
        F.col("c.doc_id").alias("canon_doc_id"),
    )
    kept = (F.col("doc_id") == F.col("canon_doc_id")).cast("long")
    cross = (
        (F.col("doc_id") != F.col("canon_doc_id"))
        & (F.col("canon_source") != F.col("source"))
    ).cast("long")
    return labeled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.sum(1 - kept).alias("n_dropped"),
        F.sum(cross).alias("n_lost_cross_source"),
    )


# --------------------------------------------------------------------------
# training_shard_layout — output-shard planning (the step between
# curation and the training-export write): docs are assigned to
# N_SHARDS output files by content-stable hash (first 8 md5 hex chars
# mod N — reproducible, resilient to repartitioning, the same device
# train_test_split_profile uses), and the layout report gives each
# shard's doc count, byte mass, and imbalance vs the ideal — the
# number that decides whether the export needs a salt. The assignment
# is a pure map projection fusable into the write itself
# (partitionBy(shard)); only the |shards|-row census shuffles.
# --------------------------------------------------------------------------
N_SHARDS = 16


@CATALOG.query(
    "training_shard_layout",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % {N_SHARDS} AS BIGINT) AS shard,
               n_chars
        FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes,
           CAST(sum(n_chars) * {N_SHARDS}
                / CAST(sum(sum(n_chars)) OVER () AS DOUBLE) AS REAL)
               AS balance_ratio
    FROM assigned
    GROUP BY shard
    """,
)
def training_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % N_SHARDS
    )
    census = (
        _docs(spark, sf_dir)
        .select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_bytes"),
        )
        .localCheckpoint(eager=False)  # N_SHARDS rows
    )
    total = F.broadcast(census.agg(F.sum("n_bytes").alias("_total")))
    return census.crossJoin(total).select(
        "shard",
        "n_docs",
        "n_bytes",
        f32(
            F.col("n_bytes") * N_SHARDS / F.col("_total").cast("double")
        ).alias("balance_ratio"),
    )


# --------------------------------------------------------------------------
# heavy_hitters_topk_tokens — EXACT top-k tokens via the mergeable
# heavy-hitters candidate pass (operators/freqsketch.py): per-partition
# top-`capacity` candidates (pigeonhole-complete for every global heavy
# hitter), broadcast semi-join recount, TakeOrdered. The FREQUENCY dual
# of the HLL rollup, and the scale path next to `vocab_top_tokens`:
# that query aggregates the FULL token dictionary globally (right when
# the dictionary fits a shuffle), this one never shuffles more than the
# candidate set — the form that survives a 100 TB corpus whose
# dictionary alone is TB-scale. Unsound-parameter cases RAISE rather
# than return a wrong answer (soundness pinned in
# tests/test_freqsketch.py); the oracle is the plain exact top-k.
# --------------------------------------------------------------------------
@CATALOG.query(
    "heavy_hitters_topk_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS item
        FROM documents
    )
    SELECT item, count(*) AS n
    FROM tok
    GROUP BY item
    ORDER BY n DESC, item
    LIMIT 50
    """,
)
def heavy_hitters_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.operators.freqsketch import (  # noqa: PLC0415
        heavy_hitters_topk,
    )

    tok = _docs(spark, sf_dir).select(
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("item")
    )
    return heavy_hitters_topk(tok, "item", k=50, capacity=4096)


# --------------------------------------------------------------------------
# neyman_sample_allocation — optimal (Neyman) stratified-sampling
# design: given a fixed sample budget, each source stratum gets budget
# proportional to n_h * sigma_h (its size x within-stratum stddev of
# doc length) — the allocation that minimizes estimator variance,
# versus the proportional allocation train_test_split-style pipelines
# default to. Pure two-level map-combinable aggregation (moment-based
# stddev); the allocation arithmetic runs on the |sources|-row frame
# with a broadcast 1-row total.
# --------------------------------------------------------------------------
SAMPLE_BUDGET = 1000


@CATALOG.query(
    "neyman_sample_allocation",
    oracle=f"""
    WITH per AS (
        SELECT source, count(*) AS n_docs,
               coalesce(stddev_samp(n_chars), 0.0) AS sigma
        FROM documents GROUP BY source
    )
    SELECT source, n_docs,
           CAST(sigma AS REAL) AS sigma_chars,
           CAST(n_docs * sigma / sum(n_docs * sigma) OVER () AS REAL)
               AS neyman_share,
           CAST(floor({SAMPLE_BUDGET} * n_docs * sigma
                      / sum(n_docs * sigma) OVER ()) AS BIGINT) AS n_alloc
    FROM per
    """,
)
def neyman_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.stddev_samp("n_chars"), F.lit(0.0)).alias("sigma"),
        )
        .localCheckpoint(eager=False)  # |sources| rows
    )
    mass = F.col("n_docs") * F.col("sigma")
    total = F.broadcast(
        per.agg(F.sum(F.col("n_docs") * F.col("sigma")).alias("_t"))
    )
    return per.crossJoin(total).select(
        "source",
        "n_docs",
        f32(F.col("sigma")).alias("sigma_chars"),
        f32(mass / F.col("_t")).alias("neyman_share"),
        F.floor(F.lit(SAMPLE_BUDGET) * mass / F.col("_t")).cast("long").alias("n_alloc"),
    )


# --------------------------------------------------------------------------
# lang_id_confusion_matrix — classifier EVALUATION on top of the
# language-ID heuristic: the (label, prediction) confusion matrix with
# per-cell share of the true-label row — the quality report any
# auto-labeling stage ships with. Reuses lang_id_heuristic's scoring
# verbatim; one extra map-combinable rollup over the scored frame plus
# a broadcast per-label total. Output is ≤ |langs|² rows at any corpus
# size.
# --------------------------------------------------------------------------
@CATALOG.query(
    "lang_id_confusion_matrix",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["en"]}')) AS BIGINT) AS score_en,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["es"]}')) AS BIGINT) AS score_es,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["fr"]}')) AS BIGINT) AS score_fr,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["de"]}')) AS BIGINT) AS score_de,
               CAST(len(regexp_extract_all(text, '{_LANG_MARKERS["zh"]}')) AS BIGINT) AS score_zh
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE
                 WHEN score_en >= greatest(score_es, score_fr, score_de, score_zh) THEN 'en'
                 WHEN score_es >= greatest(score_fr, score_de, score_zh) THEN 'es'
                 WHEN score_fr >= greatest(score_de, score_zh) THEN 'fr'
                 WHEN score_de >= score_zh THEN 'de'
                 ELSE 'zh'
               END AS pred_lang
        FROM scored
    )
    SELECT lang, pred_lang,
           count(*) AS n_docs,
           CAST(count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang)
                                AS DOUBLE) AS REAL) AS row_share
    FROM pred
    GROUP BY lang, pred_lang
    """,
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = {
        lang: F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
        for lang, pat in _LANG_MARKERS.items()
    }
    s = {lang: scores[lang] for lang in _LANG_MARKERS}
    pred = (
        F.when(s["en"] >= F.greatest(s["es"], s["fr"], s["de"], s["zh"]), "en")
        .when(s["es"] >= F.greatest(s["fr"], s["de"], s["zh"]), "es")
        .when(s["fr"] >= F.greatest(s["de"], s["zh"]), "fr")
        .when(s["de"] >= s["zh"], "de")
        .otherwise("zh")
    )
    cells = (
        _docs(spark, sf_dir)
        .select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    # per-true-label totals over the ≤|langs|² cell frame
    row_w = W.partitionBy("lang")
    return cells.select(
        "lang",
        "pred_lang",
        "n_docs",
        f32(
            F.col("n_docs") / F.sum("n_docs").over(row_w).cast("double")
        ).alias("row_share"),
    )


# --------------------------------------------------------------------------
# doc_quality_filter_funnel — the curation FILTER FUNNEL: how much of
# the corpus (docs and chars) survives each quality gate CUMULATIVELY
# (each stage applies on top of all previous ones — the report every
# LLM-data pipeline publishes next to its retention number). Gates:
# 1 non-empty, 2 length >= 100, 3 >= 20 tokens, 4 stopword ratio in
# [0.02, 0.6] (prose-likeness), 5 mean token length <= 12 (gibberish /
# code-dump screen). ONE scan: per-row gate depth is a codegen'd CASE
# chain; the funnel is a 5-row conditional aggregation — no joins, no
# second pass, no per-stage subqueries.
# --------------------------------------------------------------------------
@CATALOG.query(
    "doc_quality_filter_funnel",
    oracle=f"""
    WITH feats AS (
        SELECT n_chars,
               length(text) AS len,
               len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tok,
               len(regexp_extract_all(text, '{STOPWORD_RE}')) AS n_stop,
               length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alnum_chars
        FROM documents
    ), depth AS (
        SELECT n_chars,
               CASE
                 WHEN len = 0 THEN 0
                 WHEN len < 100 THEN 1
                 WHEN n_tok < 20 THEN 2
                 WHEN n_stop < 0.02 * n_tok OR n_stop > 0.6 * n_tok THEN 3
                 WHEN alnum_chars > 12 * n_tok THEN 4
                 ELSE 5
               END AS gate_depth
        FROM feats
    ), tot AS (
        SELECT count(*) AS n, sum(n_chars) AS ch FROM depth
    )
    SELECT g.stage,
           CAST(count(CASE WHEN d.gate_depth >= g.stage THEN 1 END) AS BIGINT)
               AS n_surviving,
           CAST(sum(CASE WHEN d.gate_depth >= g.stage THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_surviving,
           CAST(count(CASE WHEN d.gate_depth >= g.stage THEN 1 END)
                / CAST(t.n AS DOUBLE) AS REAL) AS doc_retention,
           CAST(sum(CASE WHEN d.gate_depth >= g.stage THEN d.n_chars
                         ELSE 0 END) / CAST(t.ch AS DOUBLE) AS REAL)
               AS char_retention
    FROM depth d
    CROSS JOIN tot t
    CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS stage) g
    GROUP BY g.stage, t.n, t.ch
    """,
)
def doc_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tok = F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    n_stop = F.regexp_count(F.col("text"), F.lit(STOPWORD_RE))
    alnum = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
    depth = (
        F.when(F.length("text") == 0, 0)
        .when(F.length("text") < 100, 1)
        .when(n_tok < 20, 2)
        .when(
            (n_stop < 0.02 * n_tok) | (n_stop > 0.6 * n_tok), 3
        )
        .when(alnum > 12 * n_tok, 4)
        .otherwise(5)
    )
    d = _docs(spark, sf_dir).select(
        "n_chars", depth.alias("gate_depth")
    )
    # funnel as conditional sums: one scan, map-combined partials; the
    # 5-stage expansion happens on the 1-row aggregate, not the corpus
    agg = d.agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("ch"),
        *[
            F.sum((F.col("gate_depth") >= s).cast("long")).alias(f"ns{s}")
            for s in range(1, 6)
        ],
        *[
            F.sum(
                F.when(F.col("gate_depth") >= s, F.col("n_chars")).otherwise(0)
            ).alias(f"cs{s}")
            for s in range(1, 6)
        ],
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(s).cast("long").alias("stage"),
                F.col(f"ns{s}").alias("n_surviving"),
                F.col(f"cs{s}").alias("chars_surviving"),
            )
            for s in range(1, 6)
        ]
    )
    ex = agg.select("n", "ch", F.explode(stages).alias("s"))
    return ex.select(
        F.col("s.stage").alias("stage"),
        F.col("s.n_surviving").alias("n_surviving"),
        F.col("s.chars_surviving").alias("chars_surviving"),
        f32(F.col("s.n_surviving") / F.col("n").cast("double")).alias(
            "doc_retention"
        ),
        f32(F.col("s.chars_surviving") / F.col("ch").cast("double")).alias(
            "char_retention"
        ),
    )


# --------------------------------------------------------------------------
# boilerplate_shingle_share — the C4/RefinedWeb-style boilerplate
# signal: content shingles that recur across many DISTINCT documents
# (navigation chrome, license blurbs, template fragments) measured per
# source. 12-char shingles at stride 6 (deterministic offsets, both
# engines enumerate the same positions, per-doc dedup via
# array_distinct) shuffle ONCE on the shingle to count distinct docs;
# shingles hitting >= BOILER_MIN_DOCS docs form the boilerplate set,
# and a second shingle-keyed join scores every document. Per-source
# output: doc counts, shingle volumes, and both the micro (pooled) and
# macro (per-doc mean) boilerplate shares. At 100 TB both row-volume
# stages are shingle-partitioned shuffles with map-side combine — the
# exact shape of the production line-dedup pass, at shingle grain
# because the corpus is single-line.
# --------------------------------------------------------------------------
BOILER_K = 12
BOILER_STRIDE = 6
BOILER_MIN_DOCS = 5


@CATALOG.query(
    "boilerplate_shingle_share",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, source,
               substr(text, CAST(i AS BIGINT), {BOILER_K}) AS s
        FROM (
            SELECT doc_id, source, text,
                   unnest(generate_series(1,
                          greatest(length(text) - {BOILER_K - 1}, 1),
                          {BOILER_STRIDE})) AS i
            FROM documents
        )
    ), boiler AS (
        SELECT s FROM sh GROUP BY s
        HAVING count(*) >= {BOILER_MIN_DOCS}
    ), per_doc AS (
        SELECT sh.doc_id, sh.source,
               count(*) AS n_sh,
               CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM sh LEFT JOIN boiler b ON sh.s = b.s
        GROUP BY sh.doc_id, sh.source
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_sh) AS BIGINT) AS n_shingles,
           CAST(sum(n_b) AS BIGINT) AS n_boiler_shingles,
           CAST(sum(n_b) / CAST(sum(n_sh) AS DOUBLE) AS REAL)
               AS micro_share,
           CAST(avg(n_b / CAST(n_sh AS DOUBLE)) AS REAL) AS macro_share
    FROM per_doc GROUP BY source
    """,
)
def boilerplate_shingle_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingle_arr = (
        f"array_distinct(transform(sequence(1,"
        f" greatest(length(text) - {BOILER_K - 1}, 1), {BOILER_STRIDE}),"
        f" i -> substring(text, i, {BOILER_K})))"
    )
    # Deliberately NOT checkpointed: the exploded shingle table is
    # corpus-sized (rows x shingles-per-doc), so pinning it would cache
    # the whole corpus's worth of substrings. Recomputing the explode
    # for the census and the scoring join is two map-side substring
    # passes — the standard recompute-over-cache trade for cheap,
    # high-fanout intermediates.
    sh = _docs(spark, sf_dir).select(
        "doc_id", "source", F.explode(F.expr(shingle_arr)).alias("s")
    )
    boiler = (
        sh.groupBy("s")
        .agg(F.count("*").alias("_nd"))  # per-doc distinct -> count = docs
        .where(F.col("_nd") >= BOILER_MIN_DOCS)
        .select("s")
        .withColumn("_b", F.lit(1).cast("long"))
    )
    per_doc = (
        sh.join(boiler, "s", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_sh"),
            F.coalesce(F.sum("_b"), F.lit(0)).alias("n_b"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_sh").alias("n_shingles"),
        F.sum("n_b").alias("n_boiler_shingles"),
        f32(F.sum("n_b") / F.sum("n_sh").cast("double")).alias("micro_share"),
        f32(F.avg(F.col("n_b") / F.col("n_sh").cast("double"))).alias(
            "macro_share"
        ),
    )


# --------------------------------------------------------------------------
# source_qq_drift — quantile-quantile drift table between each source's
# document-length distribution and the global one: the decile grid of
# n_chars per source against the corpus decile grid, with per-decile
# ratios. The "is this source's length profile shifted" curation
# diagnostic, the tabular form of a QQ plot. Both sides ride
# functions.quantiles.exact_group_quantiles — histogram selection with
# per-bucket counts to the driver, NO per-group value buffer
# (F.percentile's buffer is the documented scale wall at corpus
# grain) — so the plan survives sources of any size. Interpolation is quantile_cont semantics on both engines;
# the decile melt and ratio arithmetic run on |sources| x 9 rows.
# --------------------------------------------------------------------------
QQ_DECILES = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


@CATALOG.query(
    "source_qq_drift",
    oracle="""
    WITH s AS (
        SELECT source,
               quantile_cont(n_chars,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qv
        FROM documents GROUP BY source
    ), g AS (
        SELECT quantile_cont(n_chars,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qv
        FROM documents
    ), sl AS (
        SELECT source, 10 * i AS pct, CAST(s.qv[i] AS REAL) AS source_value
        FROM s, unnest(generate_series(1, 9)) AS t(i)
    ), gl AS (
        SELECT 10 * i AS pct, CAST(g.qv[i] AS REAL) AS global_value
        FROM g, unnest(generate_series(1, 9)) AS t(i)
    )
    SELECT sl.source, sl.pct, sl.source_value, gl.global_value,
           CAST(CAST(sl.source_value AS DOUBLE)
                / CAST(gl.global_value AS DOUBLE) AS REAL) AS qq_ratio
    FROM sl JOIN gl USING (pct)
    """,
)
def source_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_quantiles,
    )

    docs = _docs(spark, sf_dir).select("source", "n_chars")
    # ONE machinery invocation for per-source AND global deciles: the
    # global grain rides a sentinel group over a unioned copy of the
    # rows (exact order statistics of the union == global), so the
    # range-partition + counts-collect + pick pipeline runs once
    # instead of twice (round-12; the sentinel can't collide with a
    # real source because source is a bare word in this corpus)
    both = docs.unionByName(
        docs.select(F.lit("\x00__global__").alias("source"), "n_chars")
    )
    q_all = exact_group_quantiles(both, "source", "n_chars", QQ_DECILES)
    stack_src = ", ".join(
        f"{int(q * 100)}, p{int(q * 100)}" for q in QQ_DECILES
    )
    # eqNullSafe (ADVICE r12): a plain != drops a NULL-source group
    # (NULL != x is NULL); null-safe comparison keeps it in the
    # per-source leg, matching the pre-fusion two-call form.
    sl = q_all.where(
        ~F.col("source").eqNullSafe(F.lit("\x00__global__"))
    ).select(
        "source",
        F.expr(
            f"stack({len(QQ_DECILES)}, {stack_src}) AS (pct, source_value)"
        ),
    )
    gl = q_all.where(F.col("source") == "\x00__global__").select(
        F.expr(
            f"stack({len(QQ_DECILES)}, {stack_src}) AS (pct, global_value)"
        )
    )
    return sl.join(F.broadcast(gl), "pct").select(
        "source",
        "pct",
        "source_value",
        "global_value",
        f32(
            F.col("source_value").cast("double")
            / F.col("global_value").cast("double")
        ).alias("qq_ratio"),
    )


# --------------------------------------------------------------------------
# text_zlib_compress_ratio — compressibility as a quality signal: the
# per-document zlib ratio (compressed/raw bytes), profiled per source.
# The standard web-corpus heuristic (highly compressible text is
# repetitive boilerplate or degenerate generation; near-incompressible
# text is often binary junk or high-entropy noise). Compression can't
# be expressed in SQL expressions, so this is the UD5 escape hatch done
# right: ONE Arrow-batched scalar pandas_udf (never row-at-a-time
# BatchEvalPython), map-only per document, followed by a JVM
# aggregation — the 100 TB shape is embarrassingly parallel. Rows-only
# for the driver (DuckDB has no zlib); the definition is pinned by an
# independent stdlib-zlib reference test.
# --------------------------------------------------------------------------
ZLIB_LEVEL = 6
ZRATIO_REDUNDANT = 0.35  # below = near-degenerate repetition


def _zratio_batches(batches):
    import zlib  # noqa: PLC0415

    def one(t: str) -> float:
        raw = t.encode("utf-8")
        if not raw:
            return 1.0
        return len(zlib.compress(raw, ZLIB_LEVEL)) / len(raw)

    for pdf in batches:
        pdf = pdf[["source"]].assign(zr=pdf["text"].map(one))
        yield pdf


@CATALOG.query("text_zlib_compress_ratio")
def text_zlib_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _docs(spark, sf_dir).select("source", "text").mapInPandas(
        _zratio_batches, schema="source string, zr double"
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        f32(F.avg("zr")).alias("mean_ratio"),
        f32(F.min("zr")).alias("min_ratio"),
        f32(F.max("zr")).alias("max_ratio"),
        F.sum((F.col("zr") < ZRATIO_REDUNDANT).cast("long")).alias(
            "n_redundant"
        ),
    )


# --------------------------------------------------------------------------
# benchmark_decontam_13gram — the STANDARD train/test contamination
# sweep (VERDICT r7 #6; GPT-3 appendix-C / Dolma-style): token
# 13-grams of every training document are probed against the distinct
# 13-gram set of a held-out benchmark suite; a single colliding gram
# flags the document. The held-out suite here is the deterministic
# doc_id % 97 == 0 slice (a stand-in for MMLU/GSM8K-style eval files —
# cross-source, so every source gets an audit row). Per-source output:
# flagged-document counts at the any-hit and >=5%-of-grams thresholds
# plus the pooled gram hit rate.
#
# Scale shape: gram rows are generated map-side (one explode), the
# benchmark gram set is tiny relative to the corpus (eval suites are
# MBs against TBs) and BROADCASTS; the only wide exchange is the final
# source-grain rollup, which is map-side combinable. At 100 TB this is
# one corpus scan + a broadcast probe — the exact production decontam
# shape. The 13-gram width is the published convention (long enough
# that natural collisions are ~0, short enough to catch partial
# inclusion).
# --------------------------------------------------------------------------
# 16-token chunk grain shared with chunk_dedup_profile (defined here so
# decontam_chunk_localization's oracle f-string can reference it)
CHUNK_DEDUP_TOKENS = 16

DECONTAM_N = 13
DECONTAM_BENCH_MOD = 97
DECONTAM_FLAG_SHARE = 0.05
# ADVICE r8 fence: the bench gram set is a 1/97 corpus slice, so it
# grows with the corpus — unconditional broadcast would eventually
# blow Spark's broadcast limit. Below this count we broadcast (the
# production shape: eval suites are MBs against TBs); above it the
# probe degrades to a plain shuffle join — identical semantics, one
# extra exchange. 5M grams x ~100 B/gram ~= 500 MB, comfortably under
# the 8 GB broadcast hard cap and typical executor headroom. Sizing
# the fence costs one extra count() scan of the 1/97 bench slice —
# ~1% of the work the 96/97 train scan already pays.
DECONTAM_BROADCAST_GRAM_LIMIT = 5_000_000

_DECONTAM_TOKENS = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_DECONTAM_GRAMS = (
    f"array_distinct(transform(sequence(1, greatest(size({_DECONTAM_TOKENS})"
    f" - {DECONTAM_N - 1}, 1)),"
    f" i -> concat_ws(' ', slice({_DECONTAM_TOKENS}, i, {DECONTAM_N}))))"
)


@CATALOG.query(
    "benchmark_decontam_13gram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(tokens[CAST(i AS BIGINT):CAST(i + {DECONTAM_N - 1} AS BIGINT)], ' ') AS g
        FROM (
            SELECT doc_id, source, tokens,
                   unnest(generate_series(1,
                          greatest(len(tokens) - {DECONTAM_N - 1}, 1))) AS i
            FROM toks
        )
    ), bench AS (
        SELECT DISTINCT g FROM grams WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ), train AS (
        SELECT * FROM grams WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
    ), per_doc AS (
        SELECT train.doc_id, train.source,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hits
        FROM train LEFT JOIN bench ON train.g = bench.g
        GROUP BY train.doc_id, train.source
    )
    SELECT source,
           count(*) AS n_train_docs,
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged_any,
           CAST(sum(CASE WHEN n_hits >= {DECONTAM_FLAG_SHARE} * n_grams
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged_5pct,
           CAST(sum(n_hits) / CAST(sum(n_grams) AS DOUBLE) AS REAL)
               AS micro_hit_rate
    FROM per_doc
    GROUP BY source
    """,
)
def benchmark_decontam_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id", "source", F.explode(F.expr(_DECONTAM_GRAMS)).alias("g")
    )
    bench = (
        grams.where(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("_hit", F.lit(1))
        # pin the distinct bench-gram set (lazy localCheckpoint): the
        # count fence below is its first action and materializes the
        # blocks, so the probe join re-reads them instead of re-running
        # the bench-slice tokenize+gram+distinct subtree a second time
        # (round-12; the stored set is bounded by the held-out slice's
        # distinct-gram mass — the same bound the broadcast fence
        # already relies on)
        .localCheckpoint(eager=False)
    )
    train = grams.where(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)
    n_bench = bench.count()
    probe = (
        F.broadcast(bench)
        if n_bench <= DECONTAM_BROADCAST_GRAM_LIMIT
        else bench
    )
    per_doc = (
        train.join(probe, "g", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_train_docs"),
        F.sum((F.col("n_hits") > 0).cast("long")).alias("n_flagged_any"),
        F.sum(
            (
                F.col("n_hits")
                >= F.lit(DECONTAM_FLAG_SHARE) * F.col("n_grams")
            ).cast("long")
        ).alias("n_flagged_5pct"),
        f32(F.sum("n_hits") / F.sum("n_grams").cast("double")).alias(
            "micro_hit_rate"
        ),
    )


# --------------------------------------------------------------------------
# decontam_chunk_localization — SPAN-LOCALIZED benchmark decontam
# (VERDICT r8 #3): benchmark_decontam_13gram flags whole documents;
# real decontam pipelines emit WHICH spans overlap the held-out set so
# the span (not the document) can be excised. This combines the
# 13-gram detector with chunk_dedup_profile's 16-token chunk grain:
# every 13-gram START POSITION in a train document maps to the chunk
# containing it (chunk_idx = (pos - 1) // 16), and the output is one
# row per CONTAMINATED (doc, chunk) with its bench-hitting gram count
# — exactly the chunk-level drop list a pipeline applies.
#
# Scale shape: gram rows are generated map-side with positions (one
# posexplode — same row volume as the doc-grain detector), both sides
# join on md5(gram) so raw text never shuffles (the hash-grain rule
# from round 8), the bench side rides the SAME count fence /
# broadcast-or-shuffle fallback as the doc-grain detector, and the
# output is proportional to contamination mass, not corpus size. The
# grain convention (greatest(len - 12, 1): short docs contribute one
# partial gram) matches the doc-grain detector so the two audits agree
# on what "contaminated" means. The held-out slice here is mod-7 (a
# LARGER eval suite than the doc-grain detector's 1/97): this fixture
# corpus has zero cross-split 13-gram mass at the 1/97 slice on the
# driver's correctness SF, and an always-empty localization output
# would pin nothing — the mod is the same knob either way.
# --------------------------------------------------------------------------
DECONTAM_LOC_MOD = 7
@CATALOG.query(
    "decontam_chunk_localization",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        FROM documents
    ), grams AS (
        SELECT doc_id, source,
               CAST(floor((i - 1) / {CHUNK_DEDUP_TOKENS}) AS BIGINT)
                   AS chunk_idx,
               md5(array_to_string(
                   tokens[CAST(i AS BIGINT):CAST(i + {DECONTAM_N - 1}
                                                 AS BIGINT)], ' ')) AS h
        FROM (
            SELECT doc_id, source, tokens,
                   unnest(generate_series(1,
                          greatest(len(tokens) - {DECONTAM_N - 1}, 1))) AS i
            FROM toks
        )
    ), bench AS (
        SELECT DISTINCT h FROM grams WHERE doc_id % {DECONTAM_LOC_MOD} = 0
    )
    SELECT g.doc_id, g.source, g.chunk_idx,
           count(*) AS n_hit_grams
    FROM grams g JOIN bench USING (h)
    WHERE g.doc_id % {DECONTAM_LOC_MOD} <> 0
    GROUP BY g.doc_id, g.source, g.chunk_idx
    """,
)
def decontam_chunk_localization(spark: SparkSession, sf_dir: str) -> DataFrame:
    grams = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size({_DECONTAM_TOKENS})"
                f" - {DECONTAM_N - 1}, 1)),"
                f" i -> md5(concat_ws(' ', slice({_DECONTAM_TOKENS}, i,"
                f" {DECONTAM_N}))))"
            )
        ).alias("pos", "h"),
    )
    bench = (
        grams.where(F.col("doc_id") % DECONTAM_LOC_MOD == 0)
        .select("h")
        .distinct()
        # pin the distinct bench-hash set so the count fence's pass is
        # reused by the probe join (see benchmark_decontam_13gram)
        .localCheckpoint(eager=False)
    )
    n_bench = bench.count()
    probe = (
        F.broadcast(bench)
        if n_bench <= DECONTAM_BROADCAST_GRAM_LIMIT
        else bench
    )
    return (
        grams.where(F.col("doc_id") % DECONTAM_LOC_MOD != 0)
        .withColumn(
            "chunk_idx",
            F.floor(F.col("pos") / CHUNK_DEDUP_TOKENS).cast("long"),
        )
        .join(probe, "h")
        .groupBy("doc_id", "source", "chunk_idx")
        .agg(F.count("*").alias("n_hit_grams"))
    )


# --------------------------------------------------------------------------
# doc_prefix_template_profile — template/mirror detection by document
# PREFIX: documents sharing their first 64 characters with any other
# document in the corpus are "templated" (form letters, scraped
# mirrors, boilerplate openings). Two aggregations: prefix -> cluster
# size (one shuffle on the 64-byte prefix — bounded key, no skew
# beyond true template mass), then a prefix-keyed join back and a
# source-grain rollup. The complement of exact dedup (which needs the
# WHOLE text equal) and of boilerplate shingles (which score interior
# fragments): this catches shared openings cheaply — at 100 TB the
# shuffle key is 64 bytes/doc, independent of document length.
# --------------------------------------------------------------------------
PREFIX_TEMPLATE_LEN = 64


@CATALOG.query(
    "doc_prefix_template_profile",
    oracle=f"""
    WITH pre AS (
        SELECT doc_id, source,
               substr(text, 1, {PREFIX_TEMPLATE_LEN}) AS prefix
        FROM documents
    ), clusters AS (
        SELECT prefix, count(*) AS cluster_size
        FROM pre GROUP BY prefix
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT pre.prefix) AS BIGINT) AS n_distinct_prefixes,
           CAST(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_templated_docs,
           CAST(sum(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS templated_share,
           CAST(max(cluster_size) AS BIGINT) AS max_cluster_size
    FROM pre JOIN clusters USING (prefix)
    GROUP BY source
    """,
)
def doc_prefix_template_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    pre = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.substring("text", 1, PREFIX_TEMPLATE_LEN).alias("prefix"),
    )
    clusters = pre.groupBy("prefix").agg(F.count("*").alias("cluster_size"))
    joined = pre.join(clusters, "prefix")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("prefix").alias("n_distinct_prefixes"),
        F.sum((F.col("cluster_size") > 1).cast("long")).alias(
            "n_templated_docs"
        ),
        f32(
            F.sum((F.col("cluster_size") > 1).cast("long"))
            / F.count("*").cast("double")
        ).alias("templated_share"),
        F.max("cluster_size").alias("max_cluster_size"),
    )


# --------------------------------------------------------------------------
# char_bigram_entropy_by_source — character-level 2-gram Shannon
# entropy per source: the classic cheap signal separating natural text
# from noise/encoded blobs (low entropy = repetitive/templated, high =
# random bytes). Bigrams explode map-side (stride 1), ONE
# (source, bigram) count aggregation with map-side combine, then the
# per-source entropy falls out of the closed form
# H = log2(N) - (1/N) * sum(c * log2 c) — no second corpus pass and no
# per-source distribution materialization beyond the bounded bigram
# vocabulary (|alphabet|^2 cells).
# --------------------------------------------------------------------------
@CATALOG.query(
    "char_bigram_entropy_by_source",
    oracle="""
    WITH bg AS (
        SELECT source, substr(text, CAST(i AS BIGINT), 2) AS b
        FROM (
            SELECT source, text,
                   unnest(generate_series(1, greatest(length(text) - 1, 1)))
                       AS i
            FROM documents
        )
    ), counts AS (
        SELECT source, b, count(*) AS c FROM bg GROUP BY source, b
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           CAST(log2(sum(c)) - sum(c * log2(c)) / sum(c) AS REAL)
               AS entropy_bits
    FROM counts
    GROUP BY source
    """,
)
def char_bigram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    bigram_arr = (
        "transform(sequence(1, greatest(length(text) - 1, 1)),"
        " i -> substring(text, i, 2))"
    )
    counts = (
        _docs(spark, sf_dir)
        .select("source", F.explode(F.expr(bigram_arr)).alias("b"))
        .groupBy("source", "b")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        f32(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c")
        ).alias("entropy_bits"),
    )


# --------------------------------------------------------------------------
# exact_dup_cluster_histogram — the size distribution of exact-dup
# clusters (how MUCH of the corpus is singletons vs 2-copies vs
# heavy template mass): the monitoring rollup over dedup_exact's
# groups. Two map-combinable aggregations — text -> cluster size,
# size -> (clusters, docs) — so the histogram costs one extra
# bounded-grain exchange over the dedup pass it audits.
# --------------------------------------------------------------------------
@CATALOG.query(
    "exact_dup_cluster_histogram",
    oracle="""
    WITH clusters AS (
        SELECT count(*) AS cluster_size FROM documents GROUP BY text
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM clusters
    GROUP BY cluster_size
    """,
)
def exact_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # group on sha2(text), not text — the module's hash-grain rule
    # (textops.py:61): the shuffle key is 64 hex chars per doc, never
    # the document body (round-8 review finding #3)
    clusters = (
        _docs(spark, sf_dir)
        .groupBy(F.sha2(F.col("text"), 256).alias("_h"))
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        clusters.groupBy(F.col("cluster_size").cast("long").alias("cluster_size"))
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


# --------------------------------------------------------------------------
# context_window_fit_profile — curriculum/packing planning input: per
# source, how many documents fit whole into each standard context
# budget (512/1k/2k/4k tokens). Token counts are one regexp pass
# (same [A-Za-z0-9]+ token class as the vocab queries); the budgets
# are conditional sums inside ONE source-grain aggregation — the
# entire query is a single corpus scan with map-side combine.
# --------------------------------------------------------------------------
@CATALOG.query(
    "context_window_fit_profile",
    oracle=f"""
    WITH t AS (
        SELECT source,
               len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(avg(n_tokens) AS REAL) AS avg_tokens,
           CAST(sum(CASE WHEN n_tokens <= 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fit_512,
           CAST(sum(CASE WHEN n_tokens <= 1024 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fit_1024,
           CAST(sum(CASE WHEN n_tokens <= 2048 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fit_2048,
           CAST(sum(CASE WHEN n_tokens <= 4096 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fit_4096
    FROM t
    GROUP BY source
    """,
)
def context_window_fit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _docs(spark, sf_dir).select(
        "source",
        F.size(F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")).alias(
            "n_tokens"
        ),
    )
    fits = [
        F.sum((F.col("n_tokens") <= b).cast("long")).alias(f"n_fit_{b}")
        for b in (512, 1024, 2048, 4096)
    ]
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        f32(F.avg("n_tokens")).alias("avg_tokens"),
        *fits,
    )


# --------------------------------------------------------------------------
# incremental_dedup_delta_audit — INCREMENTAL ingest dedup: a new
# batch (the deterministic doc_id % 10 >= 8 slice) is merged into an
# existing deduplicated base (the other 80%), and each delta document
# is classified as dup-vs-base (text already in the base), dup-within-
# delta (first-seen delta copy keeps; later doc_ids drop), or new
# unique. This is the production shape of dedup at 100 TB — you never
# re-dedup the corpus, you probe the delta against the base's hash
# index: the base side reduces to DISTINCT text (in production, the
# stored sha index), the probe is one hash join keyed on the text
# hash, and the within-delta ordering is a min-agg join, all
# map-combinable.
# --------------------------------------------------------------------------
DELTA_MOD = 10
DELTA_MIN = 8  # doc_id % 10 in {8, 9} -> the delta batch


@CATALOG.query(
    "incremental_dedup_delta_audit",
    oracle=f"""
    WITH base AS (
        SELECT DISTINCT text FROM documents
        WHERE doc_id % {DELTA_MOD} < {DELTA_MIN}
    ), delta AS (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id % {DELTA_MOD} >= {DELTA_MIN}
    ), first_in_delta AS (
        SELECT text, min(doc_id) AS keeper FROM delta GROUP BY text
    ), classified AS (
        SELECT d.source,
               CASE WHEN b.text IS NOT NULL THEN 'dup_vs_base'
                    WHEN d.doc_id > f.keeper THEN 'dup_within_delta'
                    ELSE 'new_unique' END AS status
        FROM delta d
        LEFT JOIN base b ON d.text = b.text
        JOIN first_in_delta f ON d.text = f.text
    )
    SELECT source,
           count(*) AS n_delta_docs,
           CAST(sum(CASE WHEN status = 'dup_vs_base' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_vs_base,
           CAST(sum(CASE WHEN status = 'dup_within_delta' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_within_delta,
           CAST(sum(CASE WHEN status = 'new_unique' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_unique
    FROM classified
    GROUP BY source
    """,
)
def incremental_dedup_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all three passes run at sha2(text) grain — the base DISTINCT, the
    # keeper rollup, and both probe joins ship 64 hex chars per doc,
    # never the document body (the module's hash-grain rule,
    # round-8 review finding #3)
    docs = _docs(spark, sf_dir).withColumn("_h", F.sha2(F.col("text"), 256))
    base = (
        docs.where(F.col("doc_id") % DELTA_MOD < DELTA_MIN)
        .select("_h")
        .distinct()
        .withColumn("_in_base", F.lit(1))
    )
    delta = docs.where(F.col("doc_id") % DELTA_MOD >= DELTA_MIN).select(
        "doc_id", "source", "_h"
    )
    first_in_delta = delta.groupBy("_h").agg(F.min("doc_id").alias("keeper"))
    classified = (
        delta.join(base, "_h", "left")
        .join(first_in_delta, "_h")
        .select(
            "source",
            F.when(F.col("_in_base").isNotNull(), "dup_vs_base")
            .when(F.col("doc_id") > F.col("keeper"), "dup_within_delta")
            .otherwise("new_unique")
            .alias("status"),
        )
    )
    return classified.groupBy("source").agg(
        F.count("*").alias("n_delta_docs"),
        F.sum((F.col("status") == "dup_vs_base").cast("long")).alias(
            "n_dup_vs_base"
        ),
        F.sum((F.col("status") == "dup_within_delta").cast("long")).alias(
            "n_dup_within_delta"
        ),
        F.sum((F.col("status") == "new_unique").cast("long")).alias(
            "n_new_unique"
        ),
    )


# --------------------------------------------------------------------------
# dedup_quality_bias_audit — does dedup BIAS the surviving corpus? Per
# source: mean document length (the fixture's quality proxy) of kept
# vs dropped docs under the dedup keeper (min doc_id per key), plus
# the drop share. The survivorship-bias check every production dedup
# pass should ship with — if dropped docs are systematically
# longer/shorter, the dedup policy is reshaping the data mix. One
# keyed keeper aggregation joined back doc-grain, then a source-grain
# conditional rollup — all map-combinable.
#
# Round-10 degenerate-evidence rework: the audited policy is now
# TEMPLATE-PREFIX dedup (keeper per normalized first-13-token prefix,
# the doc_prefix_template_profile grain) instead of exact-text dedup.
# The fixture plants NO exact whole-text dups below sf0.1, so
# dropped_mean_chars hash-matched an all-NULL column at the driver's
# sf0.01 (.benchmarks/degenerate_evidence.json) — the dropped branch
# was never exercised. Prefix-grain drops are live at every scale
# (23 dropped docs at sf0.01); exact-text dedup itself stays covered
# by the dedup_exact / exact_dup_cluster_histogram family.
# --------------------------------------------------------------------------
@CATALOG.query(
    "dedup_quality_bias_audit",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               array_to_string(
                   regexp_extract_all(lower(text), '[a-z0-9]+')[1:13],
                   ' ') AS pre
        FROM documents
    ), keeper AS (
        SELECT pre, min(doc_id) AS keep_id FROM keyed GROUP BY pre
    ), classified AS (
        SELECT d.source, d.n_chars,
               (d.doc_id = k.keep_id) AS kept
        FROM keyed d JOIN keeper k USING (pre)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(avg(CASE WHEN kept THEN n_chars END) AS REAL)
               AS kept_mean_chars,
           CAST(avg(CASE WHEN NOT kept THEN n_chars END) AS REAL)
               AS dropped_mean_chars
    FROM classified
    GROUP BY source
    """,
)
def dedup_quality_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keeper rollup + probe join at sha2(prefix) grain, not the raw
    # prefix string (the module's hash-grain rule, round-8 review
    # finding #3)
    docs = _docs(spark, sf_dir).withColumn(
        "_h",
        F.sha2(
            F.expr(
                "concat_ws(' ', slice("
                "regexp_extract_all(lower(text), '[a-z0-9]+', 0), 1, 13))"
            ),
            256,
        ),
    )
    keeper = docs.groupBy("_h").agg(F.min("doc_id").alias("keep_id"))
    classified = docs.join(keeper, "_h").select(
        "source",
        "n_chars",
        (F.col("doc_id") == F.col("keep_id")).alias("kept"),
    )
    return classified.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        f32(F.avg(F.when(F.col("kept"), F.col("n_chars")))).alias(
            "kept_mean_chars"
        ),
        f32(F.avg(F.when(~F.col("kept"), F.col("n_chars")))).alias(
            "dropped_mean_chars"
        ),
    )


# --------------------------------------------------------------------------
# vocab_pareto_coverage — tokenizer-design audit: what share of all
# token OCCURRENCES do the top-100 / top-1000 vocabulary entries
# cover? (The Zipf head-mass number that decides vocab size.) Token
# counts are one map-combinable aggregation; the head is a
# TakeOrdered(1000) — a bounded frame by construction, so the rank
# window over it is constant-size at any corpus scale (whitelisted);
# totals ride a broadcast scalar join.
# --------------------------------------------------------------------------
@CATALOG.query(
    "vocab_pareto_coverage",
    oracle="""
    WITH counts AS (
        SELECT t AS token, count(*) AS c
        FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
            FROM documents
        )
        GROUP BY t
    ), ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rn
        FROM counts
    )
    SELECT CAST((SELECT sum(c) FROM counts) AS BIGINT) AS n_total_tokens,
           CAST((SELECT count(*) FROM counts) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN rn <= 100 THEN c ELSE 0 END)
                / CAST((SELECT sum(c) FROM counts) AS DOUBLE) AS REAL)
               AS top100_share,
           CAST(sum(CASE WHEN rn <= 1000 THEN c ELSE 0 END)
                / CAST((SELECT sum(c) FROM counts) AS DOUBLE) AS REAL)
               AS top1000_share
    FROM ranked
    """,
)
def vocab_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # vocab-grain; reused 3x below
    )
    totals = counts.agg(
        F.sum("c").alias("n_total_tokens"),
        F.count("*").alias("vocab_size"),
    )
    head = counts.orderBy(F.col("c").desc(), F.col("token").asc()).limit(1000)
    w = W.orderBy(F.col("c").desc(), F.col("token").asc())
    head_ranked = head.withColumn("rn", F.row_number().over(w))
    shares = head_ranked.agg(
        F.sum(F.when(F.col("rn") <= 100, F.col("c")).otherwise(0)).alias(
            "top100"
        ),
        F.sum(F.when(F.col("rn") <= 1000, F.col("c")).otherwise(0)).alias(
            "top1000"
        ),
    )
    return shares.crossJoin(F.broadcast(totals)).select(
        "n_total_tokens",
        "vocab_size",
        f32(F.col("top100") / F.col("n_total_tokens").cast("double")).alias(
            "top100_share"
        ),
        f32(F.col("top1000") / F.col("n_total_tokens").cast("double")).alias(
            "top1000_share"
        ),
    )


# --------------------------------------------------------------------------
# chunk_dedup_profile — SUB-DOCUMENT dedup census at fixed token-chunk
# grain (the RefinedWeb/CCNet line-grain pattern adapted to unstructured
# text): each document is cut into non-overlapping 16-token chunks and
# a chunk is "duplicated" if its exact text occurs >= 2 times anywhere
# in the corpus (including within one document). Doc-level exact dedup
# misses this mass entirely (one changed token defeats it) and
# boilerplate_shingle_share measures overlapping 8-gram coverage;
# chunk grain is what a pipeline actually DROPS — per-source
# dedupable-token share is the actionable number.
#
# Scale shape: chunks are generated map-side from ONE stride-16
# sequence (no overlapping explosion — output rows = tokens/16), the
# frequency table groups on md5(chunk) so the text itself never
# shuffles (the dedup_sha256 argument), and the count join back is
# hash-grain. Two exchanges total, both map-combinable.
# --------------------------------------------------------------------------
_CHUNK_TOKENS_EXPR = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_CHUNKS_EXPR = (
    f"transform(sequence(1, size({_CHUNK_TOKENS_EXPR}),"
    f" {CHUNK_DEDUP_TOKENS}),"
    f" i -> concat_ws(' ', slice({_CHUNK_TOKENS_EXPR}, i,"
    f" {CHUNK_DEDUP_TOKENS})))"
)


@CATALOG.query(
    "chunk_dedup_profile",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        FROM documents
    ), chunks AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   tokens[CAST(i AS BIGINT):CAST(i + {CHUNK_DEDUP_TOKENS - 1}
                                                 AS BIGINT)], ' ')) AS h,
               least(CAST({CHUNK_DEDUP_TOKENS} AS BIGINT),
                     len(tokens) - i + 1) AS n_tok
        FROM (
            SELECT doc_id, source, tokens,
                   unnest(generate_series(1, len(tokens),
                          {CHUNK_DEDUP_TOKENS})) AS i
            FROM toks WHERE len(tokens) > 0
        )
    ), freq AS (
        SELECT h, count(*) AS f FROM chunks GROUP BY h
    )
    SELECT c.source,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN freq.f >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(c.n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN freq.f >= 2 THEN c.n_tok ELSE 0 END)
                / CAST(sum(c.n_tok) AS DOUBLE) AS REAL) AS dup_token_share
    FROM chunks c JOIN freq ON c.h = freq.h
    GROUP BY c.source
    """,
)
def chunk_dedup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = (
        _docs(spark, sf_dir)
        .where(F.expr(f"size({_CHUNK_TOKENS_EXPR})") > 0)
        .select(
            "source", F.explode(F.expr(_CHUNKS_EXPR)).alias("chunk")
        )
        .select(
            "source",
            F.md5(F.col("chunk")).alias("h"),
            F.size(F.split(F.col("chunk"), " ")).cast("long").alias("n_tok"),
        )
    )
    freq = chunks.groupBy("h").agg(F.count("*").alias("f"))
    dup = F.col("f") >= 2
    return (
        chunks.join(freq, "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(dup.cast("long")).alias("n_dup_chunks"),
            F.sum("n_tok").alias("n_tokens"),
            f32(
                F.sum(F.when(dup, F.col("n_tok")).otherwise(F.lit(0)))
                / F.sum("n_tok").cast("double")
            ).alias("dup_token_share"),
        )
    )


# --------------------------------------------------------------------------
# split_leakage_audit — DEDUP-AWARE train/test split integrity: the
# standard failure mode of hash-of-id splits is that exact duplicates
# of one text land in DIFFERENT splits (their doc_ids hash apart), so
# the eval set silently contains training text. The audit joins the
# md5(doc_id) split convention of train_test_split_profile with the
# sha256(text) exact-dup relation of dedup_sha256: per split, how many
# docs share their content hash with another split at all, and
# specifically with train — n_leaked_from_train over val/test is the
# number the eval metrics are inflated by.
#
# Scale shape: content-hash grain only — per-hash split membership is
# ONE groupBy over (hash -> 3 split flags) via max(), joined back at
# hash grain; the text never shuffles and no pair join exists (the
# cluster relation stays implicit in the flags). Same two-exchange
# shape as chunk_dedup_profile.
# --------------------------------------------------------------------------
@CATALOG.query(
    "split_leakage_audit",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, sha256(text) AS h,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                    THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'f'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), flags AS (
        SELECT h,
               max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
               max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
               max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
        FROM assigned GROUP BY h
    )
    SELECT a.split,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN f.in_train + f.in_val + f.in_test >= 2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split,
           CAST(sum(CASE WHEN a.split <> 'train' AND f.in_train = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked_from_train
    FROM assigned a JOIN flags f ON a.h = f.h
    GROUP BY a.split
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = (
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "d", "train")
        .when(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "f", "val")
        .otherwise("test")
    )
    assigned = _docs(spark, sf_dir).select(
        F.sha2(F.col("text"), 256).alias("h"), split.alias("split")
    )
    flags = assigned.groupBy("h").agg(
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") == "val").cast("int")).alias("in_val"),
        F.max((F.col("split") == "test").cast("int")).alias("in_test"),
    )
    return (
        assigned.join(flags, "h")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (
                    F.col("in_train") + F.col("in_val") + F.col("in_test")
                    >= 2
                ).cast("long")
            ).alias("n_cross_split"),
            F.sum(
                ((F.col("split") != "train") & (F.col("in_train") == 1)).cast(
                    "long"
                )
            ).alias("n_leaked_from_train"),
        )
    )


# --------------------------------------------------------------------------
# rare_token_position_profile — POSITIONAL skew of rare-token mass:
# where in a document do its low-document-frequency tokens sit?
# Front-loaded rare mass (titles, bylines, navigation residue) and
# tail-loaded rare mass (references, comment dumps) are different
# curation problems from uniformly-spread rare mass (genuinely
# information-dense text), and rare_token_density alone cannot tell
# them apart. Per source: occurrence counts, the rare-occurrence
# share, mean relative position ((pos - 0.5) / len — center-of-mass in
# (0, 1), defined even for one-token docs) of rare vs all tokens, and
# the front-half share of rare mass.
#
# Scale shape: ONE posexplode (position ride-along is free), docfreq
# is the (source, term)-grain aggregate, the rank is a
# source-partitioned window over vocabulary-grain rows (the
# zipf_rank_slope shape), the probe joins on (source, term) where both
# sides cluster, and the source rollup is map-combinable.
#
# Rare = the bottom DECILE of the source's df ranking (ties broken by
# term). Round-10 degenerate-evidence rework: the old absolute cutoff
# (df <= 2) never fires on the fixture — its smallest document
# frequency is 25 at EVERY scale — so mean_pos_rare/rare_front_share
# hash-matched all-NULL columns from round 9
# (.benchmarks/degenerate_evidence.json). A rank-decile cutoff is
# non-empty by construction at any corpus size, self-calibrating
# across dumps, and fully deterministic (integer ranks, no quantile
# interpolation to keep engine-consistent).
# --------------------------------------------------------------------------
RARE_DECILE = 0.1


@CATALOG.query(
    "rare_token_position_profile",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
        FROM documents
    ), occ AS (
        SELECT doc_id, source, tokens[CAST(i AS BIGINT)] AS term,
               (i - 0.5) / len(tokens) AS relpos
        FROM toks, unnest(generate_series(1, len(tokens))) AS t(i)
    ), docfreq AS (
        SELECT source, term, count(DISTINCT doc_id) AS df
        FROM occ GROUP BY source, term
    ), ranked AS (
        SELECT source, term,
               row_number() OVER (PARTITION BY source
                                  ORDER BY df, term) AS rk,
               count(*) OVER (PARTITION BY source) AS vocab
        FROM docfreq
    ), rare AS (
        SELECT source, term,
               rk <= CAST(ceil({RARE_DECILE} * vocab) AS BIGINT) AS is_rare
        FROM ranked
    )
    SELECT o.source,
           count(*) AS n_occurrences,
           CAST(sum(CASE WHEN r.is_rare THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rare,
           CAST(sum(CASE WHEN r.is_rare THEN 1 ELSE 0 END)
                / CAST(count(*) AS DOUBLE) AS REAL) AS rare_share,
           CAST(avg(o.relpos) AS REAL) AS mean_pos_all,
           CAST(avg(CASE WHEN r.is_rare THEN o.relpos END)
                AS REAL) AS mean_pos_rare,
           CAST(sum(CASE WHEN r.is_rare AND o.relpos < 0.5
                         THEN 1 ELSE 0 END)
                / CAST(nullif(sum(CASE WHEN r.is_rare
                                       THEN 1 ELSE 0 END), 0) AS DOUBLE)
                AS REAL) AS rare_front_share
    FROM occ o JOIN rare r ON o.source = r.source AND o.term = r.term
    GROUP BY o.source
    """,
)
def rare_token_position_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (doc, source, term) grain FIRST (round-9 review finding — the
    # same pair-grain rework as rare_token_density next door): the
    # occurrence stream collapses map-combinably to per-doc term
    # moments (count, Σrelpos, front count), docfreq is a count(*)
    # off that grain (ReusedExchange with the probe side — the corpus
    # is tokenized once), and the df join moves pair-grain rows, not
    # raw occurrences.
    dt = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
            ).alias("tokens"),
        )
        .select(
            "doc_id",
            "source",
            F.size("tokens").alias("n_tok"),
            F.posexplode("tokens").alias("pos", "term"),
        )
        .select(
            "doc_id",
            "source",
            "term",
            ((F.col("pos") + F.lit(0.5)) / F.col("n_tok")).alias("relpos"),
        )
        .groupBy("doc_id", "source", "term")
        .agg(
            F.count("*").alias("c"),
            F.sum("relpos").alias("s_pos"),
            F.sum((F.col("relpos") < 0.5).cast("long")).alias("c_front"),
        )
    )
    docfreq = dt.groupBy("source", "term").agg(F.count("*").alias("df"))
    ranked = docfreq.select(
        "source",
        "term",
        F.row_number()
        .over(W.partitionBy("source").orderBy("df", "term"))
        .alias("rk"),
        F.count("*").over(W.partitionBy("source")).alias("vocab"),
    )
    rare_terms = ranked.select(
        "source",
        "term",
        (
            F.col("rk") <= F.ceil(F.lit(RARE_DECILE) * F.col("vocab"))
        ).alias("is_rare"),
    )
    rare = F.col("is_rare")
    return (
        dt.join(rare_terms, ["source", "term"])
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.sum(F.when(rare, F.col("c")).otherwise(F.lit(0))).alias(
                "n_rare"
            ),
            f32(
                F.sum(F.when(rare, F.col("c")).otherwise(F.lit(0)))
                / F.sum("c").cast("double")
            ).alias("rare_share"),
            f32(F.sum("s_pos") / F.sum("c").cast("double")).alias(
                "mean_pos_all"
            ),
            f32(
                F.sum(F.when(rare, F.col("s_pos")))
                / F.sum(F.when(rare, F.col("c"))).cast("double")
            ).alias("mean_pos_rare"),
            f32(
                F.sum(F.when(rare, F.col("c_front")))
                / F.nullif(
                    F.sum(F.when(rare, F.col("c"))), F.lit(0)
                ).cast("double")
            ).alias("rare_front_share"),
        )
    )


# --------------------------------------------------------------------------
# zipf_rank_slope — the FITTED Zipf exponent per source: OLS of
# ln(freq) on ln(rank) over the top-ZIPF_RANKS tokens. The existing
# zipf_token_profile shows the frequency histogram; this emits the
# scalar a curation pipeline actually thresholds on (natural text
# fits slope ~ -1; templated/generated text flattens toward 0,
# key-value dumps steepen past -1.5) plus the fit r² as the
# "is it even a power law" guard.
#
# Scale shape: one token rollup (vocabulary grain, sublinear in the
# corpus), per-source rank via a source-partitioned window over the
# vocab rows, head-truncated to ZIPF_RANKS before the closed-form
# moment rollup (5 sums per source). No entity-grain window, no
# second corpus scan.
# --------------------------------------------------------------------------
ZIPF_RANKS = 500


@CATALOG.query(
    "zipf_rank_slope",
    oracle=f"""
    WITH tf AS (
        SELECT source, t.term, count(*) AS freq
        FROM (
            SELECT source,
                   unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS term
            FROM documents
        ) t
        GROUP BY source, t.term
    ), ranked AS (
        SELECT source, freq,
               row_number() OVER (PARTITION BY source
                                  ORDER BY freq DESC, term) AS rank
        FROM tf
    ), pts AS (
        SELECT source, ln(CAST(rank AS DOUBLE)) AS x,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM ranked WHERE rank <= {ZIPF_RANKS}
    )
    SELECT source,
           count(*) AS n_ranks,
           CAST(CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) > 0
                THEN (count(*) * sum(x * y) - sum(x) * sum(y))
                     / (count(*) * sum(x * x) - sum(x) * sum(x))
                END AS REAL) AS zipf_slope,
           CAST(CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) > 0
                      AND count(*) * sum(y * y) - sum(y) * sum(y) > 0
                THEN pow(count(*) * sum(x * y) - sum(x) * sum(y), 2)
                     / ((count(*) * sum(x * x) - sum(x) * sum(x))
                        * (count(*) * sum(y * y) - sum(y) * sum(y)))
                END AS REAL) AS r2
    FROM pts
    GROUP BY source
    """,
)
def zipf_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count("*").alias("freq"))
    )
    ranked = tf.select(
        "source",
        "freq",
        F.row_number()
        .over(
            W.partitionBy("source").orderBy(
                F.col("freq").desc(), F.col("term")
            )
        )
        .alias("rank"),
    ).where(F.col("rank") <= ZIPF_RANKS)
    pts = ranked.select(
        "source",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sx2, sy2 = (
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
    )
    cov, varx, vary = n * sxy - sx * sy, n * sx2 - sx * sx, n * sy2 - sy * sy
    # Degenerate-source guard (ADVICE r9): a single ranked token gives
    # varx = 0 and all-equal top frequencies give vary = 0 — an
    # unguarded division is 0/0 = NaN in Spark doubles while the
    # oracle's CASE yields NULL. Guard both sides to NULL, the same
    # treatment as type_lag_cross_correlation's xcorr.
    return pts.groupBy("source").agg(
        n.alias("n_ranks"),
        f32(F.when(varx > 0, cov / varx)).alias("zipf_slope"),
        f32(
            F.when((varx > 0) & (vary > 0), F.pow(cov, 2) / (varx * vary))
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# source_cross_perplexity — the cross-domain LM matrix: train an add-k
# bigram language model on each source, score every source's token
# stream under every model, emit cross-entropy + perplexity per
# (eval, lm) ordered pair (diagonal = in-domain baseline). The
# domain-affinity measure a data-mix planner uses when deciding which
# dumps substitute for which (low cross-perplexity = interchangeable);
# complements source_char_trigram_jsd (static distribution distance)
# with a MODEL-based, asymmetric one.
#
# Smoothing: P_s(w2|w1) = (c2_s + k) / (c1_s(w1) + k*V), k = 0.5,
# V = global unigram vocabulary. The unseen-mass bookkeeping is pure
# algebra — no outer join over the (eval, lm, bigram) cube:
#   sum ln P = N_t * ln(1/V)
#            + sum_{bigrams seen in s} c_t * ln((c2_s + k) / k)
#            - sum_{w1 seen in s} c_t(w1) * ln((c1_s + kV) / (kV))
# so only two INNER equi-joins at bigram-/unigram-TYPE grain carry the
# matrix, plus a broadcast |sources|^2 grid for pairs with no overlap.
#
# Scale shape: one corpus-sized bigram rollup per side (map-
# combinable, vocabulary-bounded output); everything downstream is
# type-grain. Output |sources|^2 rows.
# --------------------------------------------------------------------------
XPPL_K = 0.5


@CATALOG.query(
    "source_cross_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ), big AS (
        SELECT source,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks
    ), bt AS (
        SELECT source, bigram, count(*) AS c FROM big GROUP BY 1, 2
    ), ut AS (
        SELECT source, split_part(bigram, ' ', 1) AS w1, sum(c) AS c1
        FROM bt GROUP BY 1, 2
    ), nt AS (
        SELECT source, sum(c) AS n FROM bt GROUP BY source
    ), v AS (
        SELECT count(DISTINCT tok) AS v FROM (
            SELECT unnest(t) AS tok FROM toks
        )
    ), grid AS (
        SELECT a.source AS source_eval, b.source AS source_lm
        FROM nt a, nt b
    ), seen AS (
        SELECT t.source AS source_eval, s.source AS source_lm,
               sum(t.c * ln((s.c + {XPPL_K}) / {XPPL_K})) AS a_term
        FROM bt t JOIN bt s ON t.bigram = s.bigram
        GROUP BY 1, 2
    ), uni AS (
        SELECT tm.source AS source_eval, sm.source AS source_lm,
               sum(tm.c1 * ln((sm.c1 + {XPPL_K} * v.v)
                              / ({XPPL_K} * v.v))) AS b_term
        FROM ut tm JOIN ut sm ON tm.w1 = sm.w1
        CROSS JOIN v
        GROUP BY 1, 2
    )
    SELECT g.source_eval, g.source_lm,
           CAST(nt.n AS BIGINT) AS n_bigrams,
           CAST(-(nt.n * ln(1.0 / v.v) + coalesce(seen.a_term, 0)
                  - coalesce(uni.b_term, 0)) / nt.n AS REAL)
               AS cross_entropy,
           CAST(exp(-(nt.n * ln(1.0 / v.v) + coalesce(seen.a_term, 0)
                      - coalesce(uni.b_term, 0)) / nt.n) AS REAL)
               AS perplexity
    FROM grid g
    JOIN nt ON nt.source = g.source_eval
    CROSS JOIN v
    LEFT JOIN seen ON seen.source_eval = g.source_eval
                  AND seen.source_lm = g.source_lm
    LEFT JOIN uni ON uni.source_eval = g.source_eval
                 AND uni.source_lm = g.source_lm
    """,
)
def source_cross_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "source",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("t"),
    )
    big = toks.where(F.size("t") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(t[i-1], ' ', t[i]))"
            )
        ).alias("bigram"),
    )
    bt = (
        big.groupBy("source", "bigram")
        .agg(F.count("*").alias("c"))
        .withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .localCheckpoint(eager=False)  # five consumers of one rollup
    )
    ut = bt.groupBy("source", "w1").agg(F.sum("c").alias("c1"))
    nt = bt.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = F.broadcast(
        toks.select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    k = F.lit(XPPL_K)
    t_side = bt.select(
        F.col("source").alias("source_eval"), "bigram", "w1", "c"
    )
    s_side = bt.select(
        F.col("source").alias("source_lm"),
        "bigram",
        F.col("c").alias("cs"),
    )
    seen = (
        t_side.join(s_side, "bigram")
        .groupBy("source_eval", "source_lm")
        .agg(F.sum(F.col("c") * F.log((F.col("cs") + k) / k)).alias("a_term"))
    )
    # the eval-side w1 marginals ARE the unigram table (same rollup)
    tm = ut.select(
        F.col("source").alias("source_eval"), "w1", F.col("c1").alias("cm")
    )
    sm = ut.select(F.col("source").alias("source_lm"), "w1", "c1")
    uni = (
        tm.join(sm, "w1")
        .join(vocab)
        .groupBy("source_eval", "source_lm")
        .agg(
            F.sum(
                F.col("cm")
                * F.log((F.col("c1") + k * F.col("v")) / (k * F.col("v")))
            ).alias("b_term")
        )
    )
    srcs = nt.select("source")
    grid = F.broadcast(
        srcs.select(F.col("source").alias("source_eval")).join(
            srcs.select(F.col("source").alias("source_lm"))
        )
    )
    lnp = (
        F.col("n") * F.log(F.lit(1.0) / F.col("v"))
        + F.coalesce(F.col("a_term"), F.lit(0.0))
        - F.coalesce(F.col("b_term"), F.lit(0.0))
    )
    return (
        grid.join(
            nt.select(F.col("source").alias("source_eval"), "n"),
            "source_eval",
        )
        .join(vocab)
        .join(seen, ["source_eval", "source_lm"], "left")
        .join(uni, ["source_eval", "source_lm"], "left")
        .select(
            "source_eval",
            "source_lm",
            F.col("n").cast("long").alias("n_bigrams"),
            f32(-lnp / F.col("n")).alias("cross_entropy"),
            f32(F.exp(-lnp / F.col("n"))).alias("perplexity"),
        )
    )


# --------------------------------------------------------------------------
# bpe_learn_merges — byte-pair-encoding TOKENIZER INDUCTION (Sennrich
# et al. 2016, public algorithm): learn the first BPE_N_MERGES merge
# rules from the corpus. Classic BPE runs on the WORD-FREQUENCY
# dictionary, not the raw corpus: each word becomes a symbol sequence
# (chars + '</w>'), and each round (1) counts adjacent symbol pairs
# weighted by word frequency, (2) picks the most frequent pair (ties:
# lexicographically smallest — fully deterministic), (3) greedily
# merges that pair left-to-right inside every word. The catalog's
# tokenizer family (bpe_pretokenize_stats, token counting) covers
# APPLYING a tokenizer; this is the op that BUILDS one.
#
# Scale shape: the ONE corpus-sized stage is the word-frequency rollup
# (map-combinable); the merge loop runs at VOCABULARY grain —
# millions of rows at 100 TB, never corpus rows. Per round: one
# explode + pair rollup over the vocab frame, a 1-ROW driver collect
# (the argmax merge decision — the same bounded-driver-traffic
# contract as LPA's convergence probe), and the greedy merge applied
# as a pure Catalyst aggregate() fold (no Python, no UDF);
# localCheckpoint(eager=False) truncates per-round lineage. Pinned
# against an independent pure-python BPE in tests/test_round10_ops.py.
#
# Output: merge_rank, left, right, merged, pair_freq (BPE_N_MERGES
# rows, the learned merge table in order).
#
# Oracle promotion (round 11): the whole induction is integer counting
# + deterministic argmax (ties lexicographic — binary collation on
# both engines over the [a-z0-9</>] symbol alphabet) + a greedy
# left-fold, so DuckDB replays all BPE_N_MERGES rounds exactly: pair
# counts via the adjacent-pair explode, the argmax via ORDER BY
# (pf DESC, l, r) LIMIT 1, and the greedy merge via a per-position
# recursive CTE that carries each word's accumulator LIST forward one
# symbol at a time (string replace over a space-joined form would
# MISCOUNT runs — ' a a a a ' consumes the shared delimiter space and
# merges only alternate pairs, where the fold yields 'aa aa'). Every
# v{i} is AS MATERIALIZED (multi-referenced; see the PCA oracle note).
# --------------------------------------------------------------------------
BPE_N_MERGES = 10
_BPE_EOW = "</w>"

_BPE_ROUND_SQL = """
    , pc{i} AS MATERIALIZED (
        SELECT string_split(p, chr(9))[1] AS l,
               string_split(p, chr(9))[2] AS r,
               sum(freq) AS pf
        FROM (
            SELECT unnest(list_transform(range(1, len(syms)),
                          j -> syms[j] || chr(9) || syms[j+1])) AS p,
                   freq
            FROM v{prev} WHERE len(syms) >= 2)
        GROUP BY 1, 2
    ), best{i} AS MATERIALIZED (
        SELECT l, r, pf FROM pc{i} ORDER BY pf DESC, l, r LIMIT 1
    ), f{i}(rid, pos, acc) AS (
        SELECT v.rid, 1, [v.syms[1]] FROM v{prev} v
        UNION ALL
        -- LEFT JOIN, not CROSS (ADVICE r11): on a degenerate corpus
        -- whose vocabulary fully merges before BPE_N_MERGES rounds,
        -- best{i} is empty; a CROSS JOIN would then drop every
        -- multi-symbol word from v{i} (corrupted vocab), where the
        -- NULL-padded join makes the CASE fall through to the
        -- carry-unchanged branch and the round is a clean no-op
        -- (output rows for exhausted rounds simply stop).
        SELECT f.rid, f.pos + 1,
               CASE WHEN f.acc[-1] = b.l AND v.syms[f.pos + 1] = b.r
                    THEN f.acc[1:len(f.acc) - 1] || [b.l || b.r]
                    ELSE f.acc || [v.syms[f.pos + 1]] END
        FROM f{i} f JOIN v{prev} v USING (rid) LEFT JOIN best{i} b ON TRUE
        WHERE f.pos < len(v.syms)
    ), v{i} AS MATERIALIZED (
        SELECT f.rid, f.acc AS syms, v.freq
        FROM f{i} f JOIN v{prev} v USING (rid)
        WHERE f.pos = len(v.syms)
    )
"""

_BPE_ORACLE = (
    """
    WITH RECURSIVE words AS (
        SELECT word, count(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS word
            FROM documents)
        GROUP BY word
    ), v0 AS MATERIALIZED (
        SELECT word AS rid, string_split(word, '') || ['</w>'] AS syms,
               freq
        FROM words
    )
"""
    + "".join(
        _BPE_ROUND_SQL.format(i=i, prev=i - 1)
        for i in range(1, BPE_N_MERGES + 1)
    )
    + "\n    UNION ALL\n".join(
        f'SELECT {i} AS merge_rank, l AS "left", r AS "right",'
        f" l || r AS merged, CAST(pf AS BIGINT) AS pair_freq FROM best{i}"
        for i in range(1, BPE_N_MERGES + 1)
    )
)


def _bpe_merge_expr(left: str, right: str) -> str:
    """Catalyst fold applying one greedy left-to-right merge of the
    adjacent pair (left, right) to the ``syms`` array column."""
    merged = left + right
    q = lambda s: s.replace("'", "\\'")  # noqa: E731 — tokens are [a-z0-9</>]+
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{q(left)}' "
        f"AND x = '{q(right)}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{q(merged)}')) "
        "ELSE concat(acc, array(x)) END)"
    )


@CATALOG.query("bpe_learn_merges", oracle=_BPE_ORACLE)
def bpe_learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_N_MERGES
) -> DataFrame:
    words = (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    vocab = words.select(
        F.expr(f"concat(split(word, ''), array('{_BPE_EOW}'))").alias("syms"),
        "freq",
    ).localCheckpoint(eager=False)
    merges = []
    pair_expr = (
        "transform(sequence(1, size(syms) - 1),"
        " i -> struct(syms[i-1] AS l, syms[i] AS r))"
    )
    for rank in range(1, n_merges + 1):
        best = (
            vocab.where(F.size("syms") >= 2)
            .select(F.explode(F.expr(pair_expr)).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.col("pf").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        merges.append((rank, row["l"], row["r"], row["l"] + row["r"], row["pf"]))
        vocab = vocab.select(
            F.expr(_bpe_merge_expr(row["l"], row["r"])).alias("syms"), "freq"
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, pair_freq long"
    )


# --------------------------------------------------------------------------
# heaps_vocab_growth — Heaps'-law vocabulary growth curve + fitted
# exponent: V(n) ~ K * n^beta (Heaps '78; Baeza-Yates & Ribeiro-Neto —
# public theory), the tokenizer-planning primitive that projects
# vocabulary size to the 100 TB corpus from the curve measured on the
# prefix. Companion to zipf_rank_slope (frequency structure at a fixed
# corpus size; this is the GROWTH structure as the corpus scales) and
# the vocab_pareto_coverage head-mass view. Ingest order is doc_id; the
# curve is sampled at 10 equal-doc checkpoints, and beta/log2(K) come
# from an OLS fit of log2(vocab) on log2(grams) over those 10 points.
#
# Vocabulary unit: char 8-grams, NOT word unigrams — the fixture's
# word vocabulary is CLOSED (31 generator words, saturated inside the
# first decile: beta would be identically 0, the vacuous-evidence
# class), while the 8-gram space crosses word boundaries and keeps
# growing at every checkpoint at sf0.001-0.1 (verified strictly
# increasing; beta ~ 0.33 at sf0.01). On a real corpus the tokenizer
# expression swaps without touching the curve machinery.
#
# Scale shape: the ONLY corpus-sized pass is the gram explode — the
# exact global doc rank is gone (round-13): checkpoint membership is
# decided by NINE histogram-selected cut doc_ids compared as literals
# (quantiles.py machinery — map-combinable passes, scalar driver
# traffic), so no doc-frame shuffle, no window, and no rank join under
# the gram explode. A gram's entire contribution to the curve is its
# FIRST checkpoint (min over the gram rollup — cp is monotone in rank,
# so min cp == cp of min rank), one (gram, first_cp) rollup and a
# <=10x fan-out; the per-doc gram MASS is the closed form
# greatest(len-7, 1), no second explode. The checkpoint arithmetic
# (ceil(10*rk/n) as rank-cut comparisons) is bit-identical in both
# engines; the fit runs on the 10-row frame.
# --------------------------------------------------------------------------
@CATALOG.query(
    "heaps_vocab_growth",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, greatest(length(text) - 7, 1) AS n_gram,
               row_number() OVER (ORDER BY doc_id) AS rk
        FROM documents
    ), nn AS (SELECT count(*) AS n FROM documents),
    grams AS (
        SELECT doc_id, substr(text, CAST(i AS BIGINT), 8) AS gram
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 7, 1)))
                       AS i
            FROM documents
        )
    ), doc_curve AS (
        SELECT cp,
               count(*) AS n_docs_cum,
               sum(r.n_gram) AS n_grams_cum
        FROM ranked r, nn,
             unnest(generate_series(
                 CAST((10 * r.rk + nn.n - 1) // nn.n AS BIGINT), 10)) AS g(cp)
        GROUP BY cp
    ), firsts AS (
        SELECT t.gram, min(r.rk) AS ft
        FROM grams t JOIN ranked r USING (doc_id)
        GROUP BY t.gram
    ), vocab_curve AS (
        SELECT cp, count(*) AS vocab_cum
        FROM firsts f, nn,
             unnest(generate_series(
                 CAST((10 * f.ft + nn.n - 1) // nn.n AS BIGINT), 10)) AS g(cp)
        GROUP BY cp
    ), pts AS (
        SELECT d.cp, d.n_docs_cum, d.n_grams_cum, v.vocab_cum,
               log2(d.n_grams_cum) AS x, log2(v.vocab_cum) AS y
        FROM doc_curve d JOIN vocab_curve v USING (cp)
    ), fit AS (
        SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM pts
    )
    SELECT CAST(p.cp AS BIGINT) AS checkpoint,
           CAST(p.n_docs_cum AS BIGINT) AS n_docs_cum,
           CAST(p.n_grams_cum AS BIGINT) AS n_grams_cum,
           CAST(p.vocab_cum AS BIGINT) AS vocab_cum,
           CAST(CASE WHEN f.np * f.sxx - f.sx * f.sx > 0 THEN
                    (f.np * f.sxy - f.sx * f.sy)
                    / (f.np * f.sxx - f.sx * f.sx)
                END AS REAL) AS heaps_beta,
           CAST(CASE WHEN f.np * f.sxx - f.sx * f.sx > 0 THEN
                    (f.sy - (f.np * f.sxy - f.sx * f.sy)
                            / (f.np * f.sxx - f.sx * f.sx) * f.sx) / f.np
                END AS REAL) AS log2_k
    FROM pts p, fit f
    """,
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from orca_ztbus_python_processor_spark.functions.quantiles import (  # noqa: PLC0415
        exact_group_rank_values,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # Boundary-broadcast checkpoints (round-13, same shape as the NTILE
    # cuts in ranks.py): cp(rk) = ceil(10*rk/n) <= b iff
    # rk <= floor(b*n/10), and doc_ids are unique, so the checkpoint of
    # a doc is 1 + #{b in 1..9 : doc_id > value_at_rank(floor(b*n/10))}
    # — nine histogram-selected cut doc_ids turn the exact global rank
    # (range shuffle + window + a rank join under the gram explode)
    # into a literal comparison chain evaluated map-side everywhere.
    cuts_row = exact_group_rank_values(
        docs.select(F.lit(1).alias("_g"), F.col("doc_id").alias("_v")),
        "_g",
        "_v",
        lambda nn: {f"c{b}": (b * nn) // 10 for b in range(1, 10)},
    ).first()
    cp = F.lit(1)
    for b in range(1, 10):
        v = None if cuts_row is None else cuts_row[f"c{b}"]
        # a 0 cut rank (n < 10) means buckets <= b are empty: every doc
        # sits above the cut — same corner as the rank form
        cp = cp + (
            F.lit(1)
            if v is None
            else F.when(F.col("doc_id") > F.lit(int(v)), 1).otherwise(0)
        )
    cp = cp.cast("bigint")

    doc_curve = (
        docs.select(
            cp.alias("cpd"),
            F.greatest(F.length("text") - 7, F.lit(1)).alias("n_gram"),
        )
        .select(
            F.explode(
                F.sequence(F.col("cpd"), F.lit(10).cast("bigint"))
            ).alias("cp"),
            "n_gram",
        )
        .groupBy("cp")
        .agg(
            F.count("*").alias("n_docs_cum"),
            F.sum("n_gram").alias("n_grams_cum"),
        )
    )
    grams = docs.select(
        cp.alias("cpd"),
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 7, 1)),"
                " i -> substring(text, i, 8))"
            )
        ).alias("gram"),
    )
    # min over the group of cp == cp of the min rank (cp is monotone
    # nondecreasing in rk), so the first-occurrence checkpoint needs no
    # rank join at all
    firsts = grams.groupBy("gram").agg(F.min("cpd").alias("cpf"))
    vocab_curve = (
        firsts.select(
            F.explode(
                F.sequence(F.col("cpf"), F.lit(10).cast("bigint"))
            ).alias("cp")
        )
        .groupBy("cp")
        .agg(F.count("*").alias("vocab_cum"))
    )
    pts = (
        doc_curve.join(vocab_curve, "cp")
        .withColumn("x", F.log2(F.col("n_grams_cum").cast("double")))
        .withColumn("y", F.log2(F.col("vocab_cum").cast("double")))
        .localCheckpoint(eager=False)  # 10-row curve frame
    )
    fit = pts.agg(
        F.count("*").alias("np"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    beta = (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / varx
    return pts.crossJoin(F.broadcast(fit)).select(
        F.col("cp").cast("long").alias("checkpoint"),
        F.col("n_docs_cum").cast("long").alias("n_docs_cum"),
        F.col("n_grams_cum").cast("long").alias("n_grams_cum"),
        F.col("vocab_cum").cast("long").alias("vocab_cum"),
        f32(F.when(varx > 0, beta)).alias("heaps_beta"),
        f32(
            F.when(varx > 0, (F.col("sy") - beta * F.col("sx")) / F.col("np"))
        ).alias("log2_k"),
    )


# --------------------------------------------------------------------------
# token_pmi_collocations — collocation mining by pointwise mutual
# information (Church & Hanks '90 — public method): adjacent token
# pairs scored by PMI = log2(c12 * N / (cl * cr)) against the bigram
# table's own marginals, minimum support TOKEN_PMI_MIN_COUNT, top 20
# by association strength. The complement of ngram_topk_bigrams
# (frequency ranks "of the" first; PMI ranks the pairs that co-occur
# far above chance — template phrases, multiword entities), and the
# lexical sibling of type_dow_mutual_information's distribution-level
# MI. Every log2 argument is a ratio of integer-valued doubles
# computed with one multiply each side — both engines evaluate the
# same points.
#
# Scale shape: ONE (w1, w2) count aggregation over the adjacent-pair
# explode (map-side combinable); marginals and N are rollups of that
# bounded |vocab|^2 cell table, broadcast back; the top-20 rank runs
# on the filtered cell frame. No second corpus pass.
# --------------------------------------------------------------------------
TOKEN_PMI_MIN_COUNT = 5
TOKEN_PMI_TOP = 20


@CATALOG.query(
    "token_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        FROM documents
    ), bg AS (
        SELECT ws[i] AS w1, ws[i + 1] AS w2
        FROM toks, unnest(generate_series(1, greatest(len(ws) - 1, 1)))
             AS t(i)
        WHERE len(ws) > 1
    ), cells AS (
        SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ), ml AS (SELECT w1, sum(c12) AS cl FROM cells GROUP BY w1),
       mr AS (SELECT w2, sum(c12) AS cr FROM cells GROUP BY w2),
       nn AS (SELECT sum(c12) AS n FROM cells),
    scored AS (
        SELECT c.w1, c.w2, c.c12, ml.cl, mr.cr,
               log2(c.c12 * CAST(nn.n AS DOUBLE)
                    / (ml.cl * CAST(mr.cr AS DOUBLE))) AS pmi
        FROM cells c JOIN ml USING (w1) JOIN mr USING (w2), nn
        WHERE c.c12 >= {TOKEN_PMI_MIN_COUNT}
    )
    SELECT CAST(rank AS BIGINT) AS rank, w1, w2,
           CAST(c12 AS BIGINT) AS n_pair,
           CAST(cl AS BIGINT) AS n_left, CAST(cr AS BIGINT) AS n_right,
           CAST(pmi AS REAL) AS pmi
    FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
        FROM scored
    ) WHERE rank <= {TOKEN_PMI_TOP}
    """,
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("ws")
    )
    bg = toks.where(F.size("ws") > 1).select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(ws) - 1, 1)),"
                " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
            )
        ).alias("e")
    ).select("e.w1", "e.w2")
    cells = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)  # bounded |vocab|^2 cells
    )
    ml = cells.groupBy("w1").agg(F.sum("c12").alias("cl"))
    mr = cells.groupBy("w2").agg(F.sum("c12").alias("cr"))
    nn = cells.agg(F.sum("c12").alias("n"))
    scored = (
        cells.where(F.col("c12") >= TOKEN_PMI_MIN_COUNT)
        .join(F.broadcast(ml), "w1")
        .join(F.broadcast(mr), "w2")
        .crossJoin(F.broadcast(nn))
        .withColumn(
            "pmi",
            F.log2(
                F.col("c12")
                * F.col("n").cast("double")
                / (F.col("cl") * F.col("cr").cast("double"))
            ),
        )
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            W.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
        ),
    ).where(F.col("rank") <= TOKEN_PMI_TOP)
    return ranked.select(
        F.col("rank").cast("long").alias("rank"),
        "w1",
        "w2",
        F.col("c12").cast("long").alias("n_pair"),
        F.col("cl").cast("long").alias("n_left"),
        F.col("cr").cast("long").alias("n_right"),
        f32(F.col("pmi")).alias("pmi"),
    )


# --------------------------------------------------------------------------
# doc_unigram_kl_quality — per-document KL divergence of the document's
# unigram distribution from the CORPUS unigram distribution, rolled up
# per source: KL(doc‖corpus) = Σ_t (c_t/L)·ln((c_t/L)/(cf_t/T)). The
# distribution-level quality score the heuristic family
# (doc_quality's length/stopword ratios) lacks: template/boilerplate
# docs sit NEAR the corpus distribution (low KL), topical or garbled
# docs sit far — the standard "distributional outlier" filter axis in
# pretraining curation. Every doc term exists in the corpus by
# construction, so the divergence is always finite.
#
# Scale shape: tokenize ONCE into (doc, term, count) cells (the one
# corpus-sized shuffle, hash-grain); the corpus marginal is a
# map-combinable term rollup of the SAME cells, broadcast back (vocab-
# bounded); the per-doc sum is a doc-grain rollup and the source
# profile is a ≤|sources|-row reduce. ln is the same libm call both
# engines; per-doc sums differ only in summation order, absorbed at
# the f32 boundary after the source-grain average.
# --------------------------------------------------------------------------
@CATALOG.query(
    "doc_unigram_kl_quality",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS term
        FROM documents
    ), cells AS (
        SELECT doc_id, source, term, count(*) AS c
        FROM tok GROUP BY 1, 2, 3
    ), doclen AS (
        SELECT doc_id, sum(c) AS len FROM cells GROUP BY doc_id
    ), marg AS (
        SELECT term, sum(c) AS cf FROM cells GROUP BY term
    ), tot AS (
        SELECT sum(cf) AS t FROM marg
    ), perdoc AS (
        SELECT cells.doc_id, cells.source,
               sum((c / CAST(len AS DOUBLE))
                   * ln((c / CAST(len AS DOUBLE))
                        / (cf / CAST(t AS DOUBLE)))) AS kl
        FROM cells
        JOIN doclen ON doclen.doc_id = cells.doc_id
        JOIN marg ON marg.term = cells.term, tot
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(avg(kl) AS REAL) AS mean_kl,
           CAST(min(kl) AS REAL) AS min_kl,
           CAST(max(kl) AS REAL) AS max_kl
    FROM perdoc GROUP BY source
    """,
)
def doc_unigram_kl_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")
            ).alias("raw"),
        )
        .select("doc_id", "source", F.lower(F.col("raw")).alias("term"))
        .groupBy("doc_id", "source", "term")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # reused: marginal + per-doc sum
    )
    doclen = cells.groupBy("doc_id").agg(F.sum("c").alias("len"))
    marg = cells.groupBy("term").agg(F.sum("c").alias("cf"))
    tot = marg.agg(F.sum("cf").alias("t"))
    p_doc = F.col("c") / F.col("len").cast("double")
    p_corpus = F.col("cf") / F.col("t").cast("double")
    perdoc = (
        cells.join(doclen, "doc_id")
        .join(F.broadcast(marg), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(F.sum(p_doc * F.log(p_doc / p_corpus)).alias("kl"))
    )
    return perdoc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        f32(F.avg("kl")).alias("mean_kl"),
        f32(F.min("kl")).alias("min_kl"),
        f32(F.max("kl")).alias("max_kl"),
    )


# --------------------------------------------------------------------------
# lang_separability_auc — one-vs-rest ROC AUC per language for a
# single scalar text feature (type-token ratio, floor-quantized to
# 1/1000 bins): how well does TTR alone separate each language from
# the rest of the corpus? AUC computed exactly via the Mann-Whitney
# rank-sum identity AUC = (R⁺ - n⁺(n⁺+1)/2) / (n⁺·n⁻) with midranks
# for ties — the threshold-free discrimination readout a curation
# pipeline runs before trusting any single-feature filter (the
# companion to return_model_calibration_bins: that audits calibration,
# this audits discrimination).
#
# Scale shape: the per-doc TTR needs one (doc, term) dedup — hash-
# grain, the one corpus-sized shuffle; quantizing to ≤1001 score bins
# makes the rank table a BOUNDED cumulative window (spearman policy)
# and the per-language rank-sums a |langs|-row rollup. Midranks are
# half-integers, rank-sums exact in doubles; only the final AUC
# division is float. floor() quantization (not round) so both engines
# bin identically at representation boundaries.
# --------------------------------------------------------------------------
@CATALOG.query(
    "lang_separability_auc",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS term
        FROM documents
    ), ttr AS (
        SELECT doc_id, lang,
               CAST(floor(1000.0 * count(DISTINCT term) / count(*))
                    AS BIGINT) AS score
        FROM tok GROUP BY 1, 2
    ), perscore AS (
        SELECT score, count(*) AS cs FROM ttr GROUP BY score
    ), ranks AS (
        SELECT score,
               coalesce(sum(cs) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) + (cs + 1) / 2.0 AS r
        FROM perscore
    ), cells AS (
        SELECT lang, score, count(*) AS c FROM ttr GROUP BY 1, 2
    ), tot AS (
        SELECT sum(c) AS n FROM cells
    ), bylang AS (
        SELECT lang, sum(c) AS n_pos, sum(c * r) AS rpos
        FROM cells JOIN ranks USING (score)
        GROUP BY lang
    )
    SELECT lang,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n - n_pos AS BIGINT) AS n_neg,
           CAST((rpos - n_pos * (n_pos + 1) / 2.0)
                / (n_pos * (n - n_pos)) AS REAL) AS auc
    FROM bylang, tot
    """,
)
def lang_separability_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(f"regexp_extract_all(text, '{TOKEN_RE}', 0)")
            ).alias("raw"),
        )
        .select("doc_id", "lang", F.lower(F.col("raw")).alias("term"))
    )
    ttr = (
        tok.groupBy("doc_id", "lang")
        .agg(
            F.floor(
                1000.0 * F.count_distinct(F.col("term")) / F.count("*")
            )
            .cast("long")
            .alias("score")
        )
        .localCheckpoint(eager=False)  # reused: rank table + lang cells
    )
    perscore = ttr.groupBy("score").agg(F.count("*").alias("cs"))
    wr = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    # ≤1001-row quantized-score frame: bounded by the value domain.
    ranks = perscore.select(
        "score",
        (
            F.coalesce(F.sum("cs").over(wr), F.lit(0))
            + (F.col("cs") + 1) / 2.0
        ).alias("r"),
    )
    cells = ttr.groupBy("lang", "score").agg(F.count("*").alias("c"))
    tot = cells.agg(F.sum("c").alias("n"))
    bylang = (
        cells.join(F.broadcast(ranks), "score")
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_pos"),
            F.sum(F.col("c") * F.col("r")).alias("rpos"),
        )
    )
    return bylang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("n") - F.col("n_pos")).cast("long").alias("n_neg"),
        f32(
            (F.col("rpos") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * (F.col("n") - F.col("n_pos")))
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# feature_hash_collision_profile — the hashing trick audited: hash
# every distinct token BIGRAM (the hashed-vectorizer feature unit that
# actually collides at realistic dimensions) into 256 buckets
# (md5-derived so both engines replay the same assignment) and emit
# the bucket-load histogram (how many buckets hold k distinct grams)
# plus, per load level, the share of corpus gram OCCURRENCES whose
# feature collides with at least one other gram. The feature-hashing
# design query every hashed-vectorizer pipeline runs before fixing its
# dimension: the occurrence-weighted collision mass tells you what a
# 256-dim hashed bag-of-bigrams actually destroys. (Unigrams are
# useless for this audit on a closed ~31-word vocabulary — every
# bucket would hold at most one token; the ~|V|^2 bigram space is what
# exercises the collision branch, here and at 100 TB.)
#
# Replay contract: bucket = md5(gram) first-15-hex-digits mod 256 —
# exact integer arithmetic, the repo's standard md5-replay idiom. All
# outputs are exact integer counts except the f32 occurrence-share
# boundary.
#
# Scale shape: one row-local bigram explode (the dedup shingle
# pattern), one gram-grain rollup (occurrence counts), one
# bucket-grain rollup (loads), one load-grain rollup (histogram) —
# each map-combinable, each strictly smaller than the last; the corpus
# text is scanned ONCE. At 100 TB the bucket table is 256 rows
# regardless of vocabulary size.
# --------------------------------------------------------------------------
FEATURE_HASH_BUCKETS = 256


@CATALOG.query(
    "feature_hash_collision_profile",
    oracle=f"""
    WITH arr AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
        FROM documents
    ), idx AS (
        SELECT ts, unnest(range(1, greatest(len(ts), 1))) AS i FROM arr
    ), gram AS (
        SELECT ts[i] || ' ' || ts[i + 1] AS gram FROM idx
    ), vocab AS (
        SELECT gram, count(*) AS n_occ FROM gram GROUP BY 1
    ), hashed AS (
        SELECT gram, n_occ,
               CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)
                   % {FEATURE_HASH_BUCKETS} AS bucket
        FROM vocab
    ), buckets AS (
        SELECT bucket, count(*) AS load, sum(n_occ) AS occ_in_bucket
        FROM hashed GROUP BY 1
    )
    SELECT load AS grams_in_bucket,
           count(*) AS n_buckets,
           CAST(sum(occ_in_bucket) AS BIGINT) AS n_occurrences,
           CAST(CAST(CASE WHEN load > 1 THEN sum(occ_in_bucket)
                          ELSE 0 END AS DOUBLE)
                / (SELECT sum(n_occ) FROM vocab) AS REAL)
               AS collided_occurrence_share
    FROM buckets GROUP BY 1
    """,
)
def feature_hash_collision_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    grams = (
        _docs(spark, sf_dir)
        .select(
            F.expr(
                "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
            ).alias("ts")
        )
        .select(
            F.explode(
                F.expr(
                    "case when size(ts) >= 2 then"
                    " transform(sequence(1, size(ts) - 1),"
                    " i -> concat_ws(' ', ts[i - 1], ts[i]))"
                    " else array() end"
                )
            ).alias("gram")
        )
    )
    vocab = grams.groupBy("gram").agg(F.count("*").alias("n_occ"))
    bucket = F.expr(
        f"cast(conv(substr(md5(gram), 1, 15), 16, 10) as bigint)"
        f" % {FEATURE_HASH_BUCKETS}"
    )
    buckets = (
        vocab.select(bucket.alias("bucket"), "n_occ")
        .groupBy("bucket")
        .agg(F.count("*").alias("load"), F.sum("n_occ").alias("occ_in_bucket"))
    )
    total_occ = vocab.agg(F.sum("n_occ").alias("total_occ"))
    return (
        buckets.crossJoin(F.broadcast(total_occ))
        .groupBy(F.col("load").alias("grams_in_bucket"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum("occ_in_bucket").cast("long").alias("n_occurrences"),
            f32(
                F.sum(
                    F.when(F.col("load") > 1, F.col("occ_in_bucket")).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.first("total_occ")
            ).alias("collided_occurrence_share"),
        )
    )
