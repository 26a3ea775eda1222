"""Text-analysis operators over ``documents`` — the LLM-data-pipeline
surface (BASELINE.json north star; generalizes the reference's WIP
amenities text-cleanup, SURVEY.md §2.8 F8).

All tokenization/scoring is native column expressions (split, regexp,
aggregate) — zero Python in the hot path, so whole-stage codegen owns
the per-document work and the only shuffles are the final small aggs.

Parity conventions with the DuckDB oracles:
* token = ``split(trim(text), '\\s+')`` on both sides;
* occurrence counting via split-length (identical semantics);
* md5 for fingerprints (same digest on both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from backend_model_spark.operators.scale_utils import (
    broadcast_scalars,
    with_global_rank,
)
from backend_model_spark.sources.tables import load_table, spread

TOKENS = "split(trim(text), '\\\\s+')"

# Marker words for the rule-based language detector. The probe order
# (en, es, de, fr, zh) is the deterministic tie-break.
LANG_MARKERS = {
    "en": " the ",
    "es": " el ",
    "de": " der ",
    "fr": " le ",
    "zh": "的",
}


def _round6(col):
    """Bit-reproducible 6-decimal rounding: floor(x*1e6 + 0.5)/1e6.

    ``F.round`` (BigDecimal HALF_UP over the exact binary expansion)
    and DuckDB's round can disagree when a composite double lands
    exactly on a .5 boundary at the target scale; this formulation is
    pure IEEE ops, so both engines produce the same bits.
    """
    return F.floor(col * 1_000_000.0 + 0.5) / 1_000_000.0


def _occurrences(col, needle: str):
    """Count non-overlapping occurrences of needle (split-length - 1).

    ``needle`` must be regex-metachar-free: Spark splits by regex,
    DuckDB ``string_split`` by literal — identical only for plain text.
    """
    return F.size(F.split(col, needle, -1)) - 1


def token_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (F8): per-language corpus stats."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(TOKENS)
    return (
        docs.withColumn("n_tokens", F.size(toks))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.min("n_tokens").alias("min_tokens"),
        )
        .orderBy("lang")
    )


TOKEN_STATS_ORACLE = r"""
SELECT
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
  ROUND(AVG(len(string_split_regex(trim(text), '\s+'))), 6) AS avg_tokens,
  CAST(MAX(len(string_split_regex(trim(text), '\s+'))) AS INTEGER) AS max_tokens,
  CAST(MIN(len(string_split_regex(trim(text), '\s+'))) AS INTEGER) AS min_tokens
FROM documents
GROUP BY lang
ORDER BY lang
"""


def quality_frame(docs: DataFrame) -> DataFrame:
    """Per-document quality features over a ``documents``-shaped frame
    — shared by :func:`quality_scores` and the importance-resampling
    op in ``sampling.py`` (same score, computed inline in each
    query's own single scan rather than via a doc-level self-join)."""
    docs = docs.withColumn("toks", F.expr(TOKENS))
    toks = F.col("toks")
    n_tokens = F.size(toks).cast("double")
    # mean token length = (chars - separators) / tokens
    mean_tok_len = (F.length(F.trim(F.col("text"))) - (F.size(toks) - 1)) / n_tokens
    stopwords = _occurrences(
        F.concat(F.lit(" "), F.col("text"), F.lit(" ")), " the "
    ) + _occurrences(F.concat(F.lit(" "), F.col("text"), F.lit(" ")), " a ")
    stop_ratio = stopwords.cast("double") / n_tokens
    score = _round6(
        F.least(n_tokens / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(stop_ratio * 2.0, F.lit(1.0))) * 0.3
        + F.least(mean_tok_len / 8.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        _round6(mean_tok_len).alias("mean_token_len"),
        _round6(stop_ratio).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring: token count, mean token
    length, stopword ratio, and a composite score — the standard
    pre-training quality gate features (length/stopword heuristics)."""
    # spread: single-file source, per-doc scoring wants all cores
    docs = spread(load_table(spark, "documents", sf_dir))
    return (
        quality_frame(docs)
        .select(
            "doc_id",
            "n_tokens",
            "mean_token_len",
            "stopword_ratio",
            "quality_score",
        )
        .orderBy("doc_id")
    )


QUALITY_ORACLE = r"""
WITH feats AS (
  SELECT
    doc_id,
    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens,
    (length(trim(text)) - (len(string_split_regex(trim(text), '\s+')) - 1))
      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS mean_tok_len,
    CAST(
        (len(string_split(' ' || text || ' ', ' the ')) - 1)
      + (len(string_split(' ' || text || ' ', ' a ')) - 1)
    AS DOUBLE)
      / len(string_split_regex(trim(text), '\s+')) AS stop_ratio
  FROM documents
)
SELECT
  doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  floor(mean_tok_len * 1000000.0 + 0.5) / 1000000.0 AS mean_token_len,
  floor(stop_ratio * 1000000.0 + 0.5) / 1000000.0 AS stopword_ratio,
  floor((
      LEAST(n_tokens / 100.0, 1.0) * 0.5
    + (1.0 - LEAST(stop_ratio * 2.0, 1.0)) * 0.3
    + LEAST(mean_tok_len / 8.0, 1.0) * 0.2
  ) * 1000000.0 + 0.5) / 1000000.0 AS quality_score
FROM feats
ORDER BY doc_id
"""


# Gopher-style repetition gates (Rae et al. 2021 §A1.1, public):
# docs dominated by one word or by repeated n-grams are boilerplate.
REP_TOP_WORD_MAX = 0.30
REP_DUP_2GRAM_MAX = 0.20
REP_DUP_3GRAM_MAX = 0.18


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
    top-word share (fraction of tokens that are the single most
    frequent token) and duplicate 2-/3-gram fractions, plus the
    composite keep/drop flag at the published Gopher thresholds —
    the boilerplate gate that runs beside :func:`quality_scores` in a
    pre-training corpus pipeline.

    Scale: ZERO shuffle — every signal is a higher-order array
    expression over the per-row token array (single scan, fully
    parallel). The top-word count uses the O(distinct·n) per-row
    fold (``transform(array_distinct(t), x -> count of x)``) instead
    of explode + groupBy(doc, term): corpus docs are bounded (chunked
    upstream by ``pipeline_corpus_prep``), so per-row quadratic in
    doc length beats a corpus-wide shuffle; for pathological
    million-token docs, flip to the tf-shuffle formulation.
    """
    docs = spread(load_table(spark, "documents", sf_dir)).withColumn(
        "t", F.expr(TOKENS)
    )
    n = F.size("t")
    top_cnt = F.expr(
        "array_max(transform(array_distinct(t), x -> size(filter(t, y -> y = x))))"
    )
    # sequence(1, n-1) DESCENDS when n < 2 in Spark — guard explicitly
    grams = lambda k: F.expr(  # noqa: E731
        f"case when size(t) >= {k} then "
        f"transform(sequence(1, size(t) - {k - 1}), i -> "
        f"concat_ws(' ', slice(t, i, {k}))) "
        f"else array() end"
    )
    dup_frac = lambda g: F.when(  # noqa: E731
        F.size(g) > 0,
        1.0 - F.size(F.array_distinct(g)) / F.size(g).cast("double"),
    ).otherwise(F.lit(0.0))
    top_share = F.when(
        n > 0, top_cnt / n.cast("double")
    ).otherwise(F.lit(0.0))
    g2, g3 = grams(2), grams(3)
    out = docs.select(
        "doc_id",
        n.alias("n_tokens"),
        _round6(top_share).alias("top_word_share"),
        _round6(dup_frac(g2)).alias("dup_2gram_frac"),
        _round6(dup_frac(g3)).alias("dup_3gram_frac"),
    )
    keep = (
        (F.col("top_word_share") <= REP_TOP_WORD_MAX)
        & (F.col("dup_2gram_frac") <= REP_DUP_2GRAM_MAX)
        & (F.col("dup_3gram_frac") <= REP_DUP_3GRAM_MAX)
    )
    return out.withColumn("keep", keep).orderBy("doc_id")


REPETITION_SIGNALS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents
),
g AS (
  SELECT
    doc_id,
    len(t) AS n_tokens,
    CASE WHEN len(t) > 0 THEN
      list_max(list_transform(list_distinct(t),
               x -> len(list_filter(t, y -> y = x)))) / CAST(len(t) AS DOUBLE)
    ELSE 0.0 END AS top_word_share,
    CASE WHEN len(t) >= 2 THEN
      list_transform(generate_series(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i + 1])
    ELSE [] END AS g2,
    CASE WHEN len(t) >= 3 THEN
      list_transform(generate_series(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])
    ELSE [] END AS g3
  FROM t
),
f AS (
  SELECT
    doc_id,
    CAST(n_tokens AS INTEGER) AS n_tokens,
    FLOOR(top_word_share * 1000000 + 0.5) / 1000000 AS top_word_share,
    FLOOR((CASE WHEN len(g2) > 0
           THEN 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
           ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_2gram_frac,
    FLOOR((CASE WHEN len(g3) > 0
           THEN 1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
           ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_3gram_frac
  FROM g
)
SELECT
  doc_id, n_tokens, top_word_share, dup_2gram_frac, dup_3gram_frac,
  (top_word_share <= {REP_TOP_WORD_MAX}
   AND dup_2gram_frac <= {REP_DUP_2GRAM_MAX}
   AND dup_3gram_frac <= {REP_DUP_3GRAM_MAX}) AS keep
FROM f
ORDER BY doc_id
"""


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based language ID (marker-word voting, deterministic
    priority tie-break), confusion counts vs the labeled ``lang``."""
    docs = load_table(spark, "documents", sf_dir)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    counts = {lang: _occurrences(padded, marker) for lang, marker in LANG_MARKERS.items()}
    order = list(LANG_MARKERS)
    pred = F.lit("unknown")
    # build the CASE chain back-to-front so earlier langs win ties
    for lang in reversed(order):
        cond = counts[lang] > 0
        for other in order:
            if other == lang:
                break
            cond = cond & (counts[lang] > counts[other])
        for other in order[order.index(lang) + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        pred = F.when(cond, lang).otherwise(pred)
    return (
        docs.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def _lang_id_case_sql() -> str:
    order = list(LANG_MARKERS)

    def cnt(lang: str) -> str:
        m = LANG_MARKERS[lang].replace("'", "''")
        return f"(len(string_split(' ' || text || ' ', '{m}')) - 1)"

    whens = []
    for lang in order:
        conds = [f"{cnt(lang)} > 0"]
        for other in order[: order.index(lang)]:
            conds.append(f"{cnt(lang)} > {cnt(other)}")
        for other in order[order.index(lang) + 1 :]:
            conds.append(f"{cnt(lang)} >= {cnt(other)}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'unknown' END"


LANG_ID_ORACLE = f"""
SELECT lang, {_lang_id_case_sql()} AS pred_lang, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, pred_lang
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over whitespace-normalized text
    (the exact-dedup key; md5 digests agree across engines)."""
    docs = load_table(spark, "documents", sf_dir)
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select("doc_id", F.md5(normalized.cast("binary")).alias("fingerprint"))
        .orderBy("doc_id")
    )


FINGERPRINT_ORACLE = r"""
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
ORDER BY doc_id
"""


def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens, global counts, top 25.

    Scale: explode → partial count per partition → tiny shuffle; no
    driver-side collection. At 100 TB this is the canonical word-count
    shape.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    return (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(25)
    )


TOP_TOKENS_ORACLE = r"""
SELECT token, COUNT(*) AS n_occurrences
FROM (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 25
"""


def char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level stats incl. the stored n_chars contract column:
    verifies length() agreement and aggregates per source."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.sum((F.length("text") == F.col("n_chars")).cast("long")).alias(
                "n_chars_consistent"
            ),
        )
        .orderBy("source")
    )


CHAR_STATS_ORACLE = """
SELECT
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
  CAST(SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
    AS n_chars_consistent
FROM documents
GROUP BY source
ORDER BY source
"""


# BPE-ish tokenization: letter runs, single digits, punctuation runs —
# the shape of GPT-2's pre-tokenizer, in a regex both engines support
# identically (explicit ASCII classes; no \w, whose unicode semantics
# differ between Java regex and RE2).
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for LLM-data budgeting: whitespace tokens vs a
    BPE-ish regex token estimate, aggregated per source. All JVM-side
    (regexp_extract_all inside codegen) — no Python in the loop."""
    docs = load_table(spark, "documents", sf_dir)
    ws_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    # Spark SQL string literals are backslash-escaped (DuckDB's are
    # not), so the pattern's \s must be doubled inside expr()
    bpe_tokens = F.size(
        F.expr(f"regexp_extract_all(text, '{BPE_PATTERN.replace(chr(92), chr(92) * 2)}', 0)")
    )
    per_doc = docs.select("source", ws_tokens.alias("ws"), bpe_tokens.alias("bpe"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            _round6(F.avg("bpe")).alias("avg_bpe_per_doc"),
        )
        .orderBy("source")
    )


BPE_TOKEN_ORACLE = rf"""
SELECT
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS ws_tokens,
  CAST(SUM(len(regexp_extract_all(text, '{BPE_PATTERN}'))) AS BIGINT) AS bpe_tokens,
  ROUND(AVG(len(regexp_extract_all(text, '{BPE_PATTERN}'))), 6) AS avg_bpe_per_doc
FROM documents
GROUP BY source
ORDER BY source
"""


# word-4-gram shingles for decontamination (wider than the dedup
# 3-grams: eval-set overlap wants higher precision; the guard again
# avoids Spark's descending sequence(1, 0) on short docs)
SHINGLES4 = (
    "CASE WHEN size(toks) < 4 THEN cast(array() as array<string>) "
    "ELSE transform(sequence(1, size(toks) - 3),"
    " i -> concat_ws(' ', slice(toks, i, 4))) END"
)
SHINGLES4_SQL = r"""
list_transform(
  generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 3, 0)),
  i -> string_split_regex(trim(text), '\s+')[i] || ' '
    || string_split_regex(trim(text), '\s+')[i+1] || ' '
    || string_split_regex(trim(text), '\s+')[i+2] || ' '
    || string_split_regex(trim(text), '\s+')[i+3]
)
"""
HOLDOUT_SOURCE = "src19"


def decontaminate_against_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word-4-gram
    with the held-out set (``source = src19`` stands in for an eval
    benchmark), with hit counts and how many eval docs each touches.

    Scale shape: the eval set is tiny relative to the corpus — its
    distinct shingles BROADCAST, so the corpus-side shingle explode
    streams map-side against the in-memory hash set and the only
    shuffle is the final per-doc aggregate. This is the standard
    contamination sweep an LLM training pipeline runs before every
    training set freeze.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    with_toks = docs.withColumn("toks", F.expr(TOKENS))
    # DISTINCT is per-doc set semantics and doc_id is unique per row,
    # so array_distinct INSIDE the row replaces the global .distinct()
    # exchange on both arms with zero shuffle (guide §2.1; round 11 —
    # same equivalence as dedup._rep_shingled).
    train_sh = with_toks.filter(F.col("source") != HOLDOUT_SOURCE).select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(SHINGLES4))).alias("shingle"),
    )
    eval_sh = with_toks.filter(F.col("source") == HOLDOUT_SOURCE).select(
        F.col("doc_id").alias("eval_doc_id"),
        F.explode(F.array_distinct(F.expr(SHINGLES4))).alias("shingle"),
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_ORACLE = f"""
WITH train_sh AS (
  SELECT DISTINCT doc_id, unnest({SHINGLES4_SQL}) AS shingle
  FROM documents WHERE source <> '{HOLDOUT_SOURCE}'
),
eval_sh AS (
  SELECT DISTINCT doc_id AS eval_doc_id, unnest({SHINGLES4_SQL}) AS shingle
  FROM documents WHERE source = '{HOLDOUT_SOURCE}'
)
SELECT t.doc_id, COUNT(*) AS n_hits,
       COUNT(DISTINCT e.eval_doc_id) AS n_eval_docs
FROM train_sh t
JOIN eval_sh e ON t.shingle = e.shingle
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction for a tokenizer: lowercase tokens with
    min-frequency cutoff get contiguous ids by (count desc, token asc)
    — the standard BPE/WordPiece pre-pass. Also emits each token's
    cumulative corpus coverage so a vocab-size cut is a WHERE clause.

    Scale: word-count shuffle (partial aggs map-side), then the
    two-stage global rank + prefix-sum (:func:`with_global_rank`) over
    the *vocabulary* (≪ corpus; a 100 TB corpus yields maybe 10⁷
    distinct tokens) — exact ROW_NUMBER / running-sum semantics with
    no single-partition sort, and the corpus total comes from the same
    materialization (round 2 re-derived the whole count lineage for
    it). Oracle unchanged.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    counts = (
        docs.select(F.explode(F.expr(TOKENS)).alias("token"))
        .filter(F.col("token") != "")
        .select(F.lower("token").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
    )
    ranked = with_global_rank(
        counts,
        [F.col("n").desc(), F.col("token").asc()],
        "__rk",
        prefix_sum=("n", "__cum"),
        grand_total=("n", "__vocab_total"),
    )
    return (
        ranked.withColumn("token_id", (F.col("__rk") - 1).cast("int"))
        .withColumn(
            "cum_coverage",
            F.round(F.col("__cum") / F.col("__vocab_total"), 6),
        )
        .select("token_id", "token", "n", "cum_coverage")
        .orderBy("token_id")
        .limit(200)
    )


VOCAB_ORACLE = r"""
WITH counts AS (
  SELECT lower(token) AS token, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY lower(token)
  HAVING COUNT(*) >= 5
)
SELECT
  CAST(ROW_NUMBER() OVER w - 1 AS INTEGER) AS token_id,
  token,
  n,
  ROUND(
    CAST(SUM(n) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS DOUBLE)
    / (SELECT SUM(n) FROM counts),
  6) AS cum_coverage
FROM counts
WINDOW w AS (ORDER BY n DESC, token ASC)
ORDER BY token_id
LIMIT 200
"""


CHUNK_SIZE = 200
CHUNK_STRIDE = 150


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping chunking (context-window prep): each doc
    becomes ⌈(len-overlap)/stride⌉ chunks of ≤200 chars with 50-char
    overlap, each fingerprinted for downstream dedup.

    Scale: pure narrow explode — sequence+substring inside codegen,
    zero shuffle; chunk text never leaves the executor (only its md5
    fingerprint and length do). This is the shape that feeds
    tokenize-and-pack at 100 TB.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    n_chunks = F.when(
        F.length("text") <= CHUNK_SIZE, F.lit(1)
    ).otherwise(
        F.ceil((F.length("text") - F.lit(CHUNK_SIZE)) / F.lit(CHUNK_STRIDE)) + 1
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.substring(
                    F.col("text"), i * CHUNK_STRIDE + 1, CHUNK_SIZE
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return (
        chunks.select(
            "doc_id",
            "chunk_idx",
            F.length("chunk").alias("chunk_len"),
            F.substring(F.md5("chunk"), 1, 16).alias("chunk_fp"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_ORACLE = f"""
WITH idx AS (
  SELECT
    doc_id,
    text,
    unnest(generate_series(
      0,
      CASE WHEN length(text) <= {CHUNK_SIZE} THEN 0
           ELSE CAST(CEIL(
             (length(text) - {CHUNK_SIZE}) / CAST({CHUNK_STRIDE} AS DOUBLE)
           ) AS BIGINT)
      END
    )) AS i
  FROM documents
),
spans AS (
  SELECT
    doc_id,
    CAST(i AS INTEGER) AS chunk_idx,
    substring(text, CAST(i AS INTEGER) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk
  FROM idx
)
SELECT doc_id, chunk_idx,
       CAST(length(chunk) AS INTEGER) AS chunk_len,
       substring(md5(chunk), 1, 16) AS chunk_fp
FROM spans
ORDER BY doc_id, chunk_idx
"""


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: within-document adjacent
    token pairs, their counts, and the conditional probability
    P(w2|w1) — the count-based pre-pass of classic LM training and a
    useful corpus-quality signal. Top 50 bigrams by frequency.

    Scale: bigram formation is a narrow per-row transform (no
    self-join between adjacent rows needed — adjacency lives inside
    the token array); the two counting shuffles are standard
    word-count shapes with map-side partial aggregation. P(w2|w1)
    derives from two exact integer counts, discretized with FLOOR
    micro-units (cross-engine-stable, see parity discipline).
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(F.expr(TOKENS).alias("t"))
    # sequence(1, 0) is DESCENDING in Spark, not empty — guard short docs
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "  i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) "
                "ELSE array() END"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_bigram"))
    # unigram counts over the SAME positions (all but the last token of
    # each doc) so probabilities per w1 sum to exactly 1. Derived by
    # re-aggregating bg_counts — the corpus is exploded and scanned
    # ONCE; the second shuffle moves at most |vocab|² count rows,
    # never corpus rows.
    uni_counts = bg_counts.groupBy("w1").agg(F.sum("n_bigram").alias("n_w1"))
    return (
        bg_counts.join(F.broadcast(uni_counts), "w1")
        .withColumn(
            "p_w2_given_w1",
            F.floor(F.col("n_bigram") * 1_000_000 / F.col("n_w1") + F.lit(0.5)).cast(
                "long"
            )
            / F.lit(1_000_000.0),
        )
        .select("w1", "w2", "n_bigram", "n_w1", "p_w2_given_w1")
        .orderBy(F.col("n_bigram").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


BIGRAM_LM_ORACLE = r"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
),
idx AS (
  SELECT t,
    unnest(generate_series(
      1, CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END
    )) AS i
  FROM toks
),
bigrams AS (
  SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx
),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_bigram
  FROM bigrams GROUP BY w1, w2
),
uni AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_w1
  FROM bigrams GROUP BY w1
)
SELECT bg.w1, bg.w2, bg.n_bigram, uni.n_w1,
  CAST(FLOOR(
    CAST(bg.n_bigram AS DOUBLE) * 1000000 / uni.n_w1 + 0.5
  ) AS BIGINT) / 1000000.0 AS p_w2_given_w1
FROM bg JOIN uni USING (w1)
ORDER BY n_bigram DESC, w1 ASC, w2 ASC
LIMIT 50
"""


MIN_TOKENS = 20


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus preparation as ONE lazy lineage:
    length gate (≥20 tokens) → exact dedup on the whitespace-normalized
    md5 fingerprint (keep lowest doc_id) → overlapping chunking →
    per-source yield report. The composability showcase: every stage
    is an operator this module already proves individually, fused by
    Catalyst into a single plan with no intermediate materialization.

    Scale: the only corpus-width shuffle is the dedup exchange on the
    md5 key (uniform by construction) — winner selection is a
    row_number window on (fp, doc_id), so the corpus is scanned ONCE
    and the md5/tokenize work runs once per row (a grouped-min +
    semi-join-back would scan and fingerprint twice); chunking is a
    narrow explode; the final report aggregates chunk *metadata*,
    never chunk text.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    gated = docs.filter(F.size(F.expr(TOKENS)) >= MIN_TOKENS).select(
        "doc_id", "source", "text", F.md5(normalized.cast("binary")).alias("fp")
    )
    wfp = W.partitionBy("fp").orderBy(F.col("doc_id").asc())
    kept = (
        gated.withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

    n_chunks = F.when(
        F.length("text") <= CHUNK_SIZE, F.lit(1)
    ).otherwise(
        F.ceil((F.length("text") - F.lit(CHUNK_SIZE)) / F.lit(CHUNK_STRIDE)) + 1
    )
    chunks = kept.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                lambda i: F.substring(
                    F.col("text"), i * CHUNK_STRIDE + 1, CHUNK_SIZE
                ),
            )
        ).alias("chunk_idx", "chunk"),
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_kept"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("chunk")).alias("sum_chunk_chars"),
        )
        .orderBy("source")
    )


CORPUS_PREP_ORACLE = rf"""
WITH gated AS (
  SELECT doc_id, source, text,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
  FROM documents
  WHERE len(string_split_regex(trim(text), '\s+')) >= {MIN_TOKENS}
),
winners AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM gated GROUP BY fp
),
kept AS (
  SELECT g.* FROM gated g
  WHERE EXISTS (
    SELECT 1 FROM winners w WHERE w.fp = g.fp AND w.doc_id = g.doc_id
  )
),
idx AS (
  SELECT doc_id, source, text,
    unnest(generate_series(
      0,
      CASE WHEN length(text) <= {CHUNK_SIZE} THEN 0
           ELSE CAST(CEIL(
             (length(text) - {CHUNK_SIZE}) / CAST({CHUNK_STRIDE} AS DOUBLE)
           ) AS BIGINT)
      END
    )) AS i
  FROM kept
),
chunks AS (
  SELECT doc_id, source,
         substring(text, CAST(i AS INTEGER) * {CHUNK_STRIDE} + 1, {CHUNK_SIZE}) AS chunk
  FROM idx
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_kept,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_chars
FROM chunks
GROUP BY source
ORDER BY source
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF, top-3 terms per document.

    The classic relevance weighting the reference's WIP text cleanup
    (SURVEY.md §2.8 F8) gestures at, computed exactly so the DuckDB
    oracle can verify it: tf = term count within the doc, idf =
    ln(N/df). Ranking uses an integer-micro score (tf ·
    floor(idf·1e6 + 0.5)) so the cross-engine ordering can never be
    flipped by a ULP of ln.

    Scale: document frequency is a count-window over the tf table on
    the term key — NOT a groupBy+join-back, which would re-derive the
    whole scan→explode→tf lineage a second time (Spark does not reuse
    an unpersisted shared subplan; ``.explain`` showed the corpus
    scanned twice under the join formulation). One corpus scan total:
    explode → tf agg (shuffle on doc,term) → df window (shuffle on
    term) → top-k window (shuffle on doc). N is a one-row
    column-pruned count, broadcast as a scalar; it reads the unspread
    scan, because a count over the spread frame would pay its own
    round-robin shuffle of the corpus (the doc_id projection pushes
    below the exchange, so AQE cannot reuse the tf side's).
    """
    raw = load_table(spark, "documents", sf_dir)
    docs = spread(raw)
    terms = docs.select(
        "doc_id", F.explode(F.expr(TOKENS)).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = raw.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))  # one-row scalar
        .withColumn(
            "score_micro",
            (
                F.col("tf")
                * F.floor(F.log(F.col("n_docs") / F.col("df")) * 1e6 + 0.5)
            ).cast("bigint"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "rk", "term", "tf", "score_micro")
        .orderBy("doc_id", "rk")
    )


TFIDF_ORACLE = rf"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM terms WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT
    tf.doc_id, tf.term, tf.tf,
    CAST(tf.tf * FLOOR(LN(n.n_docs / CAST(dfreq.df AS DOUBLE)) * 1000000 + 0.5)
         AS BIGINT) AS score_micro
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, score_micro,
    ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, term ASC
    ) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, score_micro
FROM ranked WHERE rk <= {TFIDF_TOP_K}
ORDER BY doc_id, rk
"""


def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's unigram distribution, plus
    vocabulary size and token mass — corpus-diversity analytics for
    training-data mixing decisions (a high-entropy source contributes
    more distinct signal per token).

    H = ln(n) − Σ c·ln(c) / n over exact integer term counts: the
    single-division form keeps all per-term float work inside one
    distributive SUM(c·ln c), so partial aggregation applies and the
    only order-sensitive float sum is over magnitudes ~1e1 — far
    below the 6-dp rounding edge.

    Scale: one corpus scan → (source, term) count shuffle → per-source
    agg. Vocabulary never collects anywhere.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    terms = docs.select(
        "source", F.explode(F.expr(TOKENS)).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("c").alias("n_tokens"),
            _round6(
                F.log(F.sum("c"))
                - F.sum(F.col("c") * F.log("c")) / F.sum("c")
            ).alias("entropy_nats"),
        )
        .orderBy("source")
    )


UNIGRAM_ENTROPY_ORACLE = r"""
WITH terms AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT source, term, COUNT(*) AS c
  FROM terms WHERE term <> '' GROUP BY source, term
)
SELECT
  source,
  COUNT(*) AS vocab,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  FLOOR((LN(CAST(SUM(c) AS DOUBLE))
         - SUM(c * LN(CAST(c AS DOUBLE))) / SUM(c)) * 1000000 + 0.5)
    / 1000000 AS entropy_nats
FROM tf
GROUP BY source
ORDER BY source
"""


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's unigram distribution from the
    corpus distribution — the canonical "how different is this slice"
    metric for training-mix design (pairs with
    :func:`unigram_entropy`).

    KL(p_s ‖ p_c) = Σ_t p_s(t) · ln(p_s(t)/p_c(t)), every term of
    which is present in the corpus by construction (no zero-division;
    no smoothing needed). Since Σ_t c = n_s, the sum factors as

        KL_s = (Σ_t c·ln(c/c_corpus)) / n_s + ln(n_c) − ln(n_s)

    so the per-(source,term) pass needs ONLY the term-partitioned
    corpus-count window; n_source falls out of the per-source groupBy
    itself and the corpus total n_c is a one-row scalar summed over
    the |sources|-row aggregate (round 2 computed n_c as
    ``sum OVER ()`` across the whole vocabulary×sources table — the
    full corpus tf through one task). One corpus scan, one shuffle on
    term, one on source; the oracle uses the same factored form.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    terms = docs.select(
        "source", F.explode(F.expr(TOKENS)).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    with_corpus = tf.withColumn(
        "c_corpus", F.sum("c").over(W.partitionBy("term"))
    )
    per_source = (
        with_corpus.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("c").alias("n_tokens"),
            F.sum(
                F.col("c") * F.log(F.col("c") / F.col("c_corpus"))
            ).alias("a"),
        )
        .localCheckpoint(eager=False)  # |sources| rows; pins one scan
    )
    n_corpus = per_source.agg(F.sum("n_tokens").alias("n_corpus"))
    return (
        broadcast_scalars(per_source, n_corpus)
        .select(
            "source",
            "vocab",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            _round6(
                F.col("a") / F.col("n_tokens")
                + F.log("n_corpus")
                - F.log("n_tokens")
            ).alias("kl_nats"),
        )
        .orderBy("source")
    )


KL_DIVERGENCE_ORACLE = r"""
WITH terms AS (
  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT source, term, COUNT(*) AS c
  FROM terms WHERE term <> '' GROUP BY source, term
),
m AS (
  SELECT
    source, term, c,
    SUM(c) OVER (PARTITION BY term) AS c_corpus
  FROM tf
),
per_source AS (
  SELECT
    source,
    COUNT(*) AS vocab,
    SUM(c) AS n_tokens,
    SUM(c * LN(CAST(c AS DOUBLE) / c_corpus)) AS a
  FROM m
  GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS n_corpus FROM per_source)
SELECT
  source,
  vocab,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  FLOOR((a / n_tokens + LN(CAST(n_corpus AS DOUBLE))
         - LN(CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000
    AS kl_nats
FROM per_source, tot
ORDER BY source
"""


def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — "which slices
    speak the same language" companion to :func:`source_kl_divergence`
    (set overlap rather than distributional distance).

    Inverted-index self-join on term (the n-gram Jaccard pattern at
    source granularity): |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|
    from broadcast vocab sizes. Never a source×source cross join on
    vocabularies.

    Scale: the (source, term) distinct table is vocabulary-sized;
    the self-join shuffles on term where each posting list is ≤
    |sources| long — cost Σ postings², bounded by the source count,
    not the corpus.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    st = (
        docs.select("source", F.explode(F.expr(TOKENS)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = st.alias("a")
    b = st.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("vocab").alias("va"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("vocab").alias("vb"))
    jac = F.col("n_common") / (F.col("va") + F.col("vb") - F.col("n_common"))
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            _round6(jac).alias("vocab_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_JACCARD_ORACLE = r"""
WITH st AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
st2 AS (SELECT source, term FROM st WHERE term <> ''),
sizes AS (
  SELECT source, COUNT(*) AS vocab FROM st2 GROUP BY source
),
common AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM st2 a JOIN st2 b ON a.term = b.term AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT
  src_a, src_b, n_common,
  FLOOR(n_common / CAST(sa.vocab + sb.vocab - n_common AS DOUBLE)
        * 1000000 + 0.5) / 1000000 AS vocab_jaccard
FROM common
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# PII patterns deliberately metachar-simple so Java regex (Spark) and
# RE2 (DuckDB) agree: character classes, bounded quantifiers, \b and
# \d only — no lookaround, no backreferences.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub step every training-data pipeline
    runs before a corpus ships. Emails → ``<EMAIL>``, phone numbers →
    ``<PHONE>``, verified per document by match counts, redacted
    length, and an md5 fingerprint of the scrubbed text.

    The synthetic corpus carries no organic PII, so the operator
    first derives a deterministic contact line from the row's own
    keys (same expression on both engines) and then proves the scrub
    removed it — the redaction logic, not the data, is under test.

    Scale: pure per-row regex work — narrow, codegen, no shuffle; the
    output is one row per document.
    """
    docs = load_table(spark, "documents", sf_dir)
    contact = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".org or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(contact, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.regexp_count(contact, F.lit(EMAIL_RE)).alias("n_emails"),
            F.regexp_count(contact, F.lit(PHONE_RE)).alias("n_phones"),
            F.length(scrubbed).alias("scrubbed_len"),
            F.md5(scrubbed.cast("binary")).alias("scrubbed_fp"),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_ORACLE = r"""
WITH pii AS (
  SELECT
    doc_id, source,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source
         || '.org or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      AS contact
  FROM documents
),
scrub AS (
  SELECT doc_id, source, contact,
    regexp_replace(
      regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
      '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
  FROM pii
)
SELECT
  doc_id, source,
  CAST(len(regexp_extract_all(contact,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(contact, '\b\d{3}-\d{4}\b')) AS INTEGER) AS n_phones,
  CAST(length(scrubbed) AS INTEGER) AS scrubbed_len,
  md5(scrubbed) AS scrubbed_fp
FROM scrub
ORDER BY doc_id
"""


REPETITION_FLAG_MICRO = 350_000  # dup-token ratio ≥ 0.35 → repetitive


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition gate: per source, how
    many documents are dominated by repeated tokens. Two signals per
    doc — duplicate-token ratio (1 − distinct/total) and top-token
    dominance (max single-token count / total) — aggregated to
    per-source counts and means.

    Parity discipline: each per-doc ratio is discretized to integer
    micros with floor(x·1e6 + 0.5) (single double division of two
    exact integers — identical bits on both engines), so the
    per-source SUM is an order-insensitive bigint sum; the only float
    division is the final mean, rounded once at the edge.

    Scale: explode → (doc, token) count [one shuffle, map-side
    combine] → per-doc roll-up [second shuffle on doc_id, count-sized
    rows] → per-source agg. Nothing corpus-sized moves twice.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    tokens = docs.select(
        "doc_id", "source", F.explode(F.expr(TOKENS)).alias("token")
    ).filter(F.col("token") != "")
    tf = tokens.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = tf.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("m"),
    )
    dup_micro = F.floor((F.col("n") - F.col("n_distinct")) * 1_000_000.0 / F.col("n") + 0.5).cast("long")
    top_micro = F.floor(F.col("m") * 1_000_000.0 / F.col("n") + 0.5).cast("long")
    scored = per_doc.select(
        "source",
        dup_micro.alias("dup_micro"),
        top_micro.alias("top_micro"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("dup_micro") >= REPETITION_FLAG_MICRO).cast("long")
            ).alias("n_repetitive"),
            _round6(F.sum("dup_micro") / 1_000_000.0 / F.count(F.lit(1))).alias(
                "avg_dup_ratio"
            ),
            _round6(F.sum("top_micro") / 1_000_000.0 / F.count(F.lit(1))).alias(
                "avg_top_ratio"
            ),
        )
        .orderBy("source")
    )


REPETITION_ORACLE = r"""
WITH tokens AS (
  SELECT doc_id, source,
         unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, source, token, COUNT(*) AS c
  FROM tokens WHERE token <> '' GROUP BY doc_id, source, token
),
per_doc AS (
  SELECT doc_id, source, SUM(c) AS n, COUNT(*) AS n_distinct, MAX(c) AS m
  FROM tf GROUP BY doc_id, source
),
scored AS (
  SELECT source,
    CAST(FLOOR((n - n_distinct) * 1000000.0 / n + 0.5) AS BIGINT) AS dup_micro,
    CAST(FLOOR(m * 1000000.0 / n + 0.5) AS BIGINT) AS top_micro
  FROM per_doc
)
SELECT
  source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN dup_micro >= 350000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_repetitive,
  FLOOR(CAST(SUM(dup_micro) AS DOUBLE) / 1000000.0 / COUNT(*) * 1000000 + 0.5)
    / 1000000 AS avg_dup_ratio,
  FLOOR(CAST(SUM(top_micro) AS DOUBLE) / 1000000.0 / COUNT(*) * 1000000 + 0.5)
    / 1000000 AS avg_top_ratio
FROM scored
GROUP BY source
ORDER BY source
"""


def bigram_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document log-probability under the corpus's own add-one
    bigram model — the classic cheap fluency/perplexity proxy used to
    rank documents for training-data selection (out-of-distribution
    docs score low).

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), context counts
    and vocabulary V from the whole corpus; a document's score is the
    mean ln P over its bigram occurrences.

    Parity discipline: each distinct bigram's ln P is discretized to
    integer micros, multiplied by its integer occurrence count, and
    summed as bigint — order-insensitive; the final mean is the one
    float division, rounded at the edge (same ln-parity footing as
    :func:`unigram_entropy`).

    Scale: one corpus scan produces per-doc bigram counts [shuffle 1,
    map-side combine]; corpus-level model counts re-aggregate those
    count rows [shuffle 2, vocab²-sized, never corpus-sized]; the
    scoring join is count-rows ⨝ model (broadcast-eligible — the
    model is vocab²). V is a one-row broadcast scalar.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", F.expr(TOKENS).alias("t"))
    doc_bg = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN "
                    "transform(sequence(1, size(t) - 1), "
                    "  i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) "
                    "ELSE array() END"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    model = doc_bg.groupBy("w1", "w2").agg(F.sum("n_occ").alias("c12"))
    ctx = model.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = model.select(
        F.countDistinct("w1").alias("v")
    )  # one row — broadcast scalar
    scored = (
        doc_bg.join(model, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp_micro",
            F.floor(
                F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
                * 1_000_000.0
                + 0.5
            ).cast("long")
            * F.col("n_occ"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_bigrams"),
            _round6(
                F.sum("lp_micro") / 1_000_000.0 / F.sum("n_occ")
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


BIGRAM_LOGPROB_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
idx AS (
  SELECT doc_id, t,
    unnest(generate_series(
      1, CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END
    )) AS i
  FROM toks
),
doc_bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n_occ
  FROM idx GROUP BY doc_id, t[i], t[i + 1]
),
model AS (
  SELECT w1, w2, SUM(n_occ) AS c12 FROM doc_bg GROUP BY w1, w2
),
ctx AS (
  SELECT w1, SUM(c12) AS c1 FROM model GROUP BY w1
),
vocab AS (
  SELECT COUNT(DISTINCT w1) AS v FROM model
),
scored AS (
  SELECT d.doc_id, d.n_occ,
    CAST(FLOOR(ln((m.c12 + 1.0) / (c.c1 + vocab.v)) * 1000000.0 + 0.5)
         AS BIGINT) * d.n_occ AS lp_micro
  FROM doc_bg d
  JOIN model m ON m.w1 = d.w1 AND m.w2 = d.w2
  JOIN ctx c ON c.w1 = d.w1
  CROSS JOIN vocab
)
SELECT
  doc_id,
  CAST(SUM(n_occ) AS BIGINT) AS n_bigrams,
  FLOOR(CAST(SUM(lp_micro) AS DOUBLE) / 1000000.0 / SUM(n_occ) * 1000000 + 0.5)
    / 1000000 AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


# --- winnowing (rolling-hash) fingerprints ----------------------------------
# Polynomial window hash over token hashes, then winnowing (min hash
# per sliding window of grams) — the local document-fingerprinting
# scheme (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms
# for Document Fingerprinting", SIGMOD 2003). Guarantees any shared
# run of >= WINNOW_K + WINNOW_W - 1 tokens between two documents
# yields at least one shared fingerprint.
WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # grams per winnowing window
WINNOW_B = 1_000_003  # polynomial base
WINNOW_P = 2_147_483_647  # modulus (2^31 - 1): products stay < 2^51

# per-token 31-bit hash from the md5 digest (cross-engine identical)
_WINNOW_TH = (
    f"transform({TOKENS}, t -> "
    f"cast(conv(substring(md5(cast(t as binary)), 1, 8), 16, 10) as bigint)"
    f" % {WINNOW_P})"
)
# k-token polynomial hash, fully parenthesized so Spark and DuckDB
# parse the identical reduction order
_WINNOW_GRAMS = (
    f"CASE WHEN size(th) < {WINNOW_K} THEN cast(array() as array<bigint>) "
    f"ELSE transform(sequence(1, size(th) - {WINNOW_K - 1}), i -> "
    f"(((((element_at(th, i) * {WINNOW_B} + element_at(th, i + 1))"
    f" % {WINNOW_P}) * {WINNOW_B} + element_at(th, i + 2))"
    f" % {WINNOW_P}) * {WINNOW_B} + element_at(th, i + 3)) % {WINNOW_P}"
    f") END"
)
_WINNOW_MINS = (
    f"CASE WHEN size(grams) = 0 THEN cast(array() as array<bigint>) "
    f"ELSE transform(sequence(1, greatest(size(grams) - {WINNOW_W - 1}, 1)), "
    f"j -> array_min(slice(grams, j, {WINNOW_W}))) END"
)


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document: distinct window-min rolling
    hashes, exploded to (doc_id, fingerprint) pairs.

    The fingerprint pairs are the join key for plagiarism-style
    substring-overlap detection: two documents sharing any
    sufficiently long token run must share a fingerprint, so overlap
    candidates come from an equi-join on ``fingerprint`` — the same
    inverted-index shape as the LSH band join, never pairwise.

    Scale: all per-document work (token hash, polynomial grams,
    window minima) is ONE narrow whole-stage-codegen projection over
    pre-materialized array columns (each array built once — lambda
    bodies re-evaluate per element, so nesting the token transform
    inside the gram transform would re-hash the document per gram);
    the only shuffle is the final distinct on (doc_id, fingerprint).
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    return (
        docs.withColumn("th", F.expr(_WINNOW_TH))
        .withColumn("grams", F.expr(_WINNOW_GRAMS))
        .withColumn("wins", F.expr(_WINNOW_MINS))
        .select("doc_id", F.explode(F.array_distinct("wins")).alias("fingerprint"))
        .orderBy("doc_id", "fingerprint")
    )


WINNOW_ORACLE = rf"""
WITH th AS (
  SELECT doc_id,
    list_transform(
      string_split_regex(trim(text), '\s+'),
      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {WINNOW_P}
    ) AS th
  FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(th) < {WINNOW_K} THEN CAST([] AS BIGINT[])
    ELSE list_transform(
      generate_series(1, len(th) - {WINNOW_K - 1}),
      i -> (((((th[i] * {WINNOW_B} + th[i + 1]) % {WINNOW_P}) * {WINNOW_B}
             + th[i + 2]) % {WINNOW_P}) * {WINNOW_B} + th[i + 3]) % {WINNOW_P}
    ) END AS grams
  FROM th
),
wins AS (
  SELECT doc_id,
    CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[])
    ELSE list_transform(
      generate_series(1, greatest(len(grams) - {WINNOW_W - 1}, 1)),
      j -> list_min(list_slice(grams, j, j + {WINNOW_W - 1}))
    ) END AS wins
  FROM grams
)
SELECT DISTINCT doc_id, unnest(wins) AS fingerprint
FROM wins
ORDER BY doc_id, fingerprint
"""


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-overlap candidates: document pairs sharing >= 2
    winnowing fingerprints, with the shared-fingerprint count — the
    consumer of :func:`winnow_fingerprints` and the third
    candidate-generation family next to MinHash-LSH (set overlap) and
    SimHash (bit distance): winnowing catches LOCAL runs (quoted
    paragraphs, boilerplate blocks) that whole-document sketches
    dilute away.

    Scale: inverted-index self-join on the fingerprint key, then a
    count-filter — identical shuffle shape to the LSH band join.
    """
    fps = winnow_fingerprints(spark, sf_dir)
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .filter(F.col("n_shared_fingerprints") >= 2)
        .orderBy("doc_a", "doc_b")
    )


WINNOW_OVERLAP_ORACLE = rf"""
WITH th AS (
  SELECT doc_id,
    list_transform(
      string_split_regex(trim(text), '\s+'),
      t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {WINNOW_P}
    ) AS th
  FROM documents
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(th) < {WINNOW_K} THEN CAST([] AS BIGINT[])
    ELSE list_transform(
      generate_series(1, len(th) - {WINNOW_K - 1}),
      i -> (((((th[i] * {WINNOW_B} + th[i + 1]) % {WINNOW_P}) * {WINNOW_B}
             + th[i + 2]) % {WINNOW_P}) * {WINNOW_B} + th[i + 3]) % {WINNOW_P}
    ) END AS grams
  FROM th
),
wins AS (
  SELECT doc_id,
    CASE WHEN len(grams) = 0 THEN CAST([] AS BIGINT[])
    ELSE list_transform(
      generate_series(1, greatest(len(grams) - {WINNOW_W - 1}, 1)),
      j -> list_min(list_slice(grams, j, j + {WINNOW_W - 1}))
    ) END AS wins
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, unnest(wins) AS fingerprint FROM wins
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_fingerprints
FROM fps a
JOIN fps b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY doc_a, doc_b
"""


# Hashed linear classifier: feature space and deterministic
# pseudo-weights. The weight for bucket b is the Knuth multiplicative
# remix ((b * 2654435761) mod 1000003) — pure bigint arithmetic both
# engines evaluate identically (max product ≈ 1.1e13 < 2^51, no
# overflow under ANSI mode), standing in for trained coefficients so
# the whole scoring path is oracle-exact.
CLS_BUCKETS = 4096
CLS_MIX = 2_654_435_761
CLS_P = 1_000_003
# decision bias (rational 387/1000): the corpus vocabulary's
# empirical mean normalized weight is ~0.387, so the keep boundary
# sits at the distribution's center — a fastText model's bias term,
# kept rational so the decision stays integer-exact
CLS_BIAS_NUM = 387
CLS_BIAS_DEN = 1000


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier: each token is
    hashed into one of 4096 buckets (first 4 md5 hex chars), each
    bucket carries a fixed weight in (-0.5, 0.5), and the document
    score is the logistic of 4× the bias-centered mean token weight —
    ``keep = score ≥ 0.5``, i.e. mean weight above the model bias
    (``CLS_BIAS_*``). The weights here are a deterministic
    pseudo-model (see ``CLS_MIX``); swapping in trained fastText
    coefficients is a broadcast-lookup change, not a plan change.

    Scale: scoring is a per-document array fold (``aggregate`` over
    ``transform``) entirely inside codegen — zero shuffle, zero
    Python, no explode; the token-weight sum is kept in INTEGER space
    (sum of ``(b·MIX) mod P``) so the mean is exact cross-engine, and
    the keep decision compares integers
    (``DEN·Σw ≥ NUM·n·P``), never a rounded float. A real trained model at 100 TB broadcasts its
    weight array and swaps the arithmetic remix for
    ``weights[bucket]`` — same single-scan shape.
    """
    docs = (
        spread(load_table(spark, "documents", sf_dir))
        .filter(F.col("text").isNotNull())
        .withColumn("toks", F.expr(TOKENS))
    )
    bucket = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint")
        % CLS_BUCKETS
    )
    w_int = lambda t: (bucket(t) * CLS_MIX) % CLS_P  # noqa: E731
    scored = docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.aggregate(
            F.col("toks"), F.lit(0).cast("bigint"), lambda acc, t: acc + w_int(t)
        ).alias("w_sum"),
    )
    bias = float(CLS_BIAS_NUM) / CLS_BIAS_DEN
    mean_w = F.col("w_sum") / (F.col("n_tokens") * float(CLS_P)) - bias
    # NOTE: the logistic score itself is NOT in the hashed projection —
    # exp() is libm (not correctly rounded) and per-row rounded libm is
    # the func_math cross-build flip class.  mean_w is the exact
    # monotone equivalent (sigmoid is strictly increasing), and the
    # keep decision is pure-integer; a caller wanting the calibrated
    # probability applies the sigmoid to mean_w at the edge.
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            "w_sum",
            _round6(mean_w).alias("mean_w"),
            (
                CLS_BIAS_DEN * F.col("w_sum")
                >= F.col("n_tokens").cast("bigint")
                * F.lit(CLS_BIAS_NUM * CLS_P)
            )
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_CLASSIFIER_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT
    doc_id,
    len(toks) AS n_tokens,
    CAST(list_sum(list_transform(
      toks,
      tok -> (CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % {CLS_BUCKETS})
             * {CLS_MIX} % {CLS_P}
    )) AS BIGINT) AS w_sum
  FROM t
)
SELECT
  doc_id,
  CAST(n_tokens AS INTEGER) AS n_tokens,
  w_sum,
  FLOOR((w_sum / (n_tokens * {float(CLS_P)})
         - {CLS_BIAS_NUM / CLS_BIAS_DEN}) * 1000000 + 0.5)
    / 1000000 AS mean_w,
  CAST(CASE WHEN {CLS_BIAS_DEN} * w_sum >= n_tokens * {CLS_BIAS_NUM * CLS_P}
       THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM scored
ORDER BY doc_id
"""


# length gate for the model-gated pipeline (tokens)
PIPE2_MIN_TOKENS = 30
# retained-token floor after passage dedup
PIPE2_MIN_RETAINED_PPM = 800_000


def quality_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 corpus pipeline as ONE lazy lineage: model-based
    gate (hashed linear classifier, integer-exact keep) → length gate
    (≥30 tokens) → passage-level first-wins dedup over the SURVIVING
    corpus (20-token chunks, keep the corpus-wide first occurrence) →
    drop documents retaining <80% of their tokens → per-source yield
    funnel. The sibling of :func:`corpus_prep_pipeline` with the
    heuristic stages upgraded to their model-based / passage-level
    round-3 forms — every stage individually oracle-proved
    (``text_quality_classifier``, ``dedup_chunk_first_wins``), here
    composed so Catalyst fuses the gates into the scan and the
    pipeline pays ONE fingerprint shuffle.

    Note the ordering semantics: passage dedup ranks first-occurrence
    among the documents that SURVIVE the gates (a dropped early doc
    does not shadow a later duplicate) — the composition is not
    commutative with the gates, which is exactly why it must be one
    plan, not three queries glued by a driver.

    Scale: gates are per-row codegen (array fold + size check, no
    shuffle); the chunk-fingerprint exchange is the single
    corpus-width shuffle (uniform md5 key); the funnel aggregates
    per-doc metadata only. Identical shape at 100 TB.
    """
    # null-text guard: see dedup.chunk_first_wins — Spark's
    # sequence(1, 0) emits [1, 0] where DuckDB emits nothing
    docs = (
        spread(load_table(spark, "documents", sf_dir))
        .filter(F.col("text").isNotNull())
        .withColumn("toks", F.expr(TOKENS))
    )
    bucket = lambda t: (  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("bigint") % CLS_BUCKETS
    )
    w_int = lambda t: (bucket(t) * CLS_MIX) % CLS_P  # noqa: E731
    scored = docs.withColumn(
        "w_sum",
        F.aggregate(
            F.col("toks"), F.lit(0).cast("bigint"), lambda acc, t: acc + w_int(t)
        ),
    ).withColumn("n_tokens", F.size("toks"))
    gated = scored.withColumn(
        "pass_model",
        CLS_BIAS_DEN * F.col("w_sum")
        >= F.col("n_tokens").cast("bigint") * F.lit(CLS_BIAS_NUM * CLS_P),
    ).withColumn("pass_len", F.col("n_tokens") >= PIPE2_MIN_TOKENS)
    survivors = gated.filter(F.col("pass_model") & F.col("pass_len"))

    n_chunks = F.ceil(F.size("toks") / F.lit(20.0)).cast("int")
    chunks = survivors.select(
        "doc_id",
        "source",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), (i - 1) * 20 + 1, 20)),
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        "source",
        "chunk_idx",
        F.md5("chunk").alias("fp"),
        F.size(F.split("chunk", " ")).alias("chunk_toks"),
    )
    from pyspark.sql import Window as W2

    first_wins = chunks.withColumn(
        "rn",
        F.row_number().over(W2.partitionBy("fp").orderBy("doc_id", "chunk_idx")),
    )
    kept_flag = F.when(F.col("rn") == 1, 1).otherwise(0)
    per_doc = first_wins.groupBy("doc_id", "source").agg(
        F.sum("chunk_toks").alias("n_toks"),
        F.sum(kept_flag * F.col("chunk_toks")).alias("kept_toks"),
    )
    retained = per_doc.withColumn(
        "pass_dedup",
        F.col("kept_toks") * 1_000_000 >= F.col("n_toks") * PIPE2_MIN_RETAINED_PPM,
    )

    funnel_gates = gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pass_model").cast("int")).alias("pass_model"),
        F.sum((F.col("pass_model") & F.col("pass_len")).cast("int")).alias(
            "pass_gates"
        ),
    )
    funnel_dedup = retained.groupBy("source").agg(
        F.sum(F.col("pass_dedup").cast("int")).alias("final_docs"),
        F.sum(F.when(F.col("pass_dedup"), F.col("kept_toks"))).alias(
            "final_tokens"
        ),
    )
    return (
        funnel_gates.join(funnel_dedup, "source", "left")
        .select(
            "source",
            "n_docs",
            "pass_model",
            "pass_gates",
            F.coalesce(F.col("final_docs"), F.lit(0)).cast("bigint").alias(
                "final_docs"
            ),
            F.coalesce(F.col("final_tokens"), F.lit(0)).cast("bigint").alias(
                "final_tokens"
            ),
        )
        .orderBy("source")
    )


QUALITY_DEDUP_PIPELINE_ORACLE = rf"""
WITH scored AS (
  SELECT
    doc_id,
    source,
    string_split_regex(trim(text), '\s+') AS toks,
    len(string_split_regex(trim(text), '\s+')) AS n_tokens,
    CAST(list_sum(list_transform(
      string_split_regex(trim(text), '\s+'),
      tok -> (CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % {CLS_BUCKETS})
             * {CLS_MIX} % {CLS_P}
    )) AS BIGINT) AS w_sum
  FROM documents WHERE text IS NOT NULL
),
gated AS (
  SELECT *,
    ({CLS_BIAS_DEN} * w_sum >= n_tokens * {CLS_BIAS_NUM * CLS_P})
      AS pass_model,
    (n_tokens >= {PIPE2_MIN_TOKENS}) AS pass_len
  FROM scored
),
survivors AS (
  SELECT * FROM gated WHERE pass_model AND pass_len
),
idx AS (
  SELECT doc_id, source, toks,
         unnest(generate_series(
           1, CAST(CEIL(n_tokens / 20.0) AS BIGINT))) AS i
  FROM survivors
),
chunks AS (
  SELECT doc_id, source, CAST(i - 1 AS INTEGER) AS chunk_idx,
    md5(array_to_string(list_slice(toks, CAST((i-1)*20+1 AS BIGINT),
                                   CAST(i*20 AS BIGINT)), ' ')) AS fp,
    len(list_slice(toks, CAST((i-1)*20+1 AS BIGINT),
                   CAST(i*20 AS BIGINT))) AS chunk_toks
  FROM idx
),
marked AS (
  SELECT doc_id, source, chunk_toks,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks
),
per_doc AS (
  SELECT doc_id, source,
         SUM(chunk_toks) AS n_toks,
         SUM(CASE WHEN rn = 1 THEN chunk_toks ELSE 0 END) AS kept_toks
  FROM marked GROUP BY doc_id, source
),
retained AS (
  SELECT *,
         (kept_toks * 1000000 >= n_toks * {PIPE2_MIN_RETAINED_PPM})
           AS pass_dedup
  FROM per_doc
),
funnel_gates AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN pass_model THEN 1 ELSE 0 END) AS BIGINT)
           AS pass_model,
         CAST(SUM(CASE WHEN pass_model AND pass_len THEN 1 ELSE 0 END)
           AS BIGINT) AS pass_gates
  FROM gated GROUP BY source
),
funnel_dedup AS (
  SELECT source,
         CAST(SUM(CASE WHEN pass_dedup THEN 1 ELSE 0 END) AS BIGINT)
           AS final_docs,
         CAST(SUM(CASE WHEN pass_dedup THEN kept_toks END) AS BIGINT)
           AS final_tokens
  FROM retained GROUP BY source
)
SELECT
  g.source,
  g.n_docs,
  g.pass_model,
  g.pass_gates,
  COALESCE(d.final_docs, 0) AS final_docs,
  COALESCE(d.final_tokens, 0) AS final_tokens
FROM funnel_gates g
LEFT JOIN funnel_dedup d ON g.source = d.source
ORDER BY g.source
"""


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent token pairs ranked by PMI lift
    ``p(w1,w2) / (p(w1)·p(w2))`` — the standard statistical test for
    multi-word expressions ("new york" scores high, "of the" low).
    Marginals are taken over bigram slots so the contingency table is
    self-consistent: p(w1=a) = Σ_b n(a,b)/N, p(w2=b) = Σ_a n(a,b)/N.
    Reported as the lift ratio rather than its log: the ordering is
    identical (log is monotone) and the ratio is pure correctly-
    rounded IEEE multiply/divide on exact integer counts, so both
    engines produce bit-identical doubles — log's last-ulp is
    libm-dependent and would flake the 6-dp edge. Min support 5,
    top 40 by lift.

    Scale: the corpus is exploded and counted ONCE (map-side
    combinable word-count shape); both marginals and the grand total
    re-aggregate the bigram COUNT table (≤|vocab|² rows, never corpus
    rows), and ride back in as broadcast joins. Top-40 is a
    TakeOrderedAndProject, not a global sort.
    """
    docs = spread(load_table(spark, "documents", sf_dir))
    toks = docs.select(F.expr(TOKENS).alias("t"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "  i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) "
                "ELSE array() END"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # persisted: the count table (≤|vocab|² rows, orders of magnitude
    # smaller than the corpus) feeds FOUR branches (pairs + both
    # marginals + grand total) and Spark does not reuse unpersisted
    # shared subplans — without this the corpus explode runs 4×
    bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .persist()
    )
    m1 = bg.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    m2 = bg.groupBy("w2").agg(F.sum("n_pair").alias("n_w2"))
    total = bg.agg(F.sum("n_pair").alias("n_total"))
    return (
        bg.filter(F.col("n_pair") >= 5)
        .join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_total"))
                / (F.col("n_w1").cast("double") * F.col("n_w2")),
                6,
            ).alias("pmi_lift"),
        )
        .orderBy(F.col("pmi_lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(40)
    )


PMI_COLLOCATIONS_ORACLE = r"""
WITH toks AS (
  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
),
idx AS (
  SELECT t,
    unnest(generate_series(
      1, CASE WHEN len(t) >= 2 THEN len(t) - 1 ELSE 0 END
    )) AS i
  FROM toks
),
bigrams AS (
  SELECT t[i] AS w1, t[i + 1] AS w2 FROM idx
),
bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM bigrams GROUP BY w1, w2
),
m1 AS (SELECT w1, SUM(n_pair) AS n_w1 FROM bg GROUP BY w1),
m2 AS (SELECT w2, SUM(n_pair) AS n_w2 FROM bg GROUP BY w2),
total AS (SELECT SUM(n_pair) AS n_total FROM bg)
SELECT
  bg.w1, bg.w2, bg.n_pair,
  CAST(m1.n_w1 AS BIGINT) AS n_w1,
  CAST(m2.n_w2 AS BIGINT) AS n_w2,
  ROUND(
    (CAST(bg.n_pair AS DOUBLE) * n_total)
      / (CAST(m1.n_w1 AS DOUBLE) * m2.n_w2),
    6) AS pmi_lift
FROM bg
JOIN m1 USING (w1)
JOIN m2 USING (w2)
CROSS JOIN total
WHERE bg.n_pair >= 5
ORDER BY pmi_lift DESC, w1 ASC, w2 ASC
LIMIT 40
"""


BM25_QUERY_TERMS = ("data", "spark", "filter")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranking of the corpus against a fixed 3-term query
    — the production search-scoring function (term-frequency
    saturation via k1, doc-length normalization via b) that the
    TF-IDF entry (`text_tfidf`) is the classroom version of. Uses the
    Lucene idf form ln(1 + (N - df + 0.5)/(df + 0.5)); top-10 docs by
    integer-micro score with doc_id tiebreak.

    Scale: ONE explode of the corpus into a persisted token frame
    feeds both per-doc lengths and per-(doc, term) frequencies; the
    query side (3 terms -> df counts -> idf) and the scalars (N,
    avgdl) are broadcast; the final top-10 is TakeOrderedAndProject,
    never a global sort.
    """
    from backend_model_spark.operators.scale_utils import broadcast_scalars

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    tok = tok.persist()  # reused: doc lengths, tf, df
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    scalars = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    terms = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "token string"
    )
    qtok = tok.join(F.broadcast(terms), "token")
    df_counts = qtok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = qtok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))

    cells = (
        tf.join(F.broadcast(df_counts), "token")
        .join(dl, "doc_id")
    )
    cells = broadcast_scalars(cells, scalars)
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * F.col("tf") * (BM25_K1 + 1.0) / denom
    return (
        cells.groupBy("doc_id")
        .agg(
            F.floor(F.sum(term_score) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("score_micro")
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(10)
        .select("doc_id", (F.col("score_micro") / 1e6).alias("bm25"))
    )


BM25_RANK_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
scalars AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl
),
terms(token) AS (VALUES {", ".join("('" + t + "')" for t in BM25_QUERY_TERMS)}),
qtok AS (SELECT t.doc_id, t.token FROM tok t JOIN terms USING (token)),
dfc AS (
  SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
  FROM qtok GROUP BY 1
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM qtok GROUP BY 1, 2),
scored AS (
  SELECT tf.doc_id,
    SUM(
      ln(1.0 + (s.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
      * tf.tf * ({BM25_K1} + 1.0)
      / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
    ) AS score
  FROM tf
  JOIN dfc USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN scalars s
  GROUP BY tf.doc_id
)
SELECT doc_id,
  CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) / 1e6 AS bm25
FROM scored
ORDER BY CAST(FLOOR(score * 1e6 + 0.5) AS BIGINT) DESC, doc_id
LIMIT 10
"""
