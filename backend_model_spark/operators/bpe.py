"""BPE tokenizer training as distributed aggregation — the merge-
learning step of byte-pair encoding (Sennrich et al. 2016), the
algorithm behind GPT/Llama tokenizers and the natural companion to
``text_bpe_token_count`` (which only counts with a FIXED pattern).

Why this is a Spark-shaped problem: classic BPE looks sequential, but
its rounds run on the WORD-FREQUENCY VOCAB, not the corpus. The corpus
is touched exactly ONCE (the word-count rollup: one shuffle on the
word key, map-side combinable); learning reads only the top
``VOCAB_TOP`` words, so all N rounds — sum overlapping adjacent-pair
counts weighted by word count, pick the best pair, rewrite every word
with it — run as plain Python in ONE grouped-map task over that
bounded table (:func:`_learn`). Learning N merges over 100 TB costs
one corpus scan plus one ≤ ``VOCAB_TOP``-row group, with no
per-round synchronisation. Applying the merges is row-local: the
sorted merge list rides a broadcast one-row frame onto every word row
and a ``mapInPandas`` rewrites each word (:func:`_merge`). Both
entries return a lazy plan; building one runs no Spark job.

Greedy left-to-right merge application (the part naive SQL gets wrong
for runs like "aaa") is a left-to-right scan in :func:`_merge`. The
DuckDB oracle expresses the same semantics positionally — match
positions group into consecutive runs (pos − row_number key) and only
ODD positions within a run merge — and unrolls the rounds as generated
CTE chains from the same constants (the MLP-oracle precedent).

Determinism: pure integer counts; the best pair is the maximum of
(count desc, left asc, right asc), a total order, so the learner's
result does not depend on the order its group's rows arrive in. No
floats until the final chars-per-token ratio.

Reference anchor: the reference tokenizes text only through sklearn
vectorizers (SURVEY.md §2.6 F8); this is the training-data-pipeline
extension of that capability (SURVEY §2.11 charter).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_model_spark.sources.tables import load_table

N_MERGES = 5
VOCAB_TOP = 2000  # bounded vocab table: top words by (count, word)
MAX_WORD_LEN = 20


def _word_counts(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """One corpus pass: lowercase alpha word counts ``c`` per
    (*keys, word) — the only corpus-sized stage."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            *keys,
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word"),
        )
        .filter((F.col("word") != "") & (F.length("word") <= MAX_WORD_LEN))
        .groupBy(*keys, "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _merge(tokens: list[str], l: str, r: str) -> list[str]:
    """Greedy left-to-right application of merge (l, r): a match
    consumes the token after it, so "aaa" under (a, a) is [aa][a]."""
    out, i = [], 0
    while i < len(tokens):
        if i + 1 < len(tokens) and tokens[i] == l and tokens[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def _learn(vocab: pd.DataFrame) -> pd.DataFrame:
    """Up to ``N_MERGES`` greedy BPE rounds over the whole (word, wc)
    vocab; stops early once no word has two tokens left."""
    seqs = [(list(w), int(wc)) for w, wc in zip(vocab["word"], vocab["wc"])]
    rows = []
    for rnd in range(1, N_MERGES + 1):
        counts: Counter[tuple[str, str]] = Counter()
        for toks, wc in seqs:
            for pair in zip(toks, toks[1:]):
                counts[pair] += wc
        if not counts:
            break
        (l, r), pc = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rows.append((rnd, l, r, l + r, pc))
        seqs = [(_merge(toks, l, r), wc) for toks, wc in seqs]
    return pd.DataFrame(
        rows, columns=["round", "lhs", "rhs", "merged", "pair_count"]
    )


def _learned_merges(counts: DataFrame) -> DataFrame:
    """(round, lhs, rhs, merged, pair_count) learned on the top
    ``VOCAB_TOP`` rows of a (word, wc) table, in one Python group."""
    # global top-k as orderBy+limit: Spark plans this as a distributed
    # TakeOrderedAndProject (per-partition heap + driver merge of k
    # rows), never a single-partition WindowExec over the vocab. The
    # (wc desc, word asc) order is total, so the k-prefix is unique.
    vocab = (
        counts.orderBy(F.col("wc").desc(), F.col("word").asc())
        .limit(VOCAB_TOP)
        .select("word", "wc")
    )
    # one literal group; aliased, since a bare integer literal in
    # groupBy is read as a column ordinal
    return vocab.groupBy(F.lit(0).alias("g")).applyInPandas(
        _learn,
        "round int, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``N_MERGES`` BPE merges; returns one row per
    round: (round, left, right, merged, pair_count)."""
    counts = _word_counts(spark, sf_dir).withColumnRenamed("c", "wc")
    return _learned_merges(counts).orderBy("round")


def _segment(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Token count ``n_tok`` of each row's word after applying the
    row's merge list (``ls``, ``rs``) in order."""
    for pdf in batches:
        n_tok = []
        for word, ls, rs in zip(pdf["word"], pdf["ls"], pdf["rs"]):
            toks = list(word)
            for l, r in zip(ls, rs):
                toks = _merge(toks, l, r)
            n_tok.append(len(toks))
        yield pdf[["source", "word", "c"]].assign(n_tok=n_tok)


def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merges to the WHOLE corpus — the inference
    half of tokenizer training: per source, total BPE tokens, total
    characters, and the compression the merges bought
    (chars-per-token, micro-rounded).

    Shape: one (source, word) rollup feeds both halves. Its global
    word totals feed the same learner as :func:`bpe_learn_merges`;
    the learned merges, sorted by round into one broadcast row, are
    applied row-locally to the rollup itself in a ``mapInPandas``, so
    the corpus is scanned once and its rollup exchange is reused. At
    100 TB: 1 corpus-rollup shuffle + one vocab-sized Python group +
    a row-local Python pass over the distinct (source, word) rows.
    When the vocab yields fewer than ``N_MERGES`` merges the result
    is empty, as in the oracle, whose apply chain then cross-joins an
    empty best pair.
    """
    words = _word_counts(spark, sf_dir, "source")
    merges = (
        _learned_merges(words.groupBy("word").agg(F.sum("c").alias("wc")))
        .agg(F.sort_array(F.collect_list(F.struct("round", "lhs", "rhs"))).alias("m"))
        .filter(F.size("m") == N_MERGES)
        .select(F.col("m.lhs").alias("ls"), F.col("m.rhs").alias("rs"))
    )
    return (
        words.crossJoin(F.broadcast(merges))
        .mapInPandas(_segment, "source string, word string, c bigint, n_tok int")
        .groupBy("source")
        .agg(
            F.sum(F.col("c") * F.col("n_tok")).cast("long").alias("total_tokens"),
            F.sum(F.col("c") * F.length("word")).cast("long").alias("total_chars"),
        )
        .withColumn(
            # divide first (double), THEN micro-scale: total_chars*1e6
            # would overflow bigint at 100 TB character volumes
            "chars_per_token",
            F.floor(
                F.col("total_chars") / F.col("total_tokens") * 1000000
                + F.lit(0.5)
            )
            / 1000000,
        )
        .orderBy("source")
    )


def _round_ctes(r: int, prev: str) -> tuple[str, str, str]:
    """One unrolled BPE round in SQL: returns (cte_sql, best_name,
    next_seq_name) reading token table ``prev``(word, wc, pos, tok)."""
    p = f"r{r}_"
    ctes = f"""
{p}paired AS (
  SELECT word, wc, pos, tok,
    lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM {prev}
),
{p}best AS (
  SELECT tok AS l, nxt AS r, CAST(SUM(wc) AS BIGINT) AS pc
  FROM {p}paired WHERE nxt IS NOT NULL
  GROUP BY tok, nxt
  ORDER BY pc DESC, l ASC, r ASC
  LIMIT 1
),
{p}m AS (
  SELECT p.word, p.wc, p.pos, p.tok, p.nxt, b.l, b.r,
    (p.tok = b.l AND p.nxt = b.r) AS is_m
  FROM {p}paired p CROSS JOIN {p}best b
),
{p}runs AS (
  SELECT *,
    CASE WHEN is_m THEN pos - row_number() OVER (
      PARTITION BY word, is_m ORDER BY pos) END AS run_key
  FROM {p}m
),
{p}keep AS (
  SELECT *,
    is_m AND (row_number() OVER (
      PARTITION BY word, run_key ORDER BY pos) % 2 = 1) AS do_merge
  FROM {p}runs
),
{p}seq AS (
  SELECT word, wc,
    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
    CASE WHEN do_merge THEN tok || nxt ELSE tok END AS tok
  FROM (
    SELECT *,
      COALESCE(lag(do_merge) OVER (PARTITION BY word ORDER BY pos),
               FALSE) AS consumed
    FROM {p}keep
  )
  WHERE NOT consumed
)"""
    return ctes, f"{p}best", f"{p}seq"


def _bpe_oracle() -> str:
    head = f"""
WITH words AS (
  SELECT word, COUNT(*) AS wc
  FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents
  )
  WHERE word <> '' AND length(word) <= {MAX_WORD_LEN}
  GROUP BY word
),
vocab AS (
  SELECT word, wc FROM words
  ORDER BY wc DESC, word ASC
  LIMIT {VOCAB_TOP}
),
r0_seq AS (
  SELECT word, wc, i.pos, substr(word, i.pos, 1) AS tok
  FROM vocab,
       (SELECT unnest(generate_series(1, {MAX_WORD_LEN})) AS pos) i
  WHERE i.pos <= length(word)
)"""
    ctes, selects, prev = [head], [], "r0_seq"
    for r in range(1, N_MERGES + 1):
        c, best, nxt = _round_ctes(r, prev)
        ctes.append(c)
        selects.append(
            f"SELECT {r} AS round, l AS lhs, r AS rhs, l || r AS merged,"
            f" pc AS pair_count FROM {best}"
        )
        prev = nxt
    return ",".join(ctes) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY round"


BPE_MERGES_ORACLE = _bpe_oracle()


def _apply_ctes(r: int, prev: str, best: str) -> tuple[str, str]:
    """Unrolled APPLY-only round: rewrite token table ``prev`` with
    the already-selected merge ``best`` — the SQL twin of
    :func:`_merge`. Returns (cte_sql, next_seq_name)."""
    p = f"a{r}_"
    ctes = f"""
{p}m AS (
  SELECT s.word, s.wc, s.pos, s.tok,
    lead(s.tok) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
    b.l, b.r
  FROM {prev} s CROSS JOIN {best} b
),
{p}m2 AS (
  SELECT *, (tok = l AND nxt = r) AS is_m FROM {p}m
),
{p}runs AS (
  SELECT *,
    CASE WHEN is_m THEN pos - row_number() OVER (
      PARTITION BY word, is_m ORDER BY pos) END AS run_key
  FROM {p}m2
),
{p}keep AS (
  SELECT *,
    is_m AND (row_number() OVER (
      PARTITION BY word, run_key ORDER BY pos) % 2 = 1) AS do_merge
  FROM {p}runs
),
{p}seq AS (
  SELECT word, wc,
    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
    CASE WHEN do_merge THEN tok || nxt ELSE tok END AS tok
  FROM (
    SELECT *,
      COALESCE(lag(do_merge) OVER (PARTITION BY word ORDER BY pos),
               FALSE) AS consumed
    FROM {p}keep
  )
  WHERE NOT consumed
)"""
    return ctes, f"{p}seq"


def _bpe_segment_oracle() -> str:
    head = f"""
WITH words_src AS (
  SELECT source, word, COUNT(*) AS c
  FROM (
    SELECT source,
      unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents
  )
  WHERE word <> '' AND length(word) <= {MAX_WORD_LEN}
  GROUP BY source, word
),
gw AS (SELECT word, CAST(SUM(c) AS BIGINT) AS wc FROM words_src GROUP BY word),
vocab AS (
  SELECT word, wc FROM gw ORDER BY wc DESC, word ASC LIMIT {VOCAB_TOP}
),
series AS (SELECT unnest(generate_series(1, {MAX_WORD_LEN})) AS pos),
r0_seq AS (
  SELECT word, wc, i.pos, substr(word, i.pos, 1) AS tok
  FROM vocab, series i WHERE i.pos <= length(word)
),
a0_seq AS (
  SELECT word, 1 AS wc, i.pos, substr(word, i.pos, 1) AS tok
  FROM gw, series i WHERE i.pos <= length(word)
)"""
    ctes, lprev, aprev = [head], "r0_seq", "a0_seq"
    for r in range(1, N_MERGES + 1):
        c, best, lnext = _round_ctes(r, lprev)
        ctes.append(c)
        ac, anext = _apply_ctes(r, aprev, best)
        ctes.append(ac)
        lprev, aprev = lnext, anext
    return (
        ",".join(ctes)
        + f""",
per_word AS (
  SELECT word, COUNT(*) AS n_tok FROM {aprev} GROUP BY word
)
SELECT s.source,
  CAST(SUM(s.c * p.n_tok) AS BIGINT) AS total_tokens,
  CAST(SUM(s.c * length(s.word)) AS BIGINT) AS total_chars,
  FLOOR(CAST(SUM(s.c * length(s.word)) AS DOUBLE)
        / CAST(SUM(s.c * p.n_tok) AS DOUBLE) * 1000000 + 0.5) / 1000000
    AS chars_per_token
FROM words_src s JOIN per_word p USING (word)
GROUP BY s.source
ORDER BY s.source
"""
    )


BPE_SEGMENT_ORACLE = _bpe_segment_oracle()
