"""Training-data pipeline operators: the corpus-preparation stages a
large-scale LLM data pipeline runs between raw crawl and tokenizer —
quality gating, repetition/boilerplate analysis, contamination checks,
PII masking, chunking, packing, mix sampling, and embedding quantization.

Every operator is a pure DataFrame expression (JVM codegen, no Python
UDFs): map-only where possible, shuffle-bounded (one groupBy / one
equi-join) otherwise, so the identical plan runs over a 100 TB documents
table.  Each has a DuckDB oracle twin with bit-identical arithmetic
(same operand order, ``round_stable`` on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import bpe as B
from ..functions import contamination as C
from ..functions import sketch as SK
from ..functions import text as T
from ..session import local_frame
from ._bpe_apply_oracle import BPE_APPLY_SQL
from ._bpe_oracle import BPE_ROUNDS_SQL
from ..sources.tables import (
    DUCK_DOC_SAMPLE_WHERE_FIXED_SIZE,
    load_table,
    sample_documents_fixed_size,
)
from .spec import QuerySpec

# DuckDB fragment: distinct k-token shingles from pre-split words `w`.
def _duck_shingles(k: int) -> str:
    join = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(k))
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(w) - {k - 1}, 0)), i -> {join}))"
    )


# --- repetition analysis ----------------------------------------------------

def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-5-gram fraction per document (the Gopher/MassiveText
    repetition signal): 1 - distinct/total 5-grams.  Map-only."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    n = F.size(w)
    total = n - 4  # number of (overlapping) 5-grams
    k = 5
    m = n - (k - 1)
    acc = F.slice(w, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(w, j + 1, m), lambda x, y: F.concat_ws(" ", x, y))
    distinct = F.size(F.array_distinct(acc))
    return (
        docs.filter(n >= 5)
        .select(
            "doc_id",
            total.cast("bigint").alias("total_5grams"),
            distinct.cast("bigint").alias("distinct_5grams"),
            T.round_stable(1.0 - distinct / total, 4).alias("rep_frac"),
        )
        .orderBy("doc_id")
    )


DOC_REPETITION_SQL = """
SELECT doc_id,
       CAST(len(w) - 4 AS BIGINT) AS total_5grams,
       CAST(len(list_distinct(g)) AS BIGINT) AS distinct_5grams,
       ROUND(1.0 - len(list_distinct(g)) / (len(w) - 4) - 0.000000001, 4) + 0.0
           AS rep_frac
FROM (
  SELECT doc_id, w,
         list_transform(generate_series(1, len(w) - 4),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x
  WHERE len(w) >= 5
) d
ORDER BY doc_id
"""


# --- quality gating ---------------------------------------------------------

def gopher_gate_flags(docs: DataFrame) -> DataFrame:
    """Per-document Gopher rule flags (word count, mean word length,
    stopword density, lexical diversity, full gate) as 0/1 columns.
    Pure column expressions — map-only, so the identical projection runs
    over a batch scan or a streaming micro-batch."""
    w = T.tokens("text")
    wc = F.size(w)
    # text is single-space separated: total chars = sum(len) + (wc - 1)
    mwl = (F.length("text") - (wc - 1)) / wc
    stop = F.size(F.filter(w, lambda t: t.isin(*T.STOPWORDS))) / wc
    diversity = F.size(F.array_distinct(w)) / wc
    r_wc = (wc >= 10) & (wc <= 100000)
    r_mwl = (mwl >= 3.0) & (mwl <= 10.0)
    r_stop = stop >= 0.02
    r_div = diversity >= 0.2
    return docs.select(
        "lang",
        r_wc.cast("int").alias("p_wc"),
        r_mwl.cast("int").alias("p_mwl"),
        r_stop.cast("int").alias("p_stop"),
        r_div.cast("int").alias("p_div"),
        (r_wc & r_mwl & r_stop & r_div).cast("int").alias("p_all"),
    )


def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gate, aggregated per language: how many docs pass
    each rule (word count, mean word length, stopword density, lexical
    diversity) and the full gate.  Map-only + one partial-agg groupBy."""
    flags = gopher_gate_flags(load_table(spark, sf_dir, "documents"))
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("p_wc").alias("pass_word_count"),
            F.sum("p_mwl").alias("pass_mean_word_len"),
            F.sum("p_stop").alias("pass_stopword"),
            F.sum("p_div").alias("pass_diversity"),
            F.sum("p_all").alias("pass_all"),
        )
        .orderBy("lang")
    )


GOPHER_GATE_SQL = """
SELECT lang,
       COUNT(*) AS doc_count,
       CAST(SUM(CASE WHEN wc BETWEEN 10 AND 100000 THEN 1 ELSE 0 END) AS BIGINT) AS pass_word_count,
       CAST(SUM(CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS pass_mean_word_len,
       CAST(SUM(CASE WHEN stop >= 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword,
       CAST(SUM(CASE WHEN div >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_diversity,
       CAST(SUM(CASE WHEN wc BETWEEN 10 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
                 AND stop >= 0.02 AND div >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
FROM (
  SELECT lang, len(w) AS wc,
         (length(text) - (len(w) - 1)) / len(w) AS mwl,
         len(list_filter(w, x -> x IN ('the', 'a'))) / len(w) AS stop,
         len(list_distinct(w)) / len(w) AS div
  FROM (SELECT lang, text, string_split(text, ' ') AS w FROM documents) x
) d
GROUP BY lang ORDER BY lang
"""


# --- PII masking ------------------------------------------------------------

def pii_digit_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII-style masking over the customer table: digits in
    the identifier are starred except the last 3 (the card-number /
    phone-tail masking shape), plus a digit census.  Map-only — the same
    expression redacts a 100 TB column scan with zero shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    ln = F.length(name)
    masked = F.concat(
        F.regexp_replace(F.substring(name, 1, ln - 3), "[0-9]", "*"),
        F.substring(name, ln - 2, 3),
    )
    n_digits = ln - F.length(F.regexp_replace(name, "[0-9]", ""))
    return (
        cust.filter(F.col("c_custkey") < 100)
        .select(
            "c_custkey",
            masked.alias("masked_name"),
            n_digits.cast("bigint").alias("n_digits"),
        )
        .orderBy("c_custkey")
    )


PII_MASKING_SQL = """
SELECT c_custkey,
       concat(regexp_replace(substr(c_name, 1, length(c_name) - 3), '[0-9]', '*', 'g'),
              substr(c_name, length(c_name) - 2, 3)) AS masked_name,
       CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT)
           AS n_digits
FROM customer WHERE c_custkey < 100 ORDER BY c_custkey
"""


# --- benchmark contamination ------------------------------------------------

def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination scan: fraction of a corpus document's
    distinct bigrams that also appear in a held-out benchmark document
    (here: every 50th doc).  Both sides shingle-hash to 8-byte longs and
    meet in a shuffled hash join on the hash key — never a broadcast,
    because this query's "benchmark" is carved out of the corpus itself
    and grows with it (and the static planner's post-explode size
    estimate undershoots).  A genuinely bounded benchmark set (fixed
    eval suites) goes through the library form with
    ``broadcast_benchmark=True`` instead (`functions/contamination.py`)."""
    docs = load_table(spark, sf_dir, "documents")
    res = C.ngram_contamination(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("bench_id"), "text"
        ),
        k=2,
        min_overlap=0.2,
    )
    return res.orderBy(F.desc("overlap_frac"), "doc_id", "bench_id")


CONTAMINATION_SQL = f"""
WITH d AS (
  SELECT doc_id, {_duck_shingles(2)} AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x
),
bench AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM d WHERE doc_id % 50 = 0),
corp AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM d WHERE doc_id % 50 <> 0)
SELECT doc_id, bench_id,
       COUNT(*) AS matching_ngrams,
       CAST(ANY_VALUE(n) AS BIGINT) AS doc_ngrams,
       ROUND(COUNT(*) / ANY_VALUE(n) - 0.000000001, 4) + 0.0 AS overlap_frac
FROM corp JOIN bench ON corp.s = bench.s
GROUP BY doc_id, bench_id
HAVING COUNT(*) >= 0.2 * ANY_VALUE(n)
ORDER BY overlap_frac DESC, doc_id, bench_id
"""


# --- chunking ---------------------------------------------------------------

def token_window_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (context-length prep): 40-token
    chunks, stride 30, each fingerprinted.  explode(sequence) + slice —
    one narrow explode, no shuffle; chunk rows inherit the scan's
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    wc = F.size(w)
    size, stride = 40, 30
    n_chunks = F.lit(1) + F.floor(F.greatest(wc - size, F.lit(0)) / stride)
    chunked = docs.select(
        "doc_id",
        w.alias("w"),
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.slice("w", F.col("chunk_idx") * stride + 1, size).alias("cw"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.size("cw").cast("bigint").alias("chunk_tokens"),
        F.md5(F.array_join("cw", " ").cast("binary")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


CHUNKING_SQL = """
SELECT doc_id, chunk_idx,
       CAST(len(cw) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM (
  SELECT doc_id, i AS chunk_idx,
         list_slice(w, i * 30 + 1, i * 30 + 40) AS cw
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x,
       LATERAL unnest(generate_series(0,
           CAST(floor(greatest(len(w) - 40, 0) / 30) AS BIGINT))) AS t(i)
) c
ORDER BY doc_id, chunk_idx
"""


# --- mix sampling -----------------------------------------------------------

def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based mix sampling: downsample English to ~50%
    while keeping other languages, by comparing an md5 prefix of the doc
    id against a per-language threshold — reproducible across engines and
    runs, no RNG state, embarrassingly parallel (the standard trick for
    re-weighting domain mixes at corpus scale)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = F.when(F.col("lang") == "en", F.lit("7f")).otherwise(F.lit("ff"))
    kept = (bucket <= thresh).cast("int")
    tc = T.token_count("text")
    return (
        docs.select("lang", kept.alias("kept"), tc.alias("tc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum("kept").alias("kept_docs"),
            F.sum("tc").cast("bigint").alias("total_tokens"),
            F.sum(F.col("kept") * F.col("tc")).cast("bigint").alias("kept_tokens"),
        )
        .orderBy("lang")
    )


DOMAIN_MIX_SQL = """
SELECT lang,
       COUNT(*) AS total_docs,
       CAST(SUM(kept) AS BIGINT) AS kept_docs,
       CAST(SUM(tc) AS BIGINT) AS total_tokens,
       CAST(SUM(kept * tc) AS BIGINT) AS kept_tokens
FROM (
  SELECT lang,
         CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2)
                   <= (CASE WHEN lang = 'en' THEN '7f' ELSE 'ff' END)
              THEN 1 ELSE 0 END AS kept,
         len(string_split(text, ' ')) AS tc
  FROM documents
) d
GROUP BY lang ORDER BY lang
"""


# --- normalization-aware dedup ---------------------------------------------

def normalized_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER text normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) vs raw exact dedup, per
    language — the canonicalization step real crawl dedup runs first,
    since trivial casing/punctuation edits defeat raw-md5 dedup.
    Map-only normalize + two partial-agg distinct counts; the identical
    plan runs at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select("lang", F.col("text"), norm.alias("norm"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("text").alias("distinct_raw"),
            F.count_distinct("norm").alias("distinct_normalized"),
        )
        .orderBy("lang")
    )


NORMALIZED_DEDUP_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS distinct_raw,
       CAST(COUNT(DISTINCT trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT)
           AS distinct_normalized
FROM documents GROUP BY lang ORDER BY lang
"""


# --- length distribution ----------------------------------------------------

def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated token-count percentiles (p50/p90/p99) per
    language — the corpus length-distribution report that drives chunk
    and context-window sizing.  Spark ``percentile`` is the exact
    (sort-based) aggregate, matching DuckDB ``quantile_cont``; for 100 TB
    dashboards swap in ``percentile_approx`` (one pass, mergeable
    sketches) — kept exact here so the oracle is bit-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    tc = T.token_count("text").cast("double")
    base = docs.select("lang", tc.alias("tc"))
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            T.round_stable(F.expr("percentile(tc, 0.5)"), 2).alias("p50_tokens"),
            T.round_stable(F.expr("percentile(tc, 0.9)"), 2).alias("p90_tokens"),
            T.round_stable(F.expr("percentile(tc, 0.99)"), 2).alias("p99_tokens"),
        )
        .orderBy("lang")
    )


DOC_LENGTH_PCTL_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       ROUND(quantile_cont(tc, 0.5) - 0.000000001, 2) + 0.0 AS p50_tokens,
       ROUND(quantile_cont(tc, 0.9) - 0.000000001, 2) + 0.0 AS p90_tokens,
       ROUND(quantile_cont(tc, 0.99) - 0.000000001, 2) + 0.0 AS p99_tokens
FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc
      FROM documents) d
GROUP BY lang ORDER BY lang
"""


# --- distribution drift (PSI) ----------------------------------------------

# PSI term, identical literal text in both engines (the _EWMA_NUM/_DEN
# sharing pattern): one definition so the clamp can never drift between
# the Spark expression and the oracle SQL.
_PSI_TERM = (
    "(GREATEST(COALESCE(sc, 0.0) / st, 0.000001)"
    " - GREATEST(cc / ct, 0.000001))"
    " * LN(GREATEST(COALESCE(sc, 0.0) / st, 0.000001)"
    " / GREATEST(cc / ct, 0.000001))"
)


def source_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution against the corpus baseline — the standard
    covariate-shift gauge (credit-scoring lineage; PSI < 0.1 stable,
    0.1–0.25 moderate, > 0.25 major shift).  Bins are the corpus's own
    n_chars deciles, so every source is scored on a common yardstick;
    empty bins take the standard 1e-6 clamp (the 0·ln0 guard).
    Complements ``source_token_divergence`` (JS over token mix): PSI
    watches the LENGTH distribution, the signal that catches truncation
    bugs, boilerplate floods, and chunking regressions per source.

    Scale shape: decile edges are one exact-percentile aggregate
    (sketchable at 100 TB via percentile_approx); binning is map-side
    arithmetic against the broadcast 9-edge row; ONE counting shuffle
    on (source, bin); the scaffold join and PSI fold run on the bounded
    sources x 10 relation.  Oracle: identical bin/clamp/term text; edges
    rounded to 4 dp in BOTH engines so integer n_chars never straddles a
    last-ulp interpolation difference."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE percentile buffer for all nine edges (the array form shares a
    # single value-count map; nine scalar percentile() expressions each
    # keep and merge their own copy of the distinct-length map)
    qs = ", ".join(f"0.{k}D" for k in range(1, 10))
    edges = (
        docs.selectExpr("CAST(n_chars AS DOUBLE) AS nc")
        .selectExpr(f"percentile(nc, array({qs})) AS p")
        .selectExpr(
            *[
                f"ROUND(element_at(p, {k}) - 0.000000001, 4) + 0.0 AS e{k}"
                for k in range(1, 10)
            ]
        )
    )
    bin_expr = "1 + " + " + ".join(
        f"(CASE WHEN CAST(n_chars AS DOUBLE) > e{k} THEN 1 ELSE 0 END)"
        for k in range(1, 10)
    )
    binned = docs.crossJoin(F.broadcast(edges)).selectExpr(
        "source", f"CAST(({bin_expr}) AS INT) AS bin"
    )
    src_bin = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("double").alias("sc")
    )
    src_tot = src_bin.groupBy("source").agg(F.sum("sc").alias("st"))
    cor_bin = src_bin.groupBy("bin").agg(F.sum("sc").alias("cc"))
    cor_tot = cor_bin.agg(F.sum("cc").alias("ct"))
    scaffold = src_tot.crossJoin(
        F.broadcast(
            binned.sparkSession.range(1, 11).selectExpr("CAST(id AS INT) AS bin")
        )
    )
    contrib = (
        scaffold.join(src_bin, ["source", "bin"], "left")
        .join(F.broadcast(cor_bin), "bin")
        .crossJoin(F.broadcast(cor_tot))
        .selectExpr("source", "st", f"{_PSI_TERM} AS contrib")
    )
    return (
        contrib.groupBy("source")
        .agg(
            F.max("st").cast("bigint").alias("n_docs"),
            T.round_stable(F.sum("contrib"), 6).alias("psi"),
            T.round_stable(F.max("contrib"), 6).alias("max_bin_contrib"),
        )
        .orderBy("source")
    )


SOURCE_PSI_SQL = f"""
WITH edges AS (
  SELECT {", ".join(
      f"ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.{k})"
      f" - 0.000000001, 4) + 0.0 AS e{k}" for k in range(1, 10))}
  FROM documents
), binned AS (
  SELECT source,
         CAST((1 + {" + ".join(
             f"(CASE WHEN CAST(n_chars AS DOUBLE) > e{k} THEN 1 ELSE 0 END)"
             for k in range(1, 10))}) AS INT) AS bin
  FROM documents CROSS JOIN edges
), src_bin AS (
  SELECT source, bin, CAST(COUNT(*) AS DOUBLE) AS sc
  FROM binned GROUP BY source, bin
), src_tot AS (
  SELECT source, SUM(sc) AS st FROM src_bin GROUP BY source
), cor_bin AS (
  SELECT bin, SUM(sc) AS cc FROM src_bin GROUP BY bin
), cor_tot AS (SELECT SUM(cc) AS ct FROM cor_bin),
scaffold AS (
  SELECT s.source, s.st, g.bin
  FROM src_tot s CROSS JOIN (SELECT UNNEST(generate_series(1, 10)) AS bin) g
), contrib AS (
  SELECT sc_f.source, sc_f.st, {_PSI_TERM} AS contrib
  FROM (SELECT scaffold.source, scaffold.st, scaffold.bin, src_bin.sc
        FROM scaffold LEFT JOIN src_bin
          ON scaffold.source = src_bin.source
         AND scaffold.bin = src_bin.bin) sc_f
  JOIN cor_bin ON sc_f.bin = cor_bin.bin
  CROSS JOIN cor_tot
)
SELECT source, CAST(MAX(st) AS BIGINT) AS n_docs,
       ROUND(SUM(contrib) - 0.000000001, 6) + 0.0 AS psi,
       ROUND(MAX(contrib) - 0.000000001, 6) + 0.0 AS max_bin_contrib
FROM contrib GROUP BY source ORDER BY source
"""


# --- mix rebalancing --------------------------------------------------------

def mix_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-rate planning for a target mix: given per-language token
    inventories and a uniform target share of a 100k-token budget,
    compute each language's keep-rate (capped at 1 — you can't upsample
    by dropping) and the tokens the plan actually yields.  The planning
    output a mix-building pipeline feeds into deterministic hash
    sampling (``domain_mix_sample``).  One partial-agg shuffle + a
    broadcast single-row total; pure integer/rounded arithmetic."""
    budget = 100_000
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(
        F.sum(T.token_count("text")).cast("bigint").alias("tokens")
    )
    n_langs = per_lang.agg(F.count(F.lit(1)).alias("n_langs"))
    rate = F.least(
        F.lit(1.0), (F.lit(budget) / F.col("n_langs")) / F.col("tokens")
    )
    return (
        per_lang.crossJoin(F.broadcast(n_langs))
        .select(
            "lang",
            "tokens",
            T.round_stable(rate, 6).alias("keep_rate"),
            F.floor(T.round_stable(rate, 6) * F.col("tokens"))
            .cast("bigint")
            .alias("planned_tokens"),
        )
        .orderBy("lang")
    )


MIX_REBALANCE_SQL = """
WITH per_lang AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang
), n AS (SELECT COUNT(*) AS n_langs FROM per_lang)
SELECT lang, tokens,
       ROUND(least(1.0, (100000.0 / n_langs) / tokens) - 0.000000001, 6) + 0.0
           AS keep_rate,
       CAST(floor((ROUND(least(1.0, (100000.0 / n_langs) / tokens)
                         - 0.000000001, 6) + 0.0) * tokens) AS BIGINT)
           AS planned_tokens
FROM per_lang, n
ORDER BY lang
"""


# --- boilerplate detection --------------------------------------------------

def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent n-grams (C4-style boilerplate detection): the 20
    trigrams appearing in the most distinct documents.  explode + one
    counting groupBy (map-side partial agg) + TakeOrdered — the classic
    frequent-pattern sweep that stays one shuffle at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(T.shingles("text", k=3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("ngram"))
        .limit(20)
    )


BOILERPLATE_SQL = f"""
SELECT ngram, COUNT(*) AS doc_count
FROM (
  SELECT doc_id, unnest({_duck_shingles(3)}) AS ngram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x
) g
GROUP BY ngram ORDER BY doc_count DESC, ngram ASC LIMIT 20
"""


# --- sequence packing -------------------------------------------------------

def sequence_packing(
    spark: SparkSession, sf_dir: str, *, shards: int = 1, bin_size: int = 512
) -> DataFrame:
    """Greedy contiguous sequence packing: docs (in doc_id order, per
    language) are packed into ``bin_size``-token training bins by
    cumulative token count; reports per-bin document count, token total
    and fill ratio.

    The running-sum window partitions by ``(lang, shard)`` where
    ``shard = xxhash64(doc_id) mod shards`` — the window key cardinality
    scales with the shard parameter, so a 100 TB corpus packs through
    ``langs x shards`` parallel window tasks instead of funneling through
    ~5 language partitions.  Bins are renumbered contiguous per language
    via a per-(lang, shard) offset from one tiny broadcast agg, so bin
    ids stay globally dense.  ``shards=1`` (the oracle setting) makes
    shard ≡ 0 and offset ≡ 0: bit-identical to the unsharded global
    greedy pack; with shards>1 packing is greedy *within* shards — the
    standard order-relaxation distributed packers make."""
    docs = load_table(spark, sf_dir, "documents")
    tc = T.token_count("text")
    d = docs.select("lang", "doc_id", tc.alias("tc")).withColumn(
        "shard", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(shards))
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    binned = d.withColumn(
        "local_bin", F.floor((F.sum("tc").over(w) - F.col("tc")) / bin_size)
    )
    if shards == 1:
        # Degenerate single-shard case: every offset is identically 0 —
        # skip the renumbering join rather than pay two stages for a
        # no-op.  (shard ≡ 0, so the window itself already matches the
        # unsharded global greedy pack bit-for-bit.)
        binned = binned.withColumn("bin", F.col("local_bin").cast("bigint"))
    else:
        # Dense global bin ids: shard s's bins start after all lower
        # shards' bins within the language.  langs x shards rows —
        # broadcast-joined.
        shard_bins = binned.groupBy("lang", "shard").agg(
            (F.max("local_bin") + 1).alias("n_bins")
        )
        w_off = Window.partitionBy("lang").orderBy("shard")
        offsets = shard_bins.withColumn(
            "offset", F.sum("n_bins").over(w_off) - F.col("n_bins")
        )
        binned = binned.join(
            F.broadcast(offsets.select("lang", "shard", "offset")),
            ["lang", "shard"],
        ).withColumn("bin", (F.col("local_bin") + F.col("offset")).cast("bigint"))
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("tc").cast("bigint").alias("bin_tokens"),
            T.round_stable(F.sum("tc") / float(bin_size), 4).alias("fill_ratio"),
        )
        .orderBy("lang", "bin")
    )


PACKING_SQL = """
SELECT lang, bin,
       COUNT(*) AS doc_count,
       CAST(SUM(tc) AS BIGINT) AS bin_tokens,
       ROUND(SUM(tc) / 512.0 - 0.000000001, 4) + 0.0 AS fill_ratio
FROM (
  SELECT lang, doc_id, tc,
         CAST(floor((SUM(tc) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - tc) / 512) AS BIGINT)
             AS bin
  FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS tc FROM documents) d
) b
GROUP BY lang, bin ORDER BY lang, bin
"""


_PACK_SIZES = (512, 1024, 2048, 4096)


def packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning table: the greedy contiguous pack of
    ``sequence_packing`` evaluated at 512/1024/2048/4096-token bins in
    ONE pass — per candidate context length, how many training bins the
    corpus needs, the capacity they reserve, the achieved fill ratio,
    and how many documents exceed the window outright (the truncation
    exposure).  This is the table read before fixing a model's context
    length: small windows overflow (fill > 1 means boundary-crossing
    documents would truncate), large windows strand capacity in each
    language's tail bin.

    Scale shape: the cumulative-token window runs ONCE (same per-lang
    key as sequence_packing — the shards knob there is the 100 TB
    parallelization of this same pass); the 4-way context sweep is a
    map-side explode of an already-windowed row, then two bounded
    aggregates (langs x sizes, then sizes).  Sweeping N candidate sizes
    costs one window pass, not N."""
    docs = load_table(spark, sf_dir, "documents")
    tc = T.token_count("text")
    w = Window.partitionBy("lang").orderBy("doc_id")
    d = (
        docs.select("lang", "doc_id", tc.alias("tc"))
        .withColumn("cum", F.sum("tc").over(w))
    )
    e = d.select(
        "lang",
        "tc",
        "cum",
        F.explode(F.array(*[F.lit(s) for s in _PACK_SIZES])).alias("ctx"),
    )
    per_lang = (
        e.select(
            "lang",
            "ctx",
            "tc",
            F.floor((F.col("cum") - F.col("tc")) / F.col("ctx")).alias("bin"),
        )
        .groupBy("ctx", "lang")
        .agg(
            (F.max("bin") + 1).alias("n_bins"),
            F.sum("tc").alias("tokens"),
            F.sum(
                F.when(F.col("tc") > F.col("ctx"), 1).otherwise(0)
            ).alias("oversize"),
        )
    )
    return (
        per_lang.groupBy("ctx")
        .agg(
            F.sum("n_bins").cast("bigint").alias("n_bins"),
            F.sum("tokens").cast("bigint").alias("total_tokens"),
            (F.sum("n_bins") * F.col("ctx")).cast("bigint").alias(
                "capacity_tokens"
            ),
            T.round_stable(
                F.sum("tokens") / (F.sum("n_bins") * F.col("ctx")), 4
            ).alias("fill_ratio"),
            F.sum("oversize").cast("bigint").alias("oversize_docs"),
        )
        .orderBy("ctx")
    )


PACKING_SWEEP_SQL = """
WITH d AS (
  SELECT lang, doc_id, tc,
         SUM(tc) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS tc
        FROM documents) x
), e AS (
  SELECT lang, tc, cum, ctx
  FROM d CROSS JOIN (SELECT UNNEST([512, 1024, 2048, 4096]) AS ctx) s
), per_lang AS (
  SELECT ctx, lang, MAX(CAST(FLOOR((cum - tc) / ctx) AS BIGINT)) + 1 AS n_bins,
         SUM(tc) AS tokens,
         SUM(CASE WHEN tc > ctx THEN 1 ELSE 0 END) AS oversize
  FROM e GROUP BY ctx, lang
)
SELECT ctx, CAST(SUM(n_bins) AS BIGINT) AS n_bins,
       CAST(SUM(tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_bins) * ctx AS BIGINT) AS capacity_tokens,
       ROUND(CAST(SUM(tokens) AS DOUBLE) / (SUM(n_bins) * ctx)
             - 0.000000001, 4) + 0.0 AS fill_ratio,
       CAST(SUM(oversize) AS BIGINT) AS oversize_docs
FROM per_lang GROUP BY ctx ORDER BY ctx
"""


def strip_boilerplate_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL — the transform, not the report: every token
    covered by an 8-token window that appears in >= 3 distinct documents
    is stripped, and the cleaned text is reconstructed in token order.
    This is the cleaning pass ``boilerplate_ngrams`` /
    ``boilerplate_filter_report`` only diagnose: headers, footers and
    license blocks shared across documents come out; each document's
    unique prose stays.  Value-gated END TO END: the oracle rebuilds the
    cleaned text independently and the md5 of the reconstruction must
    match byte-for-byte, so window positions, coverage intervals, token
    order and joining are all pinned — not just the counts.

    Scale shape: positional windows are map-side (n >= 8 guard — Spark's
    sequence counts DOWN on an empty range); window df is ONE counting
    shuffle on the 8-byte window hash; coverage explodes matched windows
    into (doc, pos) and dedups; removal is a left-anti join on
    (doc, pos); reconstruction sorts each doc's kept tokens inside one
    bounded-by-document-length aggregate.  The window identity is
    engine-internal (xxhash64 here, the window string in DuckDB) — only
    the reconstructed TEXT crosses engines.  A 64-bit collision between
    DISTINCT windows could merge their df counts past the df >= 3 gate
    (probability ~n_windows²/2⁶⁴ — negligible at this corpus); if a
    deployment's window count approaches 2³², pair the xxhash64 with a
    second independent hash (or the window's token-length) as the df
    key to push the bound back down.  Reports the 100 most-stripped
    documents (deterministic tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    # Window identity WITHOUT per-window string materialization (r12
    # allocation-lean rework, docs/SCALING.md): xxhash64 is VARIADIC —
    # an 8-argument call folds every token's bytes into one accumulator
    # with zero intermediate allocation, vs the previous
    # xxhash64(concat_ws(' ', slice(w, i, 8))) which built a ~50-char
    # string per (doc, pos).  (A 7-pass zip_with chain over pre-hashed
    # tokens was measured SLOWER than either — higher-order lambdas are
    # interpreted per element; see docs/SCALING.md r12.)  Same equality
    # semantics — window identity is engine-internal, only reconstructed
    # text crosses to the oracle — and same 1-based positions.
    win8 = ", ".join(f"w[i + {j} - 1]" for j in range(8))
    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform("
                "CASE WHEN size(w) >= 8 THEN sequence(1, size(w) - 7)"
                " ELSE array() END,"
                f" i -> struct(i AS pos, xxhash64({win8}) AS wh))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.wh").alias("wh"))
    boiler = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter("df >= 3")
        .select("wh")
    )
    covered = (
        wins.join(boiler.hint("shuffle_hash"), "wh")
        .select(
            "doc_id", F.explode(F.expr("sequence(pos, pos + 7)")).alias("pos")
        )
        .distinct()
    )
    tok_rows = (
        toks.select("doc_id", F.posexplode("w"))
        .toDF("doc_id", "p0", "tok")
        .selectExpr("doc_id", "p0 + 1 AS pos", "tok")
    )
    kept = tok_rows.join(covered, ["doc_id", "pos"], "left_anti")
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).cast("binary")
        ).alias("cleaned_md5"),
    )
    base = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    return (
        base.join(cleaned, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "COALESCE(kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens",
            "n_tokens - COALESCE(kept_tokens, CAST(0 AS BIGINT))"
            " AS removed_tokens",
            "COALESCE(cleaned_md5, md5(CAST('' AS BINARY))) AS cleaned_md5",
        )
        .filter("removed_tokens > 0")
        .orderBy(F.desc("removed_tokens"), "doc_id")
        .limit(100)
    )


_DUCK_WIN8 = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(8))

STRIP_BOILERPLATE_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), wins AS (
  SELECT doc_id, i AS pos, {_DUCK_WIN8} AS win
  FROM (SELECT doc_id, w,
               UNNEST(CASE WHEN len(w) >= 8
                      THEN generate_series(1, len(w) - 7)
                      ELSE CAST([] AS BIGINT[]) END) AS i
        FROM t)
), boiler AS (
  SELECT win FROM (SELECT win, COUNT(DISTINCT doc_id) AS df
                   FROM wins GROUP BY win) b
  WHERE df >= 3
), covered AS (
  SELECT DISTINCT doc_id, cpos
  FROM (SELECT wins.doc_id,
               UNNEST(generate_series(wins.pos, wins.pos + 7)) AS cpos
        FROM wins JOIN boiler USING (win)) c
), tok AS (
  SELECT doc_id, UNNEST(w) AS tok, generate_subscripts(w, 1) AS pos FROM t
), kept AS (
  SELECT tok.doc_id, tok.tok, tok.pos
  FROM tok LEFT JOIN covered
    ON tok.doc_id = covered.doc_id AND tok.pos = covered.cpos
  WHERE covered.cpos IS NULL
), cleaned AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
), base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT base.doc_id, n_tokens,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       n_tokens - COALESCE(kept_tokens, 0) AS removed_tokens,
       COALESCE(cleaned_md5, md5('')) AS cleaned_md5
FROM base LEFT JOIN cleaned ON base.doc_id = cleaned.doc_id
WHERE n_tokens - COALESCE(kept_tokens, 0) > 0
ORDER BY removed_tokens DESC, base.doc_id LIMIT 100
"""


# --- retention funnel -------------------------------------------------------

def corpus_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus funnel every training pipeline reports:
    per language, documents surviving each stage — raw → quality gate →
    exact dedup (canonical per md5 fingerprint among gate passers) —
    plus the token count actually retained.

    Shape: the gate is map-only; canonical selection is one
    (lang-independent) min-aggregation on the 16-byte fingerprint joined
    back by fingerprint — both partial-aggregable hash shuffles; the
    funnel report is a tiny final agg.  No window, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    wc = F.size(w)
    mwl = (F.length("text") - (wc - 1)) / wc
    stop = F.size(F.filter(w, lambda t: t.isin(*T.STOPWORDS))) / wc
    diversity = F.size(F.array_distinct(w)) / wc
    gate = (
        (wc >= 10) & (wc <= 100000)
        & (mwl >= 3.0) & (mwl <= 10.0)
        & (stop >= 0.02) & (diversity >= 0.2)
    )
    staged = docs.select(
        "lang",
        "doc_id",
        wc.cast("bigint").alias("tc"),
        gate.alias("passed"),
        F.md5(F.col("text").cast("binary")).alias("fp"),
    )
    canon = (
        staged.filter("passed")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_id"))
    )
    # Alias both sides so the fingerprint predicate binds to distinct
    # attributes — `canon` derives from `staged`, and without aliases
    # Spark resolves `staged.fp == canon.fp` to the same attribute
    # (a trivially-true predicate, correct only by accident).
    s, c = staged.alias("s"), canon.alias("c")
    retained = (
        s.filter("passed")
        .join(
            c,
            (F.col("s.fp") == F.col("c.fp"))
            & (F.col("s.doc_id") == F.col("c.canonical_id")),
        )
        .select("s.lang", "s.tc")
    )
    per_lang_raw = staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("passed").cast("int")).alias("n_gated"),
    )
    per_lang_kept = retained.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_retained"),
        F.sum("tc").cast("bigint").alias("retained_tokens"),
    )
    return (
        per_lang_raw.join(per_lang_kept, "lang", "left")
        .select(
            "lang",
            "n_raw",
            "n_gated",
            F.coalesce("n_retained", F.lit(0)).cast("bigint").alias("n_retained"),
            F.coalesce("retained_tokens", F.lit(0)).cast("bigint").alias("retained_tokens"),
        )
        .orderBy("lang")
    )


RETENTION_FUNNEL_SQL = """
WITH staged AS (
  SELECT lang, doc_id, CAST(len(w) AS BIGINT) AS tc, md5(text) AS fp,
         (len(w) BETWEEN 10 AND 100000
          AND (length(text) - (len(w) - 1)) / len(w) BETWEEN 3.0 AND 10.0
          AND len(list_filter(w, x -> x IN ('the', 'a'))) / len(w) >= 0.02
          AND len(list_distinct(w)) / len(w) >= 0.2) AS passed
  FROM (SELECT lang, doc_id, text, string_split(text, ' ') AS w FROM documents) x
), canon AS (
  SELECT fp, MIN(doc_id) AS canonical_id FROM staged WHERE passed GROUP BY fp
), kept AS (
  SELECT s.lang, COUNT(*) AS n_retained, CAST(SUM(s.tc) AS BIGINT) AS retained_tokens
  FROM staged s JOIN canon c ON s.fp = c.fp AND s.doc_id = c.canonical_id
  WHERE s.passed GROUP BY s.lang
)
SELECT r.lang, r.n_raw, r.n_gated,
       CAST(COALESCE(k.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(COALESCE(k.retained_tokens, 0) AS BIGINT) AS retained_tokens
FROM (
  SELECT lang, COUNT(*) AS n_raw,
         CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_gated
  FROM staged GROUP BY lang
) r LEFT JOIN kept k ON r.lang = k.lang
ORDER BY r.lang
"""


# --- unigram LM quality scoring ---------------------------------------------

def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train a per-language unigram model
    on the corpus itself (one counting shuffle), score each document by
    its average per-token cross-entropy in bits, and report the
    per-language histogram over integer-bit buckets (the head/middle/
    tail split CCNet derives from exactly this score).

    Scale shape: token explode → partial-agg count shuffle for the model;
    scoring joins tokens to the model on (lang, token) with an explicit
    shuffle_hash hint — the vocabulary is corpus-derived and must never
    be broadcast, but AQE's runtime conversion was broadcasting the
    40 MiB materialized model at sf0.1 (docs/ROUND11.md broadcast sweep);
    per-doc agg shuffles on (lang, doc_id); the final histogram is a
    tiny agg.  No window over a low-cardinality key."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", "doc_id", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    totals = counts.groupBy("lang").agg(F.sum("c").alias("n"))  # ~#langs rows
    probs = counts.join(F.broadcast(totals), "lang").select(
        "lang", "w", F.log2(F.col("c") / F.col("n")).alias("logp")
    )
    doc_bits = (
        tok.join(probs.hint("shuffle_hash"), ["lang", "w"])
        .groupBy("lang", "doc_id")
        .agg(T.round_stable(-F.avg("logp"), 4).alias("bits"))
    )
    return (
        doc_bits.groupBy(
            "lang", F.floor("bits").cast("bigint").alias("bits_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            T.round_stable(F.avg("bits"), 4).alias("avg_bits"),
        )
        .orderBy("lang", "bits_bucket")
    )


UNIGRAM_QUALITY_SQL = """
WITH tok AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT lang, w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY lang, w
), totals AS (
  SELECT lang, SUM(c) AS n FROM counts GROUP BY lang
), probs AS (
  SELECT counts.lang AS lang, w, log2(c / n) AS logp
  FROM counts JOIN totals ON counts.lang = totals.lang
), doc_bits AS (
  SELECT t.lang, t.doc_id,
         ROUND(-AVG(p.logp) - 0.000000001, 4) + 0.0 AS bits
  FROM tok t JOIN probs p ON t.lang = p.lang AND t.w = p.w
  GROUP BY t.lang, t.doc_id
)
SELECT lang, CAST(floor(bits) AS BIGINT) AS bits_bucket,
       COUNT(*) AS doc_count,
       ROUND(AVG(bits) - 0.000000001, 4) + 0.0 AS avg_bits
FROM doc_bits GROUP BY lang, bits_bucket ORDER BY lang, bits_bucket
"""


# --- embedding quantization -------------------------------------------------

def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column with per-vector
    max-abs scaling, reporting reconstruction RMSE per label — the
    compression-loss audit run before shipping a quantized ANN index.
    Pure array expressions (aggregate/transform), map-only + one tiny
    groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    q = F.transform(v, lambda x: F.round(x * 127.0 / scale - T.ROUND_EPS, 0))
    err = F.zip_with(v, q, lambda x, qx: F.pow(x - qx * scale / 127.0, F.lit(2.0)))
    rmse = F.sqrt(F.aggregate(err, F.lit(0.0), lambda a, b: a + b) / F.size("embedding"))
    return (
        emb.select("label", rmse.alias("rmse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("vec_count"),
            T.round_stable(F.avg("rmse") * 1000.0, 4).alias("avg_rmse_x1000"),
            T.round_stable(F.max("rmse") * 1000.0, 4).alias("max_rmse_x1000"),
        )
        .orderBy("label")
    )


QUANTIZATION_SQL = """
SELECT label,
       COUNT(*) AS vec_count,
       ROUND(AVG(rmse) * 1000.0 - 0.000000001, 4) + 0.0 AS avg_rmse_x1000,
       ROUND(MAX(rmse) * 1000.0 - 0.000000001, 4) + 0.0 AS max_rmse_x1000
FROM (
  SELECT label,
         sqrt(list_sum(list_transform(
             list_zip(v, list_transform(v, x -> round(x * 127.0 / scale - 0.000000001, 0))),
             p -> (p[1] - p[2] * scale / 127.0) ** 2)) / len(v)) AS rmse
  FROM (
    SELECT label, CAST(embedding AS DOUBLE[]) AS v,
           list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS scale
    FROM embeddings
  ) e
) r
GROUP BY label ORDER BY label
"""


def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report — the per-domain signal CCNet/Dolma-style
    pipelines act on when deciding to keep, down-weight, or drop a whole
    source: document count, corpus-wide exact-duplicate rate, mean quality
    score, and token mass.

    Duplicates are detected on the LEAD-40-TOKEN prefix fingerprint
    (lead-passage dedup): templated/boilerplate-led documents share their
    opening passage even when tails diverge, which whole-document hashing
    misses entirely (this corpus has 0 exact but >0 lead-passage dups).

    Scale posture: quality/token exprs are map-only; duplicate attribution
    is one partial-aggregable shuffle on the 16-byte fingerprint plus a
    semi-join back on the same key (volume tracks true duplicate density);
    the report itself is one more partial-agg shuffle on ``source``."""
    docs = load_table(spark, sf_dir, "documents")
    lead = F.concat_ws(" ", F.slice(T.tokens("text"), 1, 40))
    scored = docs.select(
        "source",
        F.md5(lead.cast("binary")).alias("fp"),
        T.token_count("text").alias("tc"),
        T.quality_score("text").alias("qs"),
    )
    dup_fps = (
        scored.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("fp")
    )
    dups = (
        scored.join(dup_fps, "fp", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("dup_docs"))
    )
    totals = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tc").cast("bigint").alias("total_tokens"),
        T.round_stable(F.avg("qs"), 4).alias("avg_quality"),
    )
    dup_docs = F.coalesce(F.col("dup_docs"), F.lit(0).cast("long"))
    return (
        totals.join(dups, "source", "left")
        .select(
            "source",
            "n_docs",
            dup_docs.alias("dup_docs"),
            T.round_stable(dup_docs / F.col("n_docs"), 4).alias("dup_rate"),
            "avg_quality",
            "total_tokens",
        )
        .orderBy("source")
    )


SOURCE_CURATION_SQL = """
WITH d AS (
  SELECT source,
         md5(array_to_string(string_split(text, ' ')[1:40], ' ')) AS fp,
         len(string_split(text, ' ')) AS tc,
         len(list_distinct(string_split(text, ' '))) AS dt,
         len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS sc
  FROM documents
), q AS (
  SELECT source, fp, tc,
         ROUND(0.5 * (dt / tc)
               + 0.3 * least((sc / tc) * 10.0, 1.0)
               + 0.2 * least(tc / 100.0, 1.0) - 0.000000001, 4) + 0.0 AS qs
  FROM d
), dup_fp AS (
  SELECT fp FROM q GROUP BY fp HAVING COUNT(*) > 1
), flagged AS (
  SELECT source, COUNT(*) AS dup_docs FROM q
  WHERE fp IN (SELECT fp FROM dup_fp) GROUP BY source
), totals AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(tc) AS BIGINT) AS total_tokens,
         ROUND(AVG(qs) - 0.000000001, 4) + 0.0 AS avg_quality
  FROM q GROUP BY source
)
SELECT t.source, t.n_docs,
       COALESCE(f.dup_docs, 0) AS dup_docs,
       ROUND(COALESCE(f.dup_docs, 0) / t.n_docs - 0.000000001, 4) + 0.0 AS dup_rate,
       t.avg_quality, t.total_tokens
FROM totals t LEFT JOIN flagged f ON f.source = t.source
ORDER BY t.source
"""


def boilerplate_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate REMOVAL next to the detection query: a
    document whose distinct trigrams are >= 50% corpus-top-20 boilerplate
    trigrams is dropped; report per-language kept/dropped doc counts and
    the mean boilerplate fraction.

    Scale posture: one counting shuffle finds the top-20 relation, which
    is limit-bounded (20 rows at ANY corpus size) and therefore safely
    broadcast for the membership join — the bounded-broadcast case the
    plan guard distinguishes from corpus-proportional sides; per-doc and
    per-language aggs are partial-aggregable shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tri = docs.select(
        "doc_id", "lang", F.explode(T.shingles("text", k=3)).alias("ng")
    )
    top = (
        tri.groupBy("ng")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("ng"))
        .limit(20)
        .select("ng")
    )
    hits = (
        tri.join(F.broadcast(top), "ng")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    per_doc = (
        tri.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("total"))
        .join(hits, "doc_id", "left")
        .select(
            "lang",
            (F.coalesce(F.col("hits"), F.lit(0)) / F.col("total")).alias("frac"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(F.col("frac") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("dropped_docs"),
            T.round_stable(F.avg("frac"), 4).alias("avg_boilerplate_frac"),
        )
        .orderBy("lang")
    )


BOILERPLATE_FILTER_SQL = f"""
WITH tri AS (
  SELECT doc_id, lang, unnest({_duck_shingles(3)}) AS ng
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) x
), top AS (
  SELECT ng FROM tri GROUP BY ng
  ORDER BY COUNT(*) DESC, ng ASC LIMIT 20
), per_doc AS (
  SELECT t.doc_id, t.lang,
         COUNT(*) AS total,
         SUM(CASE WHEN t.ng IN (SELECT ng FROM top) THEN 1 ELSE 0 END) AS hits
  FROM tri t GROUP BY t.doc_id, t.lang
)
SELECT lang, COUNT(*) AS docs,
       CAST(SUM(CASE WHEN hits * 1.0 / total >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS dropped_docs,
       ROUND(AVG(hits * 1.0 / total) - 0.000000001, 4) + 0.0
           AS avg_boilerplate_frac
FROM per_doc GROUP BY lang ORDER BY lang
"""


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing curve: per language, the fraction of total token
    mass covered by the top-N most frequent tokens (N = 50, 200, 1000),
    with ties broken token-ascending — the number a vocabulary-size
    decision reads off directly.

    Scale posture: the only per-token work is ONE counting shuffle on
    (lang, token).  Ranking is NOT a window over the corpus-derived
    vocabulary (at 100 TB that is a 100M-row window keyed by ~#langs —
    one task per language): instead the vocab collapses to its
    count-DISTRIBUTION relation (lang, count, tokens_at_count,
    mass_at_count) — bounded by the number of distinct frequency values,
    O(sqrt(corpus)) by Zipf — and the cumulative window runs over THAT.
    All tokens sharing a frequency are interchangeable under the
    (count desc, token asc) rank, so a top-N cut inside a tie group
    contributes exactly (N - cum_before) * count — the per-token rank
    answer, recovered without ranking tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    dist = counts.groupBy("lang", "c").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum("c").cast("bigint").alias("mass"),
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dist.select(
        "lang",
        "c",
        "n_toks",
        "mass",
        F.coalesce(F.sum("n_toks").over(w_cum), F.lit(0)).alias("toks_before"),
        F.coalesce(F.sum("mass").over(w_cum), F.lit(0)).alias("mass_before"),
    )
    totals = dist.groupBy("lang").agg(F.sum("mass").alias("total_mass"))
    # per (lang, top_n): the tie group containing rank N (or the last
    # group when the vocab is smaller than N).  The N values fan out as
    # a literal-array explode — a map over the tiny distribution
    # relation, no join of any kind.
    j = cum.withColumn(
        "top_n", F.explode(F.array(F.lit(50), F.lit(200), F.lit(1000)))
    ).filter(F.col("toks_before") < F.col("top_n"))
    covered = (
        F.col("mass_before")
        + F.least(F.col("top_n") - F.col("toks_before"), F.col("n_toks"))
        * F.col("c")
    )
    per_group = j.select("lang", "top_n", covered.alias("cov"))
    # the covering group is the one with the LARGEST toks_before still
    # below N — i.e. max cov among qualifying groups (cum sums increase)
    best = per_group.groupBy("lang", "top_n").agg(F.max("cov").alias("covered_mass"))
    return (
        best.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            F.col("top_n").cast("bigint").alias("top_n"),
            F.col("covered_mass").cast("bigint").alias("covered_mass"),
            F.col("total_mass").cast("bigint").alias("total_mass"),
            T.round_stable(F.col("covered_mass") / F.col("total_mass"), 4).alias(
                "coverage"
            ),
        )
        .orderBy("lang", "top_n")
    )


VOCAB_COVERAGE_SQL = """
WITH counts AS (
  SELECT lang, w, COUNT(*) AS c
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
  GROUP BY lang, w
), ranked AS (
  SELECT lang, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) AS rnk
  FROM counts
), totals AS (
  SELECT lang, SUM(c) AS total_mass FROM counts GROUP BY lang
), ns AS (SELECT unnest([50, 200, 1000]) AS top_n)
SELECT r.lang, CAST(ns.top_n AS BIGINT) AS top_n,
       CAST(SUM(r.c) AS BIGINT) AS covered_mass,
       CAST(ANY_VALUE(t.total_mass) AS BIGINT) AS total_mass,
       ROUND(SUM(r.c) / ANY_VALUE(t.total_mass) - 0.000000001, 4) + 0.0
           AS coverage
FROM ranked r
JOIN totals t ON r.lang = t.lang
CROSS JOIN ns
WHERE r.rnk <= ns.top_n
GROUP BY r.lang, ns.top_n
ORDER BY r.lang, top_n
"""


def stratified_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-aware train/val/test split (~97.7/1.2/1.2):
    the split key is an md5 prefix of the document TEXT, not the id, so
    byte-identical duplicates always land in the same split — the
    standard guard against train/test leakage through duplicates.
    Reports per-(lang, split) doc and token mass plus the distinct
    fingerprint count (docs > distinct_fps ⇒ duplicates stayed
    split-coherent).

    Map-only assignment + one partial-agg shuffle; reproducible across
    engines and runs (no RNG state), embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    bucket = F.substring(fp, 1, 2)
    split = (
        F.when(bucket <= "f9", "train")
        .when(bucket <= "fc", "val")
        .otherwise("test")
    )
    tc = T.token_count("text")
    return (
        docs.select("lang", split.alias("split"), fp.alias("fp"), tc.alias("tc"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count_distinct("fp").alias("distinct_fps"),
            F.sum("tc").cast("bigint").alias("tokens"),
        )
        .orderBy("lang", "split")
    )


STRATIFIED_SPLIT_SQL = """
SELECT lang, split, COUNT(*) AS docs,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fps,
       CAST(SUM(tc) AS BIGINT) AS tokens
FROM (
  SELECT lang, md5(text) AS fp,
         CASE WHEN substr(md5(text), 1, 2) <= 'f9' THEN 'train'
              WHEN substr(md5(text), 1, 2) <= 'fc' THEN 'val'
              ELSE 'test' END AS split,
         len(string_split(text, ' ')) AS tc
  FROM documents
) d
GROUP BY lang, split ORDER BY lang, split
"""


def span_duplication_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact span duplication (the ExactSubstr signal of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at token-window granularity): for every document, the
    fraction of its distinct 8-token windows that also occur in at least
    one OTHER document, reported per language with the count of heavily
    duplicated documents (dup fraction >= 0.5) — the docs an
    exact-substring dedup pass would cut or trim.

    Scale posture: windows travel as 8-byte xxhash64 longs; the plan is
    explode → one counting shuffle on the span hash (map-side partial
    agg) → hash equi-join back on the same 8-byte key (co-partitioned
    with the count relation, never broadcast — span frequencies are
    corpus-derived) → per-doc partial agg → per-language partial agg.
    No window functions, no driver-side state; identical shape at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id", "lang", F.explode(T.shingle_hashes("text", k=8)).alias("span_h")
    )
    # shuffle_hash pinned: the span-frequency side is corpus-proportional,
    # but the static planner sees only the pre-explode scan size and would
    # broadcast it (same undershoot benchmark_contamination pins against).
    span_docs = (
        spans.groupBy("span_h").agg(F.count(F.lit(1)).alias("n_docs"))
        .hint("shuffle_hash")
    )
    per_doc = (
        spans.join(span_docs, "span_h")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("dup"),
        )
    )
    dup_frac = F.col("dup") / F.col("total")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("dup").cast("bigint").alias("dup_spans"),
            F.sum("total").cast("bigint").alias("total_spans"),
            T.round_stable(F.avg(dup_frac), 4).alias("avg_dup_frac"),
            F.sum(F.when(dup_frac >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("heavy_dup_docs"),
        )
        .orderBy("lang")
    )


SPAN_DUPLICATION_SQL = f"""
WITH spans AS (
  SELECT doc_id, lang, unnest({_duck_shingles(8)}) AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents) x
), span_docs AS (
  SELECT s, COUNT(*) AS n_docs FROM spans GROUP BY s
), per_doc AS (
  SELECT doc_id, lang, COUNT(*) AS total,
         SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS dup
  FROM spans JOIN span_docs USING (s)
  GROUP BY doc_id, lang
)
SELECT lang, COUNT(*) AS docs,
       CAST(SUM(dup) AS BIGINT) AS dup_spans,
       CAST(SUM(total) AS BIGINT) AS total_spans,
       ROUND(AVG(dup / total) - 0.000000001, 4) + 0.0 AS avg_dup_frac,
       CAST(SUM(CASE WHEN dup / total >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS heavy_dup_docs
FROM per_doc GROUP BY lang ORDER BY lang
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: for every pair of sources, the
    shared distinct-trigram count, Jaccard similarity, and per-side
    containment — the curation signal for "source B is a mirror/subset
    of source A, drop it" decisions (mirror detection across crawl
    snapshots and aggregator sites).

    Scale posture: one distinct shuffle on (source, 8-byte shingle hash),
    then a self equi-join on the hash key whose per-key fanout is capped
    at #sources² (sources are a bounded enum, so the join output is
    bounded by shingle-cardinality × a constant), then a partial-agg
    shuffle on the source pair.  The per-source totals relation is
    #sources rows — joined to the 190-row pair relation at the very end.
    """
    docs = load_table(spark, sf_dir, "documents")
    su = (
        docs.select("source", F.explode(T.shingle_hashes("text", k=3)).alias("h"))
        .distinct()
        # one shuffle on the join key materializes the distinct (source,
        # shingle) relation ONCE for all four consumers below (self-join
        # a/b + both per-source counts) — without it each consumer
        # re-runs the explode+distinct from the scan (4 scans in the
        # plan); with it they are ReusedExchange reads
        .repartition(F.col("h"))
    )
    counts = su.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # the self-join's build side is the corpus-proportional (source,
    # shingle) relation — shuffle_hash pinned against the post-explode
    # planner undershoot; the tiny per-source counts joins below stay
    # planner-broadcastable (bounded by the source enum).
    a, b = su.alias("a"), su.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca, cb = counts.alias("ca"), counts.alias("cb")
    return (
        pairs.join(ca, F.col("src_a") == F.col("ca.source"))
        .join(cb, F.col("src_b") == F.col("cb.source"))
        .select(
            "src_a",
            "src_b",
            "shared",
            T.round_stable(
                F.col("shared") / (F.col("ca.n") + F.col("cb.n") - F.col("shared")), 4
            ).alias("jaccard"),
            T.round_stable(F.col("shared") / F.col("ca.n"), 4).alias("containment_a"),
            T.round_stable(F.col("shared") / F.col("cb.n"), 4).alias("containment_b"),
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH su AS (
  SELECT DISTINCT source, unnest({_duck_shingles(3)}) AS s
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents) x
), counts AS (
  SELECT source, COUNT(*) AS n FROM su GROUP BY source
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
  FROM su a JOIN su b ON a.s = b.s AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, shared,
       ROUND(shared / (ca.n + cb.n - shared) - 0.000000001, 4) + 0.0 AS jaccard,
       ROUND(shared / ca.n - 0.000000001, 4) + 0.0 AS containment_a,
       ROUND(shared / cb.n - 0.000000001, 4) + 0.0 AS containment_b
FROM pairs
JOIN counts ca ON src_a = ca.source
JOIN counts cb ON src_b = cb.source
ORDER BY src_a, src_b
"""


def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-order shuffle: every epoch gets
    an independent, reproducible permutation of the corpus by ordering
    on ``md5(epoch:doc_id)`` — the standard "reshuffle the corpus each
    epoch without materializing a random state" trick.  Returns the
    first 100 positions of each of 2 epochs.

    Scale posture: per-epoch top-k is a union of per-epoch
    ``orderBy(key).limit(k)`` — each compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), NEVER a global sort and never a window over a
    one-partition-per-epoch shuffle.  The position column is then a
    row_number over the 200-row survivor relation.  A full-epoch
    manifest at 100 TB is the same plan with the limit dropped: one
    range-partitioned sort per epoch, embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    k = 100
    per_epoch = []
    for epoch in (0, 1):
        per_epoch.append(
            docs.select(
                F.lit(epoch).cast("bigint").alias("epoch"),
                "doc_id",
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(epoch).cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ).alias("shuffle_key"),
            )
            .orderBy("shuffle_key")
            .limit(k)
        )
    top = per_epoch[0].unionAll(per_epoch[1])
    w = Window.partitionBy("epoch").orderBy("shuffle_key")
    return (
        top.select(
            "epoch",
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .orderBy("epoch", "pos")
    )


EPOCH_SHUFFLE_SQL = """
WITH keyed AS (
  SELECT CAST(e.epoch AS BIGINT) AS epoch, d.doc_id,
         md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))
           AS shuffle_key
  FROM documents d CROSS JOIN (VALUES (0), (1)) e(epoch)
), ranked AS (
  SELECT epoch, doc_id,
         ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY shuffle_key) AS pos
  FROM keyed
)
SELECT epoch, doc_id, CAST(pos AS BIGINT) AS pos
FROM ranked WHERE pos <= 100
ORDER BY epoch, pos
"""


def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy corpus selection under a global token budget:
    rank documents by lexical diversity (desc, doc_id asc tiebreak) and
    keep them until 30 000 tokens are spent; report selected docs and
    tokens per source — the "best N tokens for this training run" cut.

    Scale posture: the greedy prefix is NOT a cumulative window over the
    globally-ordered corpus (a one-reducer sort at 100 TB).  Like
    ``vocab_coverage_curve``, the corpus collapses to its quality-score
    DISTRIBUTION (score, n_docs, bucket_tokens — bounded by the 4dp
    score grid, ~10⁴ rows at any corpus size): the cumulative window
    runs over THAT to find the boundary score, every doc strictly above
    it is selected outright (a map-side filter), and only the docs AT
    the boundary score — one bucket — need per-doc cumulative ordering
    to spend the remaining budget."""
    budget = 30_000
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        T.lexical_diversity("text").alias("q"),
        T.token_count("text").cast("bigint").alias("tc"),
    )
    dist = scored.groupBy("q").agg(F.sum("tc").alias("bucket_tokens"))
    w_cum = Window.orderBy(F.desc("q")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dist.select(
        "q",
        "bucket_tokens",
        F.coalesce(F.sum("bucket_tokens").over(w_cum), F.lit(0)).alias(
            "tokens_before"
        ),
    )
    # boundary bucket: the LOWEST-q bucket whose prefix still fits the
    # budget (tokens_before strictly increases along the q-desc prefix,
    # so max tokens_before picks it).  When the whole corpus fits the
    # budget this is simply the last bucket and everything is selected.
    boundary = (
        cum.filter(F.col("tokens_before") < budget)
        .agg(F.max(F.struct("tokens_before", "q")).alias("s"))
        .select(
            F.col("s.q").alias("q_thr"),
            F.col("s.tokens_before").alias("spent_before"),
        )
    )
    # docs strictly above the boundary score: selected outright
    above = scored.join(F.broadcast(boundary), F.col("q") > F.col("q_thr"))
    # docs AT the boundary score: greedy by doc_id until the remainder
    # of the budget is spent (cumulative window over ONE bucket)
    w_doc = Window.partitionBy("q").orderBy("doc_id")
    at = (
        scored.join(F.broadcast(boundary), F.col("q") == F.col("q_thr"))
        .withColumn("cum_in_bucket", F.sum("tc").over(w_doc))
        .filter(F.col("cum_in_bucket") <= budget - F.col("spent_before"))
        .drop("cum_in_bucket")
    )
    selected = above.select("source", "doc_id", "tc").unionAll(
        at.select("source", "doc_id", "tc")
    )
    return (
        selected.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("tc").alias("tokens_selected"),
        )
        .orderBy("source")
    )


TOKEN_BUDGET_SQL = """
WITH scored AS (
  SELECT source, doc_id,
         ROUND(len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) - 0.000000001, 4) + 0.0 AS q,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
  FROM documents
), dist AS (
  SELECT q, SUM(tc) AS bucket_tokens FROM scored GROUP BY q
), cum AS (
  SELECT q, bucket_tokens,
         COALESCE(SUM(bucket_tokens) OVER (
           ORDER BY q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS tokens_before
  FROM dist
), boundary AS (
  SELECT q AS q_thr, tokens_before AS spent_before
  FROM cum
  WHERE tokens_before < 30000
  ORDER BY tokens_before DESC LIMIT 1
), at_docs AS (
  SELECT s.source, s.doc_id, s.tc,
         SUM(s.tc) OVER (PARTITION BY s.q ORDER BY s.doc_id) AS cum_in_bucket,
         b.spent_before
  FROM scored s JOIN boundary b ON s.q = b.q_thr
), selected AS (
  SELECT s.source, s.doc_id, s.tc
  FROM scored s JOIN boundary b ON s.q > b.q_thr
  UNION ALL
  SELECT source, doc_id, tc FROM at_docs
  WHERE cum_in_bucket <= 30000 - spent_before
)
SELECT source,
       COUNT(*) AS n_selected,
       CAST(SUM(tc) AS BIGINT) AS tokens_selected
FROM selected GROUP BY source ORDER BY source
"""


def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence against the corpus token
    distribution — the mix-diagnostics number that says how far each
    source's language drifts from the blend it will be trained in
    (feeds temperature/mix decisions next to ``mix_rebalance_plan``).

    Scale posture: ONE counting shuffle on (source, token); the corpus
    marginal is a second aggregation OF that counts relation (vocab-
    sized, not corpus-sized), joined back on the token key; totals
    broadcast.  No per-document state, no window."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c_sw"))
    source_totals = counts.groupBy("source").agg(F.sum("c_sw").alias("t_s"))
    corpus_counts = counts.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    corpus_total = counts.agg(F.sum("c_sw").alias("t_all"))
    terms = (
        counts.join(corpus_counts, "w")
        .join(F.broadcast(source_totals), "source")
        .crossJoin(F.broadcast(corpus_total))
        .select(
            "source",
            "t_s",
            (
                (F.col("c_sw") / F.col("t_s"))
                * F.log(
                    (F.col("c_sw") / F.col("t_s"))
                    / (F.col("c_w") / F.col("t_all"))
                )
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("t_s").alias("n_tokens"),
            T.round_stable(F.sum("term"), 4).alias("kl_divergence"),
        )
        .orderBy("source")
    )


SOURCE_DIVERGENCE_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT source, w, COUNT(*) AS c_sw FROM tok GROUP BY source, w
), source_totals AS (
  SELECT source, SUM(c_sw) AS t_s FROM counts GROUP BY source
), corpus_counts AS (
  SELECT w, SUM(c_sw) AS c_w FROM counts GROUP BY w
), corpus_total AS (
  SELECT SUM(c_sw) AS t_all FROM counts
)
SELECT c.source,
       CAST(MAX(st.t_s) AS BIGINT) AS n_tokens,
       ROUND(SUM((c.c_sw / st.t_s)
                 * LN((c.c_sw / st.t_s) / (cc.c_w / ct.t_all)))
             - 0.000000001, 4) + 0.0 AS kl_divergence
FROM counts c
JOIN corpus_counts cc ON c.w = cc.w
JOIN source_totals st ON c.source = st.source
CROSS JOIN corpus_total ct
GROUP BY c.source
ORDER BY c.source
"""


def cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual train→eval leakage audit for the stratified split: the
    text-fingerprint split key (``stratified_split_report``) pins
    byte-identical duplicates to one split, but NEAR-duplicates can
    still straddle the boundary.  For every val/test document, compute
    the fraction of its distinct 5-token shingles that also occur
    anywhere in train, and report per split how many eval docs leak at
    >=0.8 / >=0.5 / >=0.2 overlap plus the mean overlap — the number
    that says whether the held-out sets actually measure generalization.

    Scale posture: both sides shingle to 8-byte xxhash64 longs; the
    train shingle set is corpus-proportional so the membership probe is
    a shuffled hash equi-join on the long key (never a broadcast), with
    the eval side ~2% of the corpus; per-doc overlap is one counting
    shuffle; the split-level rollup is three rows."""
    docs = load_table(spark, sf_dir, "documents")
    k = 5
    fp = F.md5(F.col("text").cast("binary"))
    bucket = F.substring(fp, 1, 2)
    split = (
        F.when(bucket <= "f9", "train")
        .when(bucket <= "fc", "val")
        .otherwise("test")
    )
    sh = docs.select(
        "doc_id",
        split.alias("split"),
        T.shingle_hashes("text", k).alias("sh"),
    )
    train_sh = (
        sh.filter(F.col("split") == "train")
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    eval_docs = sh.filter(F.col("split") != "train").filter(F.size("sh") > 0)
    hits = (
        eval_docs.select("doc_id", F.explode("sh").alias("s"))
        .join(train_sh.hint("shuffle_hash"), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    per_doc = (
        eval_docs.select("doc_id", "split", F.size("sh").alias("n"))
        .join(hits, "doc_id", "left")
        .select(
            "split",
            (F.coalesce(F.col("m"), F.lit(0)) / F.col("n")).alias("ov"),
        )
    )
    return (
        per_doc.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("eval_docs"),
            F.sum(F.when(F.col("ov") >= 0.8, 1).otherwise(0))
            .cast("bigint")
            .alias("leak80"),
            F.sum(F.when(F.col("ov") >= 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("leak50"),
            F.sum(F.when(F.col("ov") >= 0.2, 1).otherwise(0))
            .cast("bigint")
            .alias("leak20"),
            T.round_stable(F.avg("ov"), 4).alias("mean_overlap"),
        )
        .orderBy("split")
    )


CROSS_SPLIT_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN substr(md5(text), 1, 2) <= 'f9' THEN 'train'
              WHEN substr(md5(text), 1, 2) <= 'fc' THEN 'val'
              ELSE 'test' END AS split,
         {_duck_shingles(5)} AS sh
  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents) x
), train_sh AS (
  SELECT DISTINCT unnest(sh) AS s FROM d WHERE split = 'train'
), ev AS (
  SELECT doc_id, unnest(sh) AS s
  FROM d WHERE split <> 'train' AND len(sh) > 0
), hits AS (
  SELECT ev.doc_id, COUNT(*) AS m
  FROM ev JOIN train_sh t ON ev.s = t.s
  GROUP BY ev.doc_id
), per_doc AS (
  SELECT d.split, COALESCE(h.m, 0) / len(d.sh) AS ov
  FROM d LEFT JOIN hits h ON d.doc_id = h.doc_id
  WHERE d.split <> 'train' AND len(d.sh) > 0
)
SELECT split,
       COUNT(*) AS eval_docs,
       CAST(SUM(CASE WHEN ov >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS leak80,
       CAST(SUM(CASE WHEN ov >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS leak50,
       CAST(SUM(CASE WHEN ov >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS leak20,
       ROUND(AVG(ov) - 0.000000001, 4) + 0.0 AS mean_overlap
FROM per_doc GROUP BY split ORDER BY split
"""


def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule: the corpus partitioned into 4
    quality stages (ascending lexical diversity — simplest text first),
    reporting per-stage doc count, token mass, and the stage's quality
    range — the manifest a curriculum data loader consumes.

    Scale posture: same trick as ``token_budget_selection`` — no global
    NTILE/sort over the corpus.  The corpus collapses to its 4dp quality
    DISTRIBUTION (bounded ~10⁴ rows at any size); the cumulative window
    runs over that, and a bucket's stage is floor(4·cum_before/n)+1 —
    every doc's stage is then a map-side join against the tiny staged
    distribution (here folded directly since doc stats are already
    aggregated per bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        T.lexical_diversity("text").alias("q"),
        T.token_count("text").cast("bigint").alias("tc"),
    )
    dist = scored.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tc").alias("tokens"),
    )
    w_cum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    total = dist.agg(F.sum("n_docs").alias("n_total"))
    cum = dist.select(
        "q",
        "n_docs",
        "tokens",
        F.coalesce(F.sum("n_docs").over(w_cum), F.lit(0)).alias("before"),
    )
    staged = cum.crossJoin(F.broadcast(total)).select(
        F.least(
            F.floor(F.lit(4) * F.col("before") / F.col("n_total")) + 1,
            F.lit(4),
        )
        .cast("bigint")
        .alias("stage"),
        "q",
        "n_docs",
        "tokens",
    )
    return (
        staged.groupBy("stage")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("tokens"),
            F.min("q").alias("q_min"),
            F.max("q").alias("q_max"),
        )
        .orderBy("stage")
    )


CURRICULUM_SQL = """
WITH scored AS (
  SELECT ROUND(len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) - 0.000000001, 4) + 0.0 AS q,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tc
  FROM documents
), dist AS (
  SELECT q, COUNT(*) AS n_docs, SUM(tc) AS tokens FROM scored GROUP BY q
), cum AS (
  SELECT q, n_docs, tokens,
         COALESCE(SUM(n_docs) OVER (
           ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS before
  FROM dist
), total AS (
  SELECT SUM(n_docs) AS n_total FROM dist
), staged AS (
  SELECT CAST(LEAST(FLOOR(4.0 * c.before / t.n_total) + 1, 4) AS BIGINT)
           AS stage,
         c.q, c.n_docs, c.tokens
  FROM cum c CROSS JOIN total t
)
SELECT stage,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS tokens,
       MIN(q) AS q_min,
       MAX(q) AS q_max
FROM staged GROUP BY stage ORDER BY stage
"""


def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual-LM
    mix rule, e.g. XLM-R: p_s ∝ share_s^α): each source's natural token
    share next to its sampling weight at α=0.3 (aggressive low-resource
    upweighting) and α=0.7 (mild) — the table a mix designer reads next
    to ``mix_rebalance_plan``'s hard-budget keep-rates.

    Scale posture: one partial-agg counting shuffle on source; the
    powered-share normalizers are single-row aggregates of the
    #sources-sized relation, broadcast back.  No per-document state
    beyond the token count."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(T.token_count("text")).cast("bigint").alias("tokens")
    )
    total = per_source.agg(F.sum("tokens").alias("t_all"))
    powered = per_source.crossJoin(F.broadcast(total)).select(
        "source",
        "tokens",
        (F.col("tokens") / F.col("t_all")).alias("share"),
        F.pow(F.col("tokens") / F.col("t_all"), F.lit(0.3)).alias("p03"),
        F.pow(F.col("tokens") / F.col("t_all"), F.lit(0.7)).alias("p07"),
    )
    norms = powered.agg(F.sum("p03").alias("s03"), F.sum("p07").alias("s07"))
    return (
        powered.crossJoin(F.broadcast(norms))
        .select(
            "source",
            "tokens",
            T.round_stable(F.col("share"), 6).alias("share"),
            T.round_stable(F.col("p03") / F.col("s03"), 6).alias("w_alpha03"),
            T.round_stable(F.col("p07") / F.col("s07"), 6).alias("w_alpha07"),
        )
        .orderBy("source")
    )


TEMPERATURE_MIX_SQL = """
WITH per_source AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
), total AS (SELECT SUM(tokens) AS t_all FROM per_source),
powered AS (
  SELECT source, tokens,
         tokens / t_all AS share,
         POWER(tokens / t_all, 0.3) AS p03,
         POWER(tokens / t_all, 0.7) AS p07
  FROM per_source, total
), norms AS (SELECT SUM(p03) AS s03, SUM(p07) AS s07 FROM powered)
SELECT source, tokens,
       ROUND(share - 0.000000001, 6) + 0.0 AS share,
       ROUND(p03 / s03 - 0.000000001, 6) + 0.0 AS w_alpha03,
       ROUND(p07 / s07 - 0.000000001, 6) + 0.0 AS w_alpha07
FROM powered, norms
ORDER BY source
"""


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv 2302.03169):
    score every document by its average unigram log-likelihood ratio
    between a target-domain LM (here: the docs of source ``src0``) and
    the whole-corpus LM, add-0.5 smoothing over the corpus vocabulary —
    positive weight means "reads like the target domain".  Reports per
    source: docs, mean weight, and the positively-weighted doc count
    (the resample-in set) — the knob that tilts a pretraining mix toward
    a target domain without hand-written rules.

    Scale posture: the two LMs are vocabulary-sized relations built with
    one counting shuffle each (the target side is a filtered partial
    aggregation of the same exploded stream); scoring hash-joins the
    doc-token stream to the LM relation on the token key — the
    vocabulary is never broadcast (same posture as
    ``unigram_logprob_quality``); per-doc and per-source rollups are
    partial-aggregable.  Totals/vocab-size attach via single-row
    broadcast crossJoins."""
    docs = load_table(spark, sf_dir, "documents")
    target_source = "src0"
    tok = docs.select(
        "source", "doc_id", F.explode(T.tokens("text")).alias("w")
    )
    corpus_counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c_all"))
    target_counts = (
        tok.filter(F.col("source") == target_source)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    totals = corpus_counts.agg(
        F.sum("c_all").alias("n_all"),
        F.count(F.lit(1)).alias("v"),
    ).crossJoin(
        F.broadcast(target_counts.agg(F.sum("c_t").alias("n_t")))
    )
    lm = (
        corpus_counts.join(target_counts, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "w",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + 0.5)
                    / (F.col("n_t") + 0.5 * F.col("v"))
                )
                - F.log(
                    (F.col("c_all") + 0.5) / (F.col("n_all") + 0.5 * F.col("v"))
                )
            ).alias("llr"),
        )
    )
    per_doc = (
        tok.join(lm, "w")
        .groupBy("source", "doc_id")
        .agg(F.avg("llr").alias("wgt"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            T.round_stable(F.avg("wgt"), 4).alias("mean_weight"),
            F.sum(F.when(F.col("wgt") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
        )
        .orderBy("source")
    )


DSIR_SQL = """
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), corpus_counts AS (
  SELECT w, COUNT(*) AS c_all FROM tok GROUP BY w
), target_counts AS (
  SELECT w, COUNT(*) AS c_t FROM tok WHERE source = 'src0' GROUP BY w
), totals AS (
  SELECT (SELECT SUM(c_all) FROM corpus_counts) AS n_all,
         (SELECT COUNT(*) FROM corpus_counts) AS v,
         (SELECT SUM(c_t) FROM target_counts) AS n_t
), lm AS (
  SELECT cc.w,
         LN((COALESCE(tc.c_t, 0) + 0.5) / (t.n_t + 0.5 * t.v))
         - LN((cc.c_all + 0.5) / (t.n_all + 0.5 * t.v)) AS llr
  FROM corpus_counts cc LEFT JOIN target_counts tc ON cc.w = tc.w
  CROSS JOIN totals t
), per_doc AS (
  SELECT tok.source, tok.doc_id, AVG(lm.llr) AS wgt
  FROM tok JOIN lm ON tok.w = lm.w
  GROUP BY tok.source, tok.doc_id
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(AVG(wgt) - 0.000000001, 4) + 0.0 AS mean_weight,
       CAST(SUM(CASE WHEN wgt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM per_doc GROUP BY source ORDER BY source
"""


def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query — the retrieval primitive
    a targeted-curation pipeline runs to pull domain-relevant documents
    out of a crawl (and the lexical half of hybrid retrieval next to the
    ANN family).  Robertson/Sparck-Jones BM25 with k1=1.2, b=0.75:
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N-df+0.5)/(df+0.5)); top 20, doc_id tiebreak.

    Scale shape: one token explode feeds both the per-doc lengths (one
    counting shuffle) and the tf relation, which is FILTERED to the
    query terms before its shuffle — corpus-sized relations never carry
    the scoring join.  df/N/avgdl are term-count/single-row aggregates
    (broadcast); ranking is TakeOrderedAndProject.  No global sort, no
    vocabulary broadcast."""
    k1, b = 1.2, 0.75
    terms = ("scan", "merge", "vector")
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("w"))
    # ONE tokenize+explode pass serves both the per-doc length and the
    # query-term frequencies (guide §1.2: the old form ran the corpus
    # explode twice — once under the dl aggregate, once under the
    # filtered tf aggregate); the shared groupBy(doc_id) partitioning is
    # then reused by the scoring join.  tf rows for absent terms unpivot
    # to NULL and are dropped, so the (doc_id, w, tf) relation is
    # row-identical to the filtered two-pass form.
    g = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, F.lit(1)))
            .cast("double")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    lens = g.select("doc_id", "dl")
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        g.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("w"),
                            F.when(
                                F.col(f"tf_{i}") > 0, F.col(f"tf_{i}")
                            ).alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", F.col("e.w").alias("w"), F.col("e.tf").alias("tf"))
        .filter(F.col("tf").isNotNull())
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * (F.col("tf") * (k1 + 1.0))
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(T.round_stable(F.sum("s"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


BM25_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), lens AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lens
), tf AS (
  SELECT doc_id, w, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok
  WHERE w IN ('scan', 'merge', 'vector') GROUP BY doc_id, w
), dfreq AS (
  SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY w
)
SELECT tf.doc_id,
       ROUND(SUM(
         ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
       ) - 0.000000001, 4) + 0.0 AS bm25
FROM tf
JOIN dfreq d ON tf.w = d.w
JOIN lens l ON tf.doc_id = l.doc_id
CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id ASC
LIMIT 20
"""


def data_constrained_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained repetition planning (Muennighoff et al.,
    "Scaling Data-Constrained Language Models", arXiv 2305.16264): when
    the training budget exceeds the unique corpus, sources are repeated
    for multiple epochs, but repeated tokens decay in value — the paper
    fits effective data D' = U·(1 + R*·(1 - e^(-R/R*))) with R* = 15.39
    repetitions.  Given a 4×-unique-tokens budget allocated by
    temperature-weighted share (τ = 0.7, the temperature_mix_weights
    rule), reports per source: allocated tokens, epochs, effective
    tokens under the decay, and the marginal efficiency — the planner's
    input for deciding where extra epochs are still worth compute.

    Scale shape: ONE counting shuffle (tokens per source, a partial
    agg); everything downstream operates on the #sources-row relation.
    """
    r_star = 15.39
    tau = 0.7
    budget_x = 4.0
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("source", T.token_count("text").cast("double").alias("tc"))
    per_src = src.groupBy("source").agg(F.sum("tc").alias("u"))
    totals = per_src.agg(
        F.sum("u").alias("total_u"),
        F.sum(F.pow(F.col("u"), tau)).alias("z"),
    )
    planned = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        F.col("u").cast("bigint").alias("unique_tokens"),
        (F.lit(budget_x) * F.col("total_u") * F.pow(F.col("u"), tau) / F.col("z"))
        .alias("alloc"),
        F.col("u").alias("_u"),
    )
    eff = F.least(
        F.col("alloc"),
        F.col("_u")
        * (
            1.0
            + r_star
            * (1.0 - F.exp(-F.greatest(F.col("alloc") / F.col("_u") - 1.0, F.lit(0.0)) / r_star))
        ),
    )
    return planned.select(
        "source",
        "unique_tokens",
        T.round_stable(F.col("alloc"), 2).alias("alloc_tokens"),
        T.round_stable(F.col("alloc") / F.col("_u"), 4).alias("epochs"),
        T.round_stable(eff, 2).alias("effective_tokens"),
        T.round_stable(eff / F.col("alloc"), 4).alias("efficiency"),
    ).orderBy("source")


DATA_CONSTRAINED_SQL = """
WITH per_src AS (
  SELECT source, SUM(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS u
  FROM documents GROUP BY source
), totals AS (
  SELECT SUM(u) AS total_u, SUM(power(u, 0.7)) AS z FROM per_src
), planned AS (
  SELECT source, CAST(u AS BIGINT) AS unique_tokens,
         4.0 * t.total_u * power(u, 0.7) / t.z AS alloc, u AS _u
  FROM per_src CROSS JOIN totals t
), e AS (
  SELECT *,
         LEAST(alloc,
               _u * (1.0 + 15.39 * (1.0 - exp(-GREATEST(alloc / _u - 1.0, 0.0)
                                              / 15.39)))) AS eff
  FROM planned
)
SELECT source, unique_tokens,
       ROUND(alloc - 0.000000001, 2) + 0.0 AS alloc_tokens,
       ROUND(alloc / _u - 0.000000001, 4) + 0.0 AS epochs,
       ROUND(eff - 0.000000001, 2) + 0.0 AS effective_tokens,
       ROUND(eff / alloc - 0.000000001, 4) + 0.0 AS efficiency
FROM e ORDER BY source
"""


def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier calibration: the heuristic quality score
    (functions/text.py::quality_score — the cheap gate) binned into
    corpus deciles and audited against the CCNet unigram cross-entropy
    (the expensive LM signal) — the curve a pipeline inspects before
    trusting the cheap score as a selection proxy; a non-monotone bin
    means the heuristic misorders that quality band.

    Scale posture: NO global NTILE/sort — deciles come from the same
    bounded score-distribution trick as curriculum_stages (the corpus
    collapses to its 4dp quality histogram, cumulative window over that
    tiny relation, doc → decile is a broadcast join on the score);
    per-doc bits reuse the unigram model's one counting shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", T.quality_score("text").alias("q")
    )
    dist = scored.groupBy("q").agg(F.count(F.lit(1)).alias("n_docs"))
    w_cum = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    total = dist.agg(F.sum("n_docs").alias("n_total"))
    deciles = (
        dist.select("q", F.coalesce(F.sum("n_docs").over(w_cum), F.lit(0)).alias("before"))
        .crossJoin(F.broadcast(total))
        .select(
            "q",
            F.least(
                F.floor(F.lit(10) * F.col("before") / F.col("n_total")) + 1, F.lit(10)
            ).cast("bigint").alias("decile"),
        )
    )
    tok = docs.select("lang", "doc_id", F.explode(T.tokens("text")).alias("w"))
    counts = tok.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("double").alias("c"))
    lang_totals = counts.groupBy("lang").agg(F.sum("c").alias("n"))
    probs = counts.join(F.broadcast(lang_totals), "lang").select(
        "lang", "w", F.log2(F.col("c") / F.col("n")).alias("logp")
    )
    doc_bits = (
        tok.join(probs.hint("shuffle_hash"), ["lang", "w"])
        .groupBy("lang", "doc_id")
        .agg(T.round_stable(-F.avg("logp"), 4).alias("bits"))
    )
    return (
        scored.join(F.broadcast(deciles), "q")
        .join(doc_bits, ["lang", "doc_id"])
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            T.round_stable(F.avg("q"), 4).alias("avg_quality"),
            T.round_stable(F.avg("bits"), 4).alias("avg_bits"),
        )
        .orderBy("decile")
    )


QUALITY_CALIBRATION_SQL = """
WITH scored AS (
  SELECT doc_id, lang,
         ROUND(0.5 * (dt / tc)
               + 0.3 * least((sc / tc) * 10.0, 1.0)
               + 0.2 * least(tc / 100.0, 1.0) - 0.000000001, 4) + 0.0 AS q
  FROM (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS dt,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ('the', 'a'))) AS DOUBLE) AS sc
    FROM documents
  ) d
), dist AS (
  SELECT q, COUNT(*) AS n_docs FROM scored GROUP BY q
), total AS (SELECT SUM(n_docs) AS n_total FROM dist),
deciles AS (
  SELECT q,
         CAST(LEAST(FLOOR(10.0 * COALESCE(SUM(n_docs) OVER (
             ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) / t.n_total) + 1, 10) AS BIGINT) AS decile
  FROM dist CROSS JOIN total t
), tok AS (
  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), counts AS (
  SELECT lang, w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY lang, w
), lt AS (SELECT lang, SUM(c) AS n FROM counts GROUP BY lang),
probs AS (
  SELECT counts.lang AS lang, w, log2(c / n) AS logp
  FROM counts JOIN lt ON counts.lang = lt.lang
), doc_bits AS (
  SELECT t.lang, t.doc_id,
         ROUND(-AVG(p.logp) - 0.000000001, 4) + 0.0 AS bits
  FROM tok t JOIN probs p ON t.lang = p.lang AND t.w = p.w
  GROUP BY t.lang, t.doc_id
)
SELECT decile,
       COUNT(*) AS n_docs,
       ROUND(AVG(s.q) - 0.000000001, 4) + 0.0 AS avg_quality,
       ROUND(AVG(b.bits) - 0.000000001, 4) + 0.0 AS avg_bits
FROM scored s
JOIN deciles USING (q)
JOIN doc_bits b ON s.lang = b.lang AND s.doc_id = b.doc_id
GROUP BY decile ORDER BY decile
"""


def maximal_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication as MAXIMAL spans (the operation behind
    suffix-array dedup, Lee et al. "Deduplicating Training Data Makes
    Language Models Better", arXiv 2107.06499, re-expressed relationally):
    consecutive matching 8-token windows between two documents merge into
    their maximal shared run, reported per pair as longest-span length +
    span count — the repair plan for partial-copy contamination that
    whole-document and single-window reports both miss.

    Plan shape: window fingerprints are 8-byte chained xxhash64 longs
    (map-only); a BOILERPLATE GUARD drops fingerprints appearing in more
    than 8 distinct documents BEFORE the pair join (one counting agg —
    the high-df windows are exactly the ubiquitous boilerplate whose
    pair fanout would otherwise be quadratic; 2107.06499 drops them
    too), so join output tracks true shared-run volume.  Island merge is
    the classic gaps-and-islands trick: matches on one (pair, diagonal)
    with consecutive positions share ``pos - row_number()`` — the window
    key (pair, diag) is high-cardinality, never a corpus-global sort.
    The oracle recomputes spans from raw text with content-equality
    windows (hash-vs-content equality agree up to xxhash64 collisions).
    """
    k = 8
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    wh = F.transform(w, lambda t: F.xxhash64(t))
    m = F.size(wh) - (k - 1)
    acc = F.slice(wh, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(wh, j + 1, m), lambda x, y: F.xxhash64(x, y))
    fps = F.when(m >= 1, acc).otherwise(F.array().cast("array<bigint>"))
    win = docs.select("doc_id", F.posexplode(fps).alias("p0", "fp")).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), "fp"
    )
    rare = (
        win.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= 8)
        .select("fp")
    )
    # plain hash join — `rare` is corpus-derived and must never broadcast
    win = win.join(rare, "fp").repartition(F.col("fp"))
    a, b = win.alias("a"), win.alias("b").hint("shuffle_hash")
    matches = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.pos").alias("pos_a"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w_isl = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    spans = (
        matches.withColumn("isl", F.col("pos_a") - F.row_number().over(w_isl))
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("span_tokens"))
    )
    return (
        spans.groupBy("id_a", "id_b")
        .agg(
            F.max("span_tokens").cast("bigint").alias("longest_span_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .orderBy(F.desc("longest_span_tokens"), F.asc("id_a"), F.asc("id_b"))
        .limit(20)
    )


MAXIMAL_SPANS_SQL = """
WITH win AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[i:i+7], ' ') AS fp
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
       UNNEST(range(1, greatest(len(w) - 6, 1))) AS t(i)
), rare AS (
  SELECT fp FROM win GROUP BY fp HAVING COUNT(DISTINCT doc_id) <= 8
), fw AS (
  SELECT win.* FROM win JOIN rare USING (fp)
), matches AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM fw a JOIN fw b ON a.fp = b.fp AND a.doc_id < b.doc_id
), islands AS (
  SELECT id_a, id_b, diag,
         pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                    ORDER BY pos_a) AS isl
  FROM matches
), spans AS (
  SELECT id_a, id_b, diag, isl, COUNT(*) + 7 AS span_tokens
  FROM islands GROUP BY id_a, id_b, diag, isl
)
SELECT id_a, id_b,
       CAST(MAX(span_tokens) AS BIGINT) AS longest_span_tokens,
       COUNT(*) AS n_spans
FROM spans GROUP BY id_a, id_b
ORDER BY longest_span_tokens DESC, id_a ASC, id_b ASC
LIMIT 20
"""


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training round over the corpus: count adjacent token
    pairs and report the top-20 merge candidates (Sennrich et al. BPE,
    arXiv 1508.07909 — each training iteration merges the most frequent
    adjacent pair; this is the counting kernel that iteration runs, and
    the profile a tokenizer-budget decision reads).

    Plan shape: the pair stream comes from two shifted slices zipped
    map-side (never slice-inside-lambda), then ONE counting shuffle on
    the pair key; ranking is TakeOrderedAndProject.  At 100 TB this is
    a word-count — the canonical partial-agg shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    m = F.size(w) - 1
    pairs = F.when(
        m >= 1,
        F.zip_with(F.slice(w, 1, m), F.slice(w, 2, m), lambda x, y: F.concat_ws(" ", x, y)),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


BPE_MERGE_SQL = """
SELECT pair, COUNT(*) AS pair_count
FROM (
  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
           AS pair
  FROM (SELECT string_split(text, ' ') AS w FROM documents) d
) p
GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT 20
"""


def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks, CL 16(1)): the phrase-detection rung above raw bigram counts
    — raw counts surface "of the"; PMI surfaces pairs that co-occur far
    above chance, the signal phrase-aware tokenizers and entity miners
    rank by.  PMI(a,b) = ln(P(a,b) / (P(a)P(b))) with a min-support
    floor (pair_count >= 5) so rare-pair noise (PMI's known failure
    mode) is gated out; top-25 by rounded PMI, pair-string tiebreak.

    Scale shape: two word-count shuffles (unigrams, adjacent bigrams —
    both canonical partial-agg map-side combines), two hash joins of
    the bigram relation to the unigram relation on corpus-cardinality
    word keys, and two single-row totals attached broadcast-style (the
    whitelisted scalar-subquery shape).  Ranking is
    TakeOrderedAndProject on the rounded measure."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    m = F.size(w) - 1
    pairs = F.when(
        m >= 1,
        F.zip_with(
            F.slice(w, 1, m), F.slice(w, 2, m),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = docs.select(F.explode(w).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    n_t = uni.agg(F.sum("cnt").alias("n_tok"))
    big = (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= 5)
    )
    m_t = (
        docs.select(F.explode(pairs).alias("pair"))
        .agg(F.count(F.lit(1)).alias("m_pairs"))
    )
    ua = uni.select(F.col("w").alias("wa"), F.col("cnt").alias("count_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cnt").alias("count_b"))
    scored = (
        big.withColumn("wa", F.element_at(F.split("pair", " "), 1))
        .withColumn("wb", F.element_at(F.split("pair", " "), 2))
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(m_t))
        .selectExpr(
            "pair",
            "c2 AS pair_count",
            "count_a",
            "count_b",
            "ROUND(ln((CAST(c2 AS DOUBLE) * n_tok * n_tok)"
            " / (CAST(m_pairs AS DOUBLE) * count_a * count_b))"
            " - 0.000000001, 4) + 0.0 AS pmi",
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("pair")).limit(25)


BIGRAM_PMI_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w
), n_t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tok FROM uni
), bigs AS (
  SELECT unnest(list_transform(range(1, len(w)),
           i -> w[i] || ' ' || w[i+1])) AS pair
  FROM (SELECT string_split(text, ' ') AS w FROM documents) d
), big AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS c2 FROM bigs GROUP BY pair
  HAVING COUNT(*) >= 5
), m_t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_pairs FROM bigs
), scored AS (
  SELECT b.pair, b.c2 AS pair_count, ua.cnt AS count_a, ub.cnt AS count_b,
         ROUND(ln((CAST(b.c2 AS DOUBLE) * n_tok * n_tok)
                  / (CAST(m_pairs AS DOUBLE) * ua.cnt * ub.cnt))
               - 0.000000001, 4) + 0.0 AS pmi
  FROM big b
  JOIN uni ua ON string_split(b.pair, ' ')[1] = ua.w
  JOIN uni ub ON string_split(b.pair, ' ')[2] = ub.w
  CROSS JOIN n_t CROSS JOIN m_t
)
SELECT pair, pair_count, count_a, count_b, pmi FROM scored
ORDER BY pmi DESC, pair ASC LIMIT 25
"""


# TextRank update rule, identical literal text in both engines (the
# CASTs keep Spark off DECIMAL literals; COALESCE keeps sink-only nodes
# at the (1-d) floor instead of dropping them).
_TEXTRANK_STEP = (
    "CAST(0.15 AS DOUBLE)"
    " + CAST(0.85 AS DOUBLE) * COALESCE(cs, CAST(0.0 AS DOUBLE))"
)


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    weighted PageRank over the token co-occurrence graph — nodes are
    frequent tokens, edges are adjacent-token pairs weighted by count,
    five damped power-iteration rounds (d = 0.85), top-20 by score.
    The graph-centrality rung above raw frequency: a token ranks high
    when frequent tokens link TO it, the standard unsupervised
    keyword/keyphrase extractor.

    Scale shape: nodes are the (support-filtered) vocabulary and edges
    the distinct adjacent-pair relation — both Heaps-law sublinear in
    corpus size; each iteration is ONE hash join of the edge relation
    to the score relation on the token key plus one partial-agg sum
    shuffle, and the iteration count is fixed (5), so the whole query
    is 5 vocabulary-sized joins regardless of corpus.  Oracle: DuckDB
    replays the identical five unrolled rounds (shared update-rule
    text); double summation order differs between engines only in the
    last ulps, absorbed by the 4 dp rounding.  Ranking is
    TakeOrderedAndProject on the rounded score."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    m = F.size(w) - 1
    adj = F.when(
        m >= 1,
        F.zip_with(
            F.slice(w, 1, m), F.slice(w, 2, m),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    uni = (
        docs.select(F.explode(w).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nodes = uni.filter(F.col("cnt") >= 10).select("token")
    pair_counts = (
        docs.select(F.explode(adj).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("w"))
        .withColumn("a", F.element_at(F.split("pair", " "), 1))
        .withColumn("b", F.element_at(F.split("pair", " "), 2))
        .filter(F.col("a") != F.col("b"))
    )
    na = nodes.select(F.col("token").alias("a"))
    nb = nodes.select(F.col("token").alias("b"))
    qual = pair_counts.join(na, "a").join(nb, "b")
    # undirected: each adjacency contributes both directions.
    # INVARIANT the power-iteration restructure below depends on: this
    # two-direction union makes src and dst sets EQUAL (every src is a
    # dst with positive weight), which is what lets the per-round
    # isolated-node domain join be deferred to one final left join.
    # Making the graph directed here — or weight-filtering one
    # direction — would silently change scores, not fail.
    edges = (
        qual.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionByName(
            qual.select(
                F.col("b").alias("src"), F.col("a").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # Materialize the graph ONCE: the five unrolled PageRank rounds each
    # reference `e` (and `nodes`) — without the checkpoint the corpus
    # tokenization/explode subtree is re-planned per round into a
    # 5-deep nested plan (guide §3.3: materialize to truncate very wide
    # iterated plans).  Both relations are Heaps-law vocabulary-sized —
    # the bounded class localCheckpoint is for; residency-bounded like
    # the kmv bottom-k sketch.
    # The checkpointed graph is pre-partitioned on the per-round join key
    # (src): every power-iteration join then reuses the LogicalRDD's
    # hash partitioning and only the (small) score relation is shuffled
    # per round (guide §2.4: two operations keyed the same way share one
    # exchange).
    e = _checkpoint_bounded(
        edges.join(outw, "src").repartition(F.col("src")), "textrank_edges"
    )
    nodes = _checkpoint_bounded(nodes, "textrank_nodes")
    # Per-round domain restriction (guide §2.4 — remove joins outright):
    # only s(src) for edge sources feeds the next round, and the edge
    # relation is SYMMETRIC (src and dst sets are equal), so every edge
    # source appears in every round's `contrib` with cs > 0 (weights
    # positive, scores >= 0.15 > 0).  Rounds therefore propagate the
    # contrib-derived scores directly — same COALESCE step expression,
    # cs provably non-null — and the full `nodes` domain (which adds
    # the isolated-node rows at s = (1-d) + d·0) is restored by ONE
    # left join after the last round, exactly when the output needs it.
    # Round 1 folds the constant s0 = 1.0 in place of its join
    # (x * 1.0 is IEEE-exact for the positive finite w/outw).  Plan:
    # 5 graph joins + 5 domain joins -> 4 graph joins + 1 domain join,
    # bit-identical output (oracle re-checked at sf0.001/sf0.01).
    contrib = (
        e.select(
            F.col("dst").alias("token"),
            (F.col("w") / F.col("outw") * F.lit(1.0)).alias("c"),
        )
        .groupBy("token")
        .agg(F.sum("c").alias("cs"))
    )
    for _ in range(4):
        scores = contrib.selectExpr("token", f"{_TEXTRANK_STEP} AS s")
        contrib = (
            e.join(scores, e["src"] == scores["token"])
            .select(
                F.col("dst").alias("token"),
                (F.col("w") / F.col("outw") * F.col("s")).alias("c"),
            )
            .groupBy("token")
            .agg(F.sum("c").alias("cs"))
        )
    scores = nodes.join(contrib, "token", "left").selectExpr(
        "token", f"{_TEXTRANK_STEP} AS s"
    )
    return (
        scores.select(
            "token", T.round_stable(F.col("s"), 4).alias("textrank")
        )
        .orderBy(F.desc("textrank"), F.asc("token"))
        .limit(20)
    )


def _textrank_sql() -> str:
    rounds = []
    for i in range(1, 6):
        prev = f"s{i - 1}"
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst AS token, SUM(e.w / e.outw * p.s) AS cs
  FROM e JOIN {prev} p ON p.token = e.src GROUP BY e.dst
), s{i} AS (
  SELECT n.token, {_TEXTRANK_STEP} AS s
  FROM nodes n LEFT JOIN c{i} USING (token)
)"""
        )
    return f"""
WITH uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY token
), nodes AS (
  SELECT token FROM uni WHERE cnt >= 10
), pc AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS w,
         string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b
  FROM (
    SELECT unnest(list_transform(range(1, len(w)),
             i -> w[i] || ' ' || w[i+1])) AS pair
    FROM (SELECT string_split(text, ' ') AS w FROM documents) d
  ) p GROUP BY pair
), qual AS (
  SELECT a, b, w FROM pc
  WHERE a <> b AND a IN (SELECT token FROM nodes)
    AND b IN (SELECT token FROM nodes)
), edges AS (
  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT a AS src, b AS dst, w FROM qual
    UNION ALL
    SELECT b AS src, a AS dst, w FROM qual
  ) u GROUP BY src, dst
), outw AS (
  SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM edges GROUP BY src
), e AS (
  SELECT edges.src, edges.dst, edges.w, outw.outw
  FROM edges JOIN outw USING (src)
), s0 AS (
  SELECT token, CAST(1.0 AS DOUBLE) AS s FROM nodes
), {", ".join(rounds)}
SELECT token, ROUND(s - 0.000000001, 4) + 0.0 AS textrank
FROM s5 ORDER BY textrank DESC, token ASC LIMIT 20
"""


TEXTRANK_SQL = _textrank_sql()


def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality scoring — the next rung above the
    unigram CCNet score (``unigram_logprob_quality``): per language,
    train bigram + unigram models on the corpus itself and score each
    document by its average cross-entropy in bits under the Jelinek-
    Mercer mixture ``0.7·P(w|prev) + 0.3·P(w)``, reporting the
    per-language histogram over integer-bit buckets.  A bigram mixture
    separates fluent text from shuffled-token spam that a unigram model
    scores identically — the standard cheap-LM filter step.

    Scale shape: the pair stream is built map-side from two shifted
    slices (same kernel as ``bpe_merge_candidates``); the bigram model
    is ONE counting shuffle on (lang, prev, w) and the context totals
    re-aggregate that counts relation (no second pass over the corpus).
    Scoring hash-joins the pair stream to both models with explicit
    shuffle_hash hints — AQE's runtime conversion (compressed shuffle
    bytes vs the threshold) otherwise BROADCAST the bigram model, which
    materialized 72 MiB at sf0.1 (caught by the broadcast sweep in
    docs/ROUND11.md) and grows with the corpus; the hinted
    shuffled joins measured equal-to-faster (1.71 s vs 1.90 s) and stay
    memory-bounded at any scale.  Per-doc agg shuffles on
    (lang, doc_id); the histogram is a tiny final agg."""
    docs = load_table(spark, sf_dir, "documents")
    w = T.tokens("text")
    m = F.size(w) - 1
    pair_arr = F.when(
        m >= 1,
        F.zip_with(
            F.slice(w, 1, m),
            F.slice(w, 2, m),
            lambda x, y: F.struct(x.alias("prev"), y.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))
    # The pair stream is deliberately NOT pre-repartitioned: the model
    # side collapses through map-side partial aggregation (its shuffle
    # carries pre-aggregated (lang, prev, w, count) rows), which an
    # explicit materializing repartition of the raw doc_id-bearing
    # stream would defeat — measured 15% slower at sf0.1.
    pairs = docs.select(
        "lang", "doc_id", F.explode(pair_arr).alias("pr")
    ).select("lang", "doc_id", F.col("pr.prev").alias("prev"), F.col("pr.w").alias("w"))

    tok = docs.select("lang", F.explode(T.tokens("text")).alias("w"))
    uni = tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    totals = uni.groupBy("lang").agg(F.sum("c").alias("n"))  # ~#langs rows
    big = pairs.groupBy("lang", "prev", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c2")
    )
    ctx = big.groupBy("lang", "prev").agg(F.sum("c2").alias("cp"))

    scored = (
        pairs.join(big.hint("shuffle_hash"), ["lang", "prev", "w"])
        .join(ctx.hint("shuffle_hash"), ["lang", "prev"])
        .join(uni.hint("shuffle_hash"), ["lang", "w"])
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "doc_id",
            # operand order mirrored literally in the DuckDB oracle
            F.log2(
                F.lit(0.7) * (F.col("c2") / F.col("cp"))
                + F.lit(0.3) * (F.col("c") / F.col("n"))
            ).alias("logp"),
        )
    )
    doc_bits = scored.groupBy("lang", "doc_id").agg(
        T.round_stable(-F.avg("logp"), 4).alias("bits")
    )
    return (
        doc_bits.groupBy(
            "lang", F.floor("bits").cast("bigint").alias("bits_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            T.round_stable(F.avg("bits"), 4).alias("avg_bits"),
        )
        .orderBy("lang", "bits_bucket")
    )


BIGRAM_QUALITY_SQL = """
WITH d AS (
  SELECT lang, doc_id, string_split(text, ' ') AS w FROM documents
), pflat AS (
  SELECT lang, doc_id, pr[1] AS prev, pr[2] AS w
  FROM (
    SELECT lang, doc_id,
           unnest(list_transform(range(1, len(w)), i -> [w[i], w[i+1]])) AS pr
    FROM d
  ) p
), tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
), uni AS (
  SELECT lang, w, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY lang, w
), totals AS (
  SELECT lang, SUM(c) AS n FROM uni GROUP BY lang
), big AS (
  SELECT lang, prev, w, CAST(COUNT(*) AS DOUBLE) AS c2
  FROM pflat GROUP BY lang, prev, w
), ctx AS (
  SELECT lang, prev, SUM(c2) AS cp FROM big GROUP BY lang, prev
), doc_bits AS (
  SELECT p.lang, p.doc_id,
         ROUND(-AVG(log2(0.7 * (b.c2 / x.cp) + 0.3 * (u.c / t.n)))
               - 0.000000001, 4) + 0.0 AS bits
  FROM pflat p
  JOIN big b ON p.lang = b.lang AND p.prev = b.prev AND p.w = b.w
  JOIN ctx x ON p.lang = x.lang AND p.prev = x.prev
  JOIN uni u ON p.lang = u.lang AND p.w = u.w
  JOIN totals t ON p.lang = t.lang
  GROUP BY p.lang, p.doc_id
)
SELECT lang, CAST(floor(bits) AS BIGINT) AS bits_bucket,
       COUNT(*) AS doc_count,
       ROUND(AVG(bits) - 0.000000001, 4) + 0.0 AS avg_bits
FROM doc_bits GROUP BY lang, bits_bucket ORDER BY lang, bits_bucket
"""


def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build audit: per token, document frequency, total
    term frequency, and the posting-list size in bytes under varint
    delta-gap encoding (the physical layout every retrieval index —
    Lucene, and the BM25 serving path — stores), for the 20 highest-df
    tokens.  This is the index-size estimate run before materializing a
    corpus-scale retrieval index.

    Scale shape: ONE partial-agg counting shuffle builds the
    (token, doc) term-frequency relation; the delta-gap window
    partitions on the token — a corpus-cardinality key, so the window
    is as parallel as the shuffle, never a low-cardinality funnel; the
    final ranking is TakeOrderedAndProject.  Varint width is computed
    with integer threshold sums, not log2 (Spark lowers LOG2 to
    ln(x)/ln(2), which is not exactly rounded at powers of two — a
    float-boundary trap the DuckDB twin would not reproduce)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    win = Window.partitionBy("w").orderBy("doc_id")
    gaps = tf.select(
        "w",
        "tf",
        (F.col("doc_id") - F.coalesce(F.lag("doc_id").over(win), F.lit(0)))
        .alias("gap"),
    )
    vbytes = (
        F.lit(1)
        + (F.col("gap") >= F.lit(1 << 7)).cast("int")
        + (F.col("gap") >= F.lit(1 << 14)).cast("int")
        + (F.col("gap") >= F.lit(1 << 21)).cast("int")
        + (F.col("gap") >= F.lit(1 << 28)).cast("int")
    )
    return (
        gaps.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.sum(vbytes.cast("bigint")).alias("posting_bytes"),
        )
        .orderBy(F.desc("df"), F.asc("w"))
        .limit(20)
    )


INVERTED_INDEX_SQL = """
WITH tf AS (
  SELECT w, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
  GROUP BY w, doc_id
), gaps AS (
  SELECT w, tf,
         doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY w ORDER BY doc_id), 0)
           AS gap
  FROM tf
)
SELECT w, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
       CAST(SUM(1 + CAST(gap >= 128 AS INT) + CAST(gap >= 16384 AS INT)
                + CAST(gap >= 2097152 AS INT)
                + CAST(gap >= 268435456 AS INT)) AS BIGINT) AS posting_bytes
FROM gaps
GROUP BY w
ORDER BY df DESC, w ASC
LIMIT 20
"""


def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content novelty: the fraction of each document's
    distinct shingles whose FIRST corpus occurrence (minimum doc_id) is
    that document, averaged per source.  Novelty decay is the
    curation signal behind crawl-snapshot pruning — a source whose new
    documents are mostly old shingles is re-crawl echo, not new data —
    and the min-doc formulation makes the order-dependent "seen before"
    notion order-independent and exactly recomputable.

    Scale shape: shingles travel as 8-byte xxhash64 longs; first-owner
    is ONE min-agg shuffle on the shingle key; attribution joins the
    (doc, shingle) stream back on the same key — a plain hash join that
    AQE may locally optimize but never broadcasts (the shingle
    vocabulary is corpus-sized); per-doc and per-source rollups follow.
    The DuckDB twin uses string shingles — identical up to ~n²/2⁶⁴ hash
    collisions (same argument as MINHASH_NEAR_DUP_SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    ds = docs.select(
        "source",
        "doc_id",
        F.explode(T.shingle_hashes("text")).alias("sh"),
    )
    first = ds.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ds.join(first, "sh")
        .groupBy("source", "doc_id")
        .agg(
            (
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("double"))
                / F.count(F.lit(1))
            ).alias("novelty")
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            T.round_stable(F.avg("novelty"), 4).alias("avg_novelty"),
        )
        .orderBy("source")
    )


SHINGLE_NOVELTY_SQL = """
WITH d AS (
  SELECT source, doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM (SELECT source, doc_id, string_split(text, ' ') AS w FROM documents) x
), ds AS (
  SELECT source, doc_id, unnest(sh) AS s FROM d
), first AS (
  SELECT s, MIN(doc_id) AS first_doc FROM ds GROUP BY s
), per_doc AS (
  SELECT ds.source, ds.doc_id,
         SUM(CAST(first.first_doc = ds.doc_id AS DOUBLE)) / COUNT(*)
           AS novelty
  FROM ds JOIN first ON ds.s = first.s
  GROUP BY ds.source, ds.doc_id
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(novelty) - 0.000000001, 4) + 0.0 AS avg_novelty
FROM per_doc GROUP BY source ORDER BY source
"""


def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (six merge rounds) — the
    data-dependent loop ``bpe_merge_candidates`` is one iteration of
    (Sennrich et al., arXiv 1508.07909).  Each round: count adjacent
    symbol pairs over the word-type relation weighted by word count
    (one partial-agg shuffle), pick the argmax pair (1-row bounded
    collect, tie-broken lexicographically so the result is
    partitioning-independent), apply the merge as a single JVM-side
    string replace, and report the resulting symbol-vocabulary size.

    Scale shape: training iterates over word TYPES (Heaps-law
    sublinear), never the token stream — see ``functions/bpe.py`` for
    the double-space merge-application encoding and the 100-TB
    argument.  Oracle: DuckDB recomputes every round's pair counts,
    argmax AND post-merge vocabulary from the corpus via the identical
    replace chain — only the chosen merge pairs are pinned (they must
    appear as replace literals in static SQL; tools/gen_bpe_oracle.py
    regenerates)."""
    docs = load_table(spark, sf_dir, "documents")
    rows = B.train_bpe(docs, rounds=6)
    return local_frame(
        spark, rows, "round int, pair string, pair_count bigint, vocab_size bigint"
    ).orderBy("round")


def bpe_tokenize_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode the corpus with the six trained
    BPE merges (`bpe_merge_rounds` is the training half) and report the
    per-language tokenizer-quality numbers a pipeline signs off on —
    fertility (BPE tokens per whitespace word; high fertility on a
    language means the tokenizer under-serves it) and chars-per-token
    (compression).  This is the apply step that prices a training run's
    token budget against the actual tokenizer instead of whitespace
    estimates.

    Scale shape: encoding runs over the per-language word-TYPE relation
    (one counting shuffle; Heaps-law sublinear), never the token stream
    — each type is encoded once and re-weighted by its count, so the
    apply pass costs vocabulary-sized string work plus one bounded agg.
    The merge chain is six JVM-side ``replace`` calls (the
    boundary-borrowing encoding in ``functions/bpe.py``), codegen
    throughout.  Oracle: DuckDB re-derives the type relation, replays
    the identical replace chain, and recomputes every aggregate — only
    the six trained pairs are pinned (tools/gen_bpe_apply_oracle.py;
    valid at the driver's sf0.01 check scale like the training
    oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [pair for (_r, pair, _c, _v) in B.train_bpe(docs, rounds=6)]
    types = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & F.col("word").rlike(B.ASCII_WORD_RE))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    s = B.char_symbol_string(F.col("word"))
    for pair in merges:
        a, b = pair.split(" ")
        s = B.apply_merge(s, a, b)
    enc = types.select(
        "lang",
        "wc",
        F.length("word").alias("nch"),
        F.size(B.symbols(s)).alias("nsym"),
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.sum("wc").alias("word_tokens"),
            F.sum(F.col("wc") * F.col("nsym")).alias("bpe_tokens"),
            F.sum(F.col("wc") * F.col("nch")).alias("chars"),
        )
        .selectExpr(
            "lang",
            "word_tokens",
            "bpe_tokens",
            "chars",
            "ROUND(CAST(bpe_tokens AS DOUBLE) / word_tokens - 0.000000001,"
            " 4) + 0.0 AS fertility",
            "ROUND(CAST(chars AS DOUBLE) / bpe_tokens - 0.000000001, 4)"
            " + 0.0 AS chars_per_token",
        )
        .orderBy("lang")
    )


# Shared Spark-SQL / DuckDB integer hash: first 8 hex nibbles of an md5
# column `m` as an exact BIGINT — moved to functions/sketch.py (round 6)
# so the streaming sketch-state path shares the identical text; aliased
# here because every .replace-derived probe below builds on it.
_HEX_INT = SK.HEX_INT


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, J. Algorithms 55(1))
    built RELATIONALLY, audited against exact counts for the top-20
    tokens: 4 hash rows × 1024 counters, estimate = min over rows of
    the addressed cell.  The CMS is how a 100 TB pipeline tracks
    heavy-hitter vocabulary in bounded memory; the audit reports the
    estimate alongside the exact count (estimate >= exact always; the
    gap is the collision mass the 4096-cell budget admits).

    Scale shape: the sketch is ONE partial-agg counting shuffle of
    (row, cell) pairs — 4 map-side hashes per token occurrence
    collapsing to <= 4096 rows, the textbook mergeable-sketch shuffle;
    the exact side is the word-count shuffle; the probe joins 80
    (row, cell) addresses of 20 tokens against the 4096-row sketch —
    broadcast-sized BY CONSTRUCTION (the sketch is fixed-size whatever
    the corpus).  Hashes are md5-nibble integers with expression text
    shared verbatim with the DuckDB twin — fully recomputed, nothing
    pinned."""
    width = 1024
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(T.tokens("text")).alias("w"))
    four_rows = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    # (token, row) -> cell address; same md5 text as the oracle.  The
    # 4-way row fan-out is a map-side explode, not a join.
    addressed = (
        tok.select("w", four_rows)
        .select(
            "w",
            "r",
            F.md5(
                F.concat(F.col("w"), F.lit(":"), F.col("r").cast("string"))
            ).alias("m"),
        )
        .selectExpr("w", "r", f"{_HEX_INT} % {width} AS cell")
    )
    sketch = addressed.groupBy("r", "cell").agg(
        F.count(F.lit(1)).alias("c")
    )
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), F.asc("w")).limit(20)
    probes = (
        top.select("w", "exact_count", four_rows)
        .select(
            "w",
            "exact_count",
            "r",
            F.md5(
                F.concat(F.col("w"), F.lit(":"), F.col("r").cast("string"))
            ).alias("m"),
        )
        .selectExpr("w", "exact_count", "r", f"{_HEX_INT} % {width} AS cell")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("w", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.desc("exact_count"), F.asc("w"))
    )


_CMS_ADDR = _HEX_INT.replace(
    "m,", "md5(w || ':' || CAST(r AS VARCHAR)),"
)

CMS_TOKEN_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), rows_t(r) AS (VALUES (0), (1), (2), (3)),
addressed AS (
  SELECT w, r, {_CMS_ADDR} % 1024 AS cell FROM tok CROSS JOIN rows_t
), sketch AS (
  SELECT r, cell, COUNT(*) AS c FROM addressed GROUP BY r, cell
), exact AS (
  SELECT w, COUNT(*) AS exact_count FROM tok GROUP BY w
), top AS (
  SELECT w, exact_count FROM exact
  ORDER BY exact_count DESC, w ASC LIMIT 20
), probes AS (
  SELECT w, exact_count, r, {_CMS_ADDR} % 1024 AS cell
  FROM top CROSS JOIN rows_t
)
SELECT p.w AS w, p.exact_count,
       CAST(MIN(s.c) AS BIGINT) AS cms_estimate
FROM probes p JOIN sketch s ON p.r = s.r AND p.cell = s.cell
GROUP BY p.w, p.exact_count
ORDER BY p.exact_count DESC, p.w ASC
"""


# HLL register rank / estimator fragments — see functions/sketch.py for
# the full float-determinism notes (integer threshold sums, never log2;
# leading CAST-to-DOUBLE against Spark's DECIMAL literal parsing).
_HLL_RHO = SK.HLL_RHO
_HLL_EST = SK.HLL_EST


def hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality sketch (Flajolet et al., AOFA 2007) built
    RELATIONALLY and audited against exact counts: per-language distinct
    3-shingle estimate from 1024 max-rank registers vs the exact
    COUNT(DISTINCT).  With CMS (frequency) and Bloom (membership) this
    completes the mergeable-sketch family a 100 TB pipeline runs where
    exact state does not fit: HLL tracks corpus cardinality in 1 KB per
    stream regardless of input size.

    Scale shape: ONE partial-agg max shuffle of (lang, bucket, rho) rows
    collapsing to <= langs x 1024 registers — the textbook mergeable
    sketch (register-wise max distributes over any partitioning); the
    raw estimate is pure arithmetic on the tiny register relation.  The
    exact side (the thing HLL replaces at scale) is kept here because
    the query IS the audit.  Hash = md5-nibble 32-bit integer split
    10/22 into bucket/sub-bits; rho via integer threshold sums (see
    _HLL_RHO); the harmonic sum is an EXACT integer numerator
    (sum of 2^(23-rho) via shiftleft) so only the final division is
    float — bit-identical in both engines.  No bias correction branch:
    the raw estimator plus the empty-register count is reported, which
    keeps the arithmetic branch-free and engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("lang", F.explode(T.shingles("text", 3)).alias("s"))
    reg = SK.hll_registers(sh, "lang")
    per_lang = (
        reg.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("present"),
            F.sum(F.expr("CAST(shiftleft(1, 23 - mr) AS BIGINT)")).alias(
                "snum_p"
            ),
        )
        .selectExpr(
            "lang",
            "1024 - present AS empty_registers",
            "(1024 - present) * 8388608 + snum_p AS snum",
        )
    )
    exact = sh.groupBy("lang").agg(
        F.count_distinct("s").alias("exact_distinct")
    )
    return (
        per_lang.join(exact, "lang")
        .selectExpr(
            "lang",
            "exact_distinct",
            f"{_HLL_EST} AS hll_estimate",
            "empty_registers",
        )
        .orderBy("lang")
    )


_HLL_ADDR = _HEX_INT.replace("(m,", "(md5(s),")

HLL_DISTINCT_SQL = f"""
WITH sh AS (
  SELECT lang, unnest({_duck_shingles(3)}) AS s
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
), hashed AS (
  SELECT lang, {_HLL_ADDR} AS h FROM sh
), addressed AS (
  SELECT lang, h % 1024 AS bucket, h // 1024 AS w FROM hashed
), rho_t AS (
  SELECT lang, bucket, {_HLL_RHO} AS rho FROM addressed
), reg AS (
  SELECT lang, bucket, MAX(rho) AS mr FROM rho_t GROUP BY lang, bucket
), per_lang AS (
  SELECT lang,
         1024 - COUNT(*) AS empty_registers,
         (1024 - COUNT(*)) * 8388608
           + CAST(SUM(CAST(1 AS BIGINT) << (23 - mr)) AS BIGINT) AS snum
  FROM reg GROUP BY lang
), exact AS (
  SELECT lang, COUNT(DISTINCT s) AS exact_distinct FROM sh GROUP BY lang
)
SELECT p.lang AS lang, e.exact_distinct,
       {_HLL_EST} AS hll_estimate,
       p.empty_registers
FROM per_lang p JOIN exact e ON p.lang = e.lang
ORDER BY lang
"""


def bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter (CACM 13(7)) false-positive-rate sweep, k = 1..5
    hash functions over a 65536-bit array: membership = the distinct
    3-shingles of source src0; probes = shingles of the OTHER sources
    that are exact non-members (left anti), so every positive is a
    false positive by construction.  This is the audit a pipeline runs
    to size the Bloom pre-filter in front of an expensive dedup join —
    the k-vs-FPR curve at the real load factor, not the textbook
    formula.

    Scale shape: the bit array is a bounded relation — member bits
    collapse to <= 65536 (bit -> MIN(j)) rows whatever the corpus, so
    the probe join is broadcast-sized BY CONSTRUCTION, like the CMS
    probe.  All five k configs share one pass: a probe bit is set in
    the k-config iff MIN(j) < k, so a prefix-max window over the
    probe's 5 hash rows (partitioned on the shingle, a
    corpus-cardinality key) answers every k at once — no per-k rescan.
    Integer arithmetic end-to-end; only the final FPR ratio divides,
    on exact integers."""
    docs = load_table(spark, sf_dir, "documents")

    def distinct_shingles(pred):
        return (
            docs.filter(pred)
            .select(F.explode(T.shingles("text", 3)).alias("s"))
            .distinct()
        )

    members = distinct_shingles(F.col("source") == "src0")
    negatives = distinct_shingles(F.col("source") != "src0").join(
        members, "s", "left_anti"
    )
    five = F.explode(F.array(*[F.lit(j) for j in range(5)])).alias("j")

    def bits(df):
        return df.select("s", five).select(
            "s",
            "j",
            F.md5(
                F.concat(F.col("s"), F.lit("#"), F.col("j").cast("string"))
            ).alias("m"),
        ).selectExpr("s", "j", f"{_HEX_INT} % 65536 AS bit")

    # bit -> earliest hash index that sets it; <= 65536 rows total
    mmb = bits(members).groupBy("bit").agg(F.min("j").alias("minj"))
    cov = (
        bits(negatives)
        .join(F.broadcast(mmb), "bit", "left")
        .selectExpr("s", "j", "COALESCE(minj + 1, 99) AS c")
    )
    # Per-probe prefix maxes as ONE hash aggregate (k = 1..5 columns) —
    # the previous per-shingle window sorted the corpus-cardinality
    # probe relation (s is a corpus key: 62.5M-row sort at the 64x
    # spotcheck, the query's whole scaling cost, ratio 3.2); the
    # aggregate collapses each probe's 5 hash rows map-side (they are
    # adjacent — same explode) and never sorts.  prefix_max over j < k
    # == max(when(j < k, c)), identical values.
    per_s = cov.groupBy("s").agg(
        *[
            F.max(F.when(F.col("j") < k, F.col("c"))).alias(f"m{k}")
            for k in range(1, 6)
        ]
    )
    fp = (
        per_s.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.when(F.col(f"m{k}") <= k, 1)
                        .otherwise(0)
                        .alias("fp"),
                    )
                    for k in range(1, 6)
                ])
            ).alias("e")
        )
        .groupBy(F.col("e.k").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("negatives_probed"),
            F.sum("e.fp").alias("false_positives"),
        )
    )
    ks = spark.range(5).selectExpr("CAST(id + 1 AS INT) AS k")
    bits_set = (
        ks.crossJoin(F.broadcast(mmb))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("minj") < F.col("k"), 1).otherwise(0)
            ).alias("bits_set")
        )
    )
    n_members = members.agg(
        F.count(F.lit(1)).alias("n_member_shingles")
    )
    return (
        fp.join(bits_set, "k")
        .crossJoin(F.broadcast(n_members))
        .selectExpr(
            "k",
            "n_member_shingles",
            "bits_set",
            "negatives_probed",
            "false_positives",
            "ROUND(false_positives / negatives_probed - 0.000000001, 4)"
            " + 0.0 AS observed_fpr",
        )
        .orderBy("k")
    )


_BLOOM_ADDR = _HEX_INT.replace(
    "(m,", "(md5(s || '#' || CAST(j AS VARCHAR)),"
)

BLOOM_FPR_SQL = f"""
WITH msh AS (
  SELECT DISTINCT unnest({_duck_shingles(3)}) AS s
  FROM (SELECT string_split(text, ' ') AS w FROM documents
        WHERE source = 'src0')
), osh AS (
  SELECT DISTINCT unnest({_duck_shingles(3)}) AS s
  FROM (SELECT string_split(text, ' ') AS w FROM documents
        WHERE source <> 'src0')
), neg AS (
  SELECT s FROM osh WHERE s NOT IN (SELECT s FROM msh)
), js(j) AS (VALUES (0), (1), (2), (3), (4)),
mmb AS (
  SELECT bit, MIN(j) AS minj
  FROM (SELECT s, j, {_BLOOM_ADDR} % 65536 AS bit FROM msh CROSS JOIN js)
  GROUP BY bit
), pbits AS (
  SELECT s, j, {_BLOOM_ADDR} % 65536 AS bit FROM neg CROSS JOIN js
), cov AS (
  SELECT p.s, p.j, COALESCE(m.minj + 1, 99) AS c
  FROM pbits p LEFT JOIN mmb m ON p.bit = m.bit
), pref AS (
  SELECT s, j + 1 AS k,
         MAX(c) OVER (PARTITION BY s ORDER BY j
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prefix_max
  FROM cov
), fp AS (
  SELECT k, COUNT(*) AS negatives_probed,
         CAST(SUM(CASE WHEN prefix_max <= k THEN 1 ELSE 0 END) AS BIGINT)
           AS false_positives
  FROM pref GROUP BY k
), bits_set_t AS (
  SELECT js.j + 1 AS k,
         CAST(SUM(CASE WHEN m.minj < js.j + 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS bits_set
  FROM js CROSS JOIN mmb m GROUP BY js.j
)
SELECT f.k, (SELECT COUNT(*) FROM msh) AS n_member_shingles,
       b.bits_set, f.negatives_probed, f.false_positives,
       ROUND(f.false_positives / f.negatives_probed - 0.000000001, 4)
         + 0.0 AS observed_fpr
FROM fp f JOIN bits_set_t b ON f.k = b.k
ORDER BY f.k
"""


# Shared Spark-SQL / DuckDB arithmetic: deterministic uniform u in (0,1)
# from the first 8 hex chars of an md5 column `m` — identical expression
# TEXT on both engines so the doubles are bit-identical.  (+1e-12 keeps
# u > 0 for the ~16^-8 all-zero-nibble case on both sides.)
_HEX_UNIFORM = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(m, {i}, 1)) - 1) / {16.0 ** i:.1f}"
        for i in range(1, 9)
    )
    + " + 1e-12)"
)


def weighted_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-Spirakis
    exponential-key trick (Inf. Proc. Letters 97(5), 2006): each doc
    draws a deterministic uniform u from md5(doc_id) and takes key
    ``ln(u) / weight``; the k LARGEST keys are exactly a weight-
    proportional sample without replacement.  Weight = n_chars, so the
    sample is token-mass-proportional — the standard way to subsample a
    corpus for a pilot run without a central random state.

    Scale shape: the key is map-side arithmetic on the scan (no
    shuffle); top-k compiles to TakeOrderedAndProject — per-partition
    heaps + a k-row driver merge, never a global sort.  At 100 TB this
    is the cheapest possible distributed sampler: one pass, no state,
    reproducible.  The uniform comes from md5 hex nibbles (not
    xxhash64) because the oracle must reproduce it: the arithmetic
    fragment is the SAME expression text in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ws"))).alias("m"),
    ).selectExpr(
        "doc_id",
        "source",
        "n_chars",
        f"ln{_HEX_UNIFORM} / n_chars AS raw_key",
    )
    top = keyed.orderBy(F.desc("raw_key"), F.asc("doc_id")).limit(25)
    w = Window.orderBy(F.desc("raw_key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "source",
        "n_chars",
        T.round_stable(F.col("raw_key"), 6).alias("es_key"),
    ).orderBy("rank")


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln{_HEX_UNIFORM.replace("m,", "md5(CAST(doc_id AS VARCHAR) || ':ws'),")}
           / n_chars AS raw_key
  FROM documents
), ranked AS (
  SELECT doc_id, source, n_chars, raw_key,
         ROW_NUMBER() OVER (ORDER BY raw_key DESC, doc_id ASC) AS rank
  FROM keyed
)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, source, n_chars,
       ROUND(raw_key - 0.000000001, 6) + 0.0 AS es_key
FROM ranked WHERE rank <= 25 ORDER BY rank
"""


# KMV estimators on a 190-row pair relation, written with identical
# literal text in both engines: 1095216660480.0 = (K-1) * 2^32 for
# K = 256; (v + 1.0) maps the integer hash to a strictly-positive
# uniform so the kth-order-statistic estimator never divides by zero.
_KMV_UNION = (
    "(CASE WHEN m_union_vals < 256 THEN CAST(m_union_vals AS DOUBLE)"
    " ELSE CAST(1095216660480.0 AS DOUBLE) / (vk + 1.0) END)"
)
_KMV_INTER = (
    "(CASE WHEN m_union_vals < 256 THEN CAST(c_both AS DOUBLE)"
    f" ELSE (CAST(c_both AS DOUBLE) / 256.0) * {_KMV_UNION} END)"
)


def _kmv_bottom_k(hv: DataFrame, k_min: int) -> DataFrame:
    """Two-phase bottom-K per source (exact: the global bottom-K is a
    subset of the union of per-salt bottom-Ks), so the corpus-cardinality
    relation is never window-partitioned on the bare low-cardinality
    source key."""
    w1 = Window.partitionBy("source", F.col("v") % 64).orderBy("v")
    w2 = Window.partitionBy("source").orderBy("v")
    return (
        hv.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= k_min)
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= k_min)
        .select("source", "v")
    )


def _kmv_pair_stats(plist: DataFrame, kmv: DataFrame, k_min: int) -> DataFrame:
    """Per source pair, the union-sketch statistics the KMV estimators
    read: m_union_vals (distinct values across both sketches), vk (the
    K-th smallest), c_both (values present in both sketches among the K
    smallest).  Everything here runs on <= pairs x 2K rows."""
    ka, kb = kmv.alias("ka"), kmv.alias("kb")
    rows_a = plist.join(
        ka, F.col("ka.source") == F.col("src_a")
    ).select("src_a", "src_b", "v", F.lit(1).alias("fa"), F.lit(0).alias("fb"))
    rows_b = plist.join(
        kb, F.col("kb.source") == F.col("src_b")
    ).select("src_a", "src_b", "v", F.lit(0).alias("fa"), F.lit(1).alias("fb"))
    merged = (
        rows_a.unionByName(rows_b)
        .groupBy("src_a", "src_b", "v")
        .agg(F.max("fa").alias("fa"), F.max("fb").alias("fb"))
    )
    wp = Window.partitionBy("src_a", "src_b").orderBy("v")
    return (
        merged.withColumn("r", F.row_number().over(wp))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("m_union_vals"),
            F.max(F.when(F.col("r") <= k_min, F.col("v"))).alias("vk"),
            F.sum(
                F.when(
                    (F.col("r") <= k_min)
                    & (F.col("fa") == 1)
                    & (F.col("fb") == 1),
                    1,
                ).otherwise(0)
            ).alias("c_both"),
        )
    )


def kmv_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the KMV overlap estimator: sketch only, no
    exact audit.  ``kmv_source_overlap`` (below) deliberately carries the
    exact distinct-pair relation next to the estimate because that query
    IS the audit — but the exact side is also its entire scaling cost
    (r8 64x decomposition: exact pairwise self-join ~12.6 s of the
    total), and at 100 TB nobody runs the audit per sweep.  This twin is
    what the mirror-detection pipeline actually deploys: identical hash,
    identical sketch build, identical estimators — the audited query
    certifies the arithmetic, this one carries the scaling claim.

    Scale shape — the corpus-cardinality relation is never sorted and
    never globally deduplicated.  Bottom-K only needs values BELOW the
    K-th smallest, so the plan prunes first and proves the prune safe
    after:

    1. a metadata-cheap documents aggregate (sum of (n_chars+1)/2 — no
       tokenization, no explode, no hashing; a word needs >= 2 chars of
       text) upper-bounds each source's distinct shingle count;
    2. a conservative per-source threshold (hash values are uniform in
       [0, 2^32)) keeps ~16K expected distinct survivors at a tight
       bound — the explode+hash runs ONCE, fused with the prune filter
       in the scan stage, and the DISTINCT and the two-phase bottom-K
       windows see thousands of rows per source instead of the
       corpus-cardinality relation;
    3. exactness never rests on the estimate: the verification is read
       off the bottom-K itself (a source whose K-th rank never filled
       pruned too hard) and only those sources rescan their full
       relation (anything below the threshold was kept, so a filled
       bottom-K proves the true bottom-K is inside the survivors).  The
       fallback runs zero Spark jobs in the common case — the under
       list is checked driver-side against the bounded sketch.

    The pair stage runs on <= pairs x 512 rows.  No self-join anywhere;
    the audited twin certifies the estimator arithmetic on the exact
    (unpruned) build — this plan provably returns identical sketches."""
    k_min = 256
    docs = load_table(spark, sf_dir, "documents")
    raw = (
        docs.select("source", F.explode(T.shingles("text", 3)).alias("s"))
        .select(
            "source", F.md5(F.concat(F.col("s"), F.lit(":kmv"))).alias("m")
        )
        .selectExpr("source", f"{_HEX_INT} AS v")
    )
    full_range = 1 << 32
    # Metadata-cheap pass over the DOCUMENTS (no tokenization): a word
    # needs at least 2 characters of text (1 letter + separator), so
    # sum((n_chars + 1) / 2) per source upper-bounds its token — hence
    # shingle, hence distinct-value — count D.  Hash values are uniform
    # in [0, 2^32), so keeping v below 2^32 * 16K / D_upper retains
    # ~16K * (D / D_upper) expected distinct survivors: >= K with wide
    # margin even at the bound's ~4x typical looseness.  Collected
    # driver-side (one row per source, the whitelisted bounded shape).
    thr_rows = [
        (
            r.source,
            min(
                full_range,
                int(full_range * 16.0 * k_min / max(int(r.ub), 1)),
            ),
        )
        for r in docs.groupBy("source")
        .agg(
            F.sum(
                F.floor((F.col("n_chars") + 1) / 2).cast("bigint")
            ).alias("ub")
        )
        .collect()
    ]
    # The ONE heavy pass over the shingle relation: explode, hash,
    # prune against the per-source threshold (a literal map lookup —
    # no join, the scan stage stays one fused codegen stage), dedup
    # only the survivors, rank.  The bottom-K output is bounded
    # (<= K x sources rows) and materialized eagerly so the
    # verification and the pair stage read it without recomputation.
    thr_map = F.create_map(
        *[F.lit(x) for s, t in thr_rows for x in (s, t)]
    )
    pruned = (
        raw.filter(F.col("v") < F.element_at(thr_map, F.col("source")))
        .select("source", "v")
        .distinct()
    )
    # bounded per run (<= K x sources rows), and bounded ACROSS runs:
    # the previous invocation's blocks are freed first (the r11 advisor
    # leak class, fixed for pipeline_health in r11 and here in r12)
    kmv0 = _checkpoint_bounded(
        _kmv_bottom_k(pruned, k_min), "kmv_sketch_bottom_k"
    )
    filled = {
        r.source: r.m
        for r in kmv0.groupBy("source")
        .agg(F.count(F.lit(1)).alias("m"))
        .collect()
    }
    # a source pruned UNSAFELY iff it pruned at all (t < 2^32) and its
    # bottom-K never filled — only those rescan their relation; the
    # common case is an empty list and the fallback never runs.
    under = [
        s
        for s, t in thr_rows
        if t < full_range and filled.get(s, 0) < k_min
    ]
    if under:
        fallback = (
            raw.filter(F.col("source").isin(under))
            .select("source", "v")
            .distinct()
        )
        kmv = kmv0.filter(~F.col("source").isin(under)).unionByName(
            _kmv_bottom_k(fallback, k_min)
        )
    else:
        kmv = kmv0
    sources = kmv.select("source").distinct()
    sa, sb = sources.alias("sa"), sources.alias("sb")
    plist = sa.join(sb, F.col("sa.source") < F.col("sb.source")).select(
        F.col("sa.source").alias("src_a"),
        F.col("sb.source").alias("src_b"),
    )
    per_pair = _kmv_pair_stats(plist, kmv, k_min)
    return (
        per_pair.selectExpr(
            "src_a",
            "src_b",
            f"ROUND({_KMV_UNION} - 0.000000001, 2) + 0.0 AS kmv_union_est",
            f"ROUND({_KMV_INTER} - 0.000000001, 2) + 0.0"
            " AS kmv_intersection_est",
            "ROUND(c_both / (CASE WHEN m_union_vals < 256 THEN m_union_vals"
            " ELSE 256 END) - 0.000000001, 4) + 0.0 AS kmv_jaccard_est",
        )
        .orderBy("src_a", "src_b")
    )


def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch (Beyer et al., SIGMOD 2007) SET
    OPERATIONS, audited against exact counts: pairwise source
    union/intersection cardinality estimated from two 256-value
    sketches instead of the full distinct-shingle relations.  This is
    the sketch the mirror-detection sweep (`source_overlap_matrix`)
    degrades to at 100 TB: per-source state is 256 longs regardless of
    corpus size, sketches union by keeping the 256 smallest of the
    merged values (mergeable like CMS/HLL/Bloom), and the intersection
    estimate is ``(|both| / K) * D_union`` over the union sketch's K
    smallest values — the standard KMV Jaccard trick.  The sampled twin
    (``kmv_source_overlap_sampled``) runs this same audit on the
    deterministic hash-sample — the fixed-cost scheduled form.

    Scale shape: ONE distinct shuffle materializes the (source,
    hash-value) relation for all consumers (ReusedExchange); per-source
    bottom-K is two-phase — rank within (source, v % 64) salt buckets
    first, then rank the <= 64*K survivors — so the corpus-cardinality
    relation is never window-partitioned on the bare low-cardinality
    source key.  Everything after the sketch build runs on <= 190 pairs
    x 512 values.  The exact side (kept because the query IS the audit)
    joins on the same 32-bit values, so both engines see identical
    collision behavior.  Hash = md5-nibble 32-bit with the expression
    text shared verbatim; the estimator divides once, on identical
    literals."""
    return _kmv_source_overlap(load_table(spark, sf_dir, "documents"))


def kmv_source_overlap_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-cost scheduled form of the KMV overlap AUDIT: the
    identical audited query (exact distinct-pair relation + sketch
    estimates side by side) over the deterministic FIXED-SIZE
    hash-sample (``sources.tables.sample_documents_fixed_size`` — the
    md5(doc_id)-prefix threshold is derived from the live corpus count
    each run via ``nibble_for_target``, mirrored bit-for-bit by a
    scalar subquery in the oracle, pushed into the scan).  The r8/r9 64x decomposition
    showed the audit's cost IS its exact side (distinct-relation build +
    pairwise self-join, linear-with-corpus by definition); a uniform doc
    sample bounds exactly that side while exercising the full estimator
    arithmetic against a real exact answer — and because sampled
    per-source shingle sets are subsets of the full sets, the sampled
    exact union/intersection are provably <= the full audit's
    (tests/test_sampled_twins.py).  The derived threshold holds the
    sampled relation at ~PIPELINE_SAMPLE_TARGET_DOCS documents per
    scheduled audit at ANY corpus scale — fixed size, not fixed
    fraction; ``kmv_source_overlap_sketch`` remains the per-sweep
    production estimator and the full audit the run-once value gate."""
    return _kmv_source_overlap(
        sample_documents_fixed_size(load_table(spark, sf_dir, "documents"))
    )


def _kmv_source_overlap(docs: DataFrame) -> DataFrame:
    k_min = 256
    hv = (
        docs.select("source", F.explode(T.shingles("text", 3)).alias("s"))
        .select(
            "source", F.md5(F.concat(F.col("s"), F.lit(":kmv"))).alias("m")
        )
        .selectExpr("source", f"{_HEX_INT} AS v")
        .distinct()
        # materialize once for the three consumers below (sketch build,
        # per-source counts, exact pair join) — ReusedExchange
        .repartition(F.col("v"))
    )
    counts = hv.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = hv.alias("a"), hv.hint("shuffle_hash").alias("b")
    exact_pairs = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    kmv = _kmv_bottom_k(hv, k_min)
    ca, cb = counts.alias("ca"), counts.alias("cb")
    plist = (
        ca.join(cb, F.col("ca.source") < F.col("cb.source"))
        .select(
            F.col("ca.source").alias("src_a"),
            F.col("cb.source").alias("src_b"),
            F.col("ca.n").alias("na"),
            F.col("cb.n").alias("nb"),
        )
    )
    per_pair = _kmv_pair_stats(plist, kmv, k_min)
    return (
        plist.join(exact_pairs, ["src_a", "src_b"], "left")
        .join(per_pair, ["src_a", "src_b"])
        .selectExpr(
            "src_a",
            "src_b",
            "na + nb - COALESCE(shared, 0) AS exact_union",
            "COALESCE(shared, 0) AS exact_intersection",
            f"ROUND({_KMV_UNION} - 0.000000001, 2) + 0.0 AS kmv_union_est",
            f"ROUND({_KMV_INTER} - 0.000000001, 2) + 0.0"
            " AS kmv_intersection_est",
            "ROUND(c_both / (CASE WHEN m_union_vals < 256 THEN m_union_vals"
            " ELSE 256 END) - 0.000000001, 4) + 0.0 AS kmv_jaccard_est",
        )
        .orderBy("src_a", "src_b")
    )


_KMV_ADDR = _HEX_INT.replace("(m,", "(md5(s || ':kmv'),")

def _kmv_overlap_sql(where: str) -> str:
    """KMV audited-overlap oracle over the documents satisfying
    ``where`` (a pure doc_id predicate — 'TRUE' for the full audit,
    the shared hash-sample predicate for the sampled twin)."""
    return f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({_duck_shingles(3)}) AS s
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents
        WHERE ({where}))
), hv AS (
  SELECT DISTINCT source, {_KMV_ADDR} AS v FROM sh
), counts AS (
  SELECT source, COUNT(*) AS n FROM hv GROUP BY source
), exact_pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
  FROM hv a JOIN hv b ON a.v = b.v AND a.source < b.source
  GROUP BY 1, 2
), ranked AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS r
  FROM hv
), kmv AS (
  SELECT source, v FROM ranked WHERE r <= 256
), plist AS (
  SELECT ca.source AS src_a, cb.source AS src_b, ca.n AS na, cb.n AS nb
  FROM counts ca JOIN counts cb ON ca.source < cb.source
), rows_ab AS (
  SELECT p.src_a, p.src_b, k.v, 1 AS fa, 0 AS fb
  FROM plist p JOIN kmv k ON k.source = p.src_a
  UNION ALL
  SELECT p.src_a, p.src_b, k.v, 0 AS fa, 1 AS fb
  FROM plist p JOIN kmv k ON k.source = p.src_b
), merged AS (
  SELECT src_a, src_b, v, MAX(fa) AS fa, MAX(fb) AS fb
  FROM rows_ab GROUP BY 1, 2, 3
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY v) AS r
  FROM merged
), per_pair AS (
  SELECT src_a, src_b, COUNT(*) AS m_union_vals,
         MAX(CASE WHEN r <= 256 THEN v END) AS vk,
         CAST(SUM(CASE WHEN r <= 256 AND fa = 1 AND fb = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_both
  FROM rk GROUP BY 1, 2
)
SELECT p.src_a, p.src_b,
       p.na + p.nb - COALESCE(e.shared, 0) AS exact_union,
       COALESCE(e.shared, 0) AS exact_intersection,
       ROUND({_KMV_UNION} - 0.000000001, 2) + 0.0 AS kmv_union_est,
       ROUND({_KMV_INTER} - 0.000000001, 2) + 0.0 AS kmv_intersection_est,
       ROUND(c_both / (CASE WHEN m_union_vals < 256 THEN m_union_vals
                            ELSE 256 END) - 0.000000001, 4) + 0.0
         AS kmv_jaccard_est
FROM plist p
LEFT JOIN exact_pairs e ON p.src_a = e.src_a AND p.src_b = e.src_b
JOIN per_pair pp ON p.src_a = pp.src_a AND p.src_b = pp.src_b
ORDER BY p.src_a, p.src_b
"""


KMV_OVERLAP_SQL = _kmv_overlap_sql("TRUE")

KMV_OVERLAP_SAMPLED_SQL = _kmv_overlap_sql(
    DUCK_DOC_SAMPLE_WHERE_FIXED_SIZE
)

KMV_OVERLAP_SKETCH_SQL = f"""
WITH sh AS (
  SELECT DISTINCT source, unnest({_duck_shingles(3)}) AS s
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents)
), hv AS (
  SELECT DISTINCT source, {_KMV_ADDR} AS v FROM sh
), ranked AS (
  SELECT source, v,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS r
  FROM hv
), kmv AS (
  SELECT source, v FROM ranked WHERE r <= 256
), plist AS (
  SELECT sa.source AS src_a, sb.source AS src_b
  FROM (SELECT DISTINCT source FROM kmv) sa
  JOIN (SELECT DISTINCT source FROM kmv) sb ON sa.source < sb.source
), rows_ab AS (
  SELECT p.src_a, p.src_b, k.v, 1 AS fa, 0 AS fb
  FROM plist p JOIN kmv k ON k.source = p.src_a
  UNION ALL
  SELECT p.src_a, p.src_b, k.v, 0 AS fa, 1 AS fb
  FROM plist p JOIN kmv k ON k.source = p.src_b
), merged AS (
  SELECT src_a, src_b, v, MAX(fa) AS fa, MAX(fb) AS fb
  FROM rows_ab GROUP BY 1, 2, 3
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY v) AS r
  FROM merged
), per_pair AS (
  SELECT src_a, src_b, COUNT(*) AS m_union_vals,
         MAX(CASE WHEN r <= 256 THEN v END) AS vk,
         CAST(SUM(CASE WHEN r <= 256 AND fa = 1 AND fb = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_both
  FROM rk GROUP BY 1, 2
)
SELECT src_a, src_b,
       ROUND({_KMV_UNION} - 0.000000001, 2) + 0.0 AS kmv_union_est,
       ROUND({_KMV_INTER} - 0.000000001, 2) + 0.0 AS kmv_intersection_est,
       ROUND(c_both / (CASE WHEN m_union_vals < 256 THEN m_union_vals
                            ELSE 256 END) - 0.000000001, 4) + 0.0
         AS kmv_jaccard_est
FROM per_pair
ORDER BY src_a, src_b
"""


# Shared Spark-SQL / DuckDB fragments for the histogram quantile sketch:
# bin width (floored at 1e-9 so a constant column bins to 0 instead of
# dividing by zero), bin address, and the interpolated estimate.  The
# CAST(128.0 AS DOUBLE) keeps Spark off its DECIMAL literal type.
_QSK_W = "greatest((mx - mn) / CAST(128.0 AS DOUBLE), 0.000000001)"
_QSK_BIN = (
    f"CAST(least(127, CAST(floor((tc - mn) / {_QSK_W}) AS BIGINT)) AS INT)"
)
_QSK_EST = f"(mn + {_QSK_W} * (bin + (t - cumb) / c))"


def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch audited against exact percentiles: the
    mergeable one-pass estimator `doc_length_percentiles` promises to
    swap in at 100 TB (its exact ``percentile`` aggregate buffers every
    value per group — fine at audit scale, impossible at corpus scale).
    Per-language token-count quantiles (p25/p50/p90/p99) estimated by
    linear interpolation inside a 128-bin equi-width histogram, reported
    next to the exact sort-based value so the audit IS the error bound.

    Scale shape: two bounded counting shuffles — an O(1)-state min/max/
    count agg, then the (lang, bin) histogram agg, <= langs x 128 rows
    whatever the corpus (bin counts partial-aggregate map-side and merge
    by addition: the textbook mergeable sketch).  The quantile pick,
    interpolation, and exact join all run on the bounded histogram
    relation.  The exact side (the thing the sketch replaces at scale)
    is kept because the query IS the audit.  Every float step is shared
    expression text — one division in the width, one in the
    interpolation, on identical literals."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang", T.token_count("text").cast("double").alias("tc")
    )
    bounds = base.groupBy("lang").agg(
        F.min("tc").alias("mn"),
        F.max("tc").alias("mx"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    binned = base.join(F.broadcast(bounds), "lang").selectExpr(
        "lang", f"{_QSK_BIN} AS bin"
    )
    hist = binned.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumt = hist.withColumn("cum", F.sum("c").over(wcum))
    # 4 quantile targets per language: a map-side explode over the tiny
    # bounds relation — no join introduced
    qlits = F.array(*[F.expr(f"CAST({q} AS DOUBLE)") for q in
                      ("0.25", "0.5", "0.9", "0.99")])
    qrows = bounds.select(
        "lang", "mn", "mx", "n_docs", F.explode(qlits).alias("q")
    ).selectExpr(
        "lang", "mn", "mx", "n_docs", "q",
        "CAST(1.0 AS DOUBLE) + q * (n_docs - 1) AS t",
    )
    hit = (
        qrows.join(cumt, "lang")
        .filter((F.col("cum") >= F.col("t")) & (F.col("cum") - F.col("c") < F.col("t")))
        .selectExpr(
            "lang", "q", "n_docs",
            "cum - c AS cumb", "c", "bin", "mn", "mx", "t",
        )
    )
    exact = base.groupBy("lang").agg(
        *[
            T.round_stable(F.expr(f"percentile(tc, {q})"), 2).alias(f"e{i}")
            for i, q in enumerate(("0.25", "0.5", "0.9", "0.99"))
        ]
    )
    exact_long = exact.selectExpr(
        "lang",
        "stack(4, CAST(0.25 AS DOUBLE), e0, CAST(0.5 AS DOUBLE), e1,"
        " CAST(0.9 AS DOUBLE), e2, CAST(0.99 AS DOUBLE), e3)"
        " AS (q, exact_pctl)",
    )
    return (
        hit.join(exact_long, ["lang", "q"])
        .selectExpr(
            "lang",
            "q",
            "n_docs",
            "exact_pctl",
            f"ROUND({_QSK_EST} - 0.000000001, 2) + 0.0 AS hist_estimate",
        )
        .orderBy("lang", "q")
    )


QUANTILE_SKETCH_SQL = f"""
WITH base AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS DOUBLE) AS tc
  FROM documents
), bounds AS (
  SELECT lang, MIN(tc) AS mn, MAX(tc) AS mx, COUNT(*) AS n_docs
  FROM base GROUP BY lang
), binned AS (
  SELECT lang, {_QSK_BIN} AS bin FROM base JOIN bounds USING (lang)
), hist AS (
  SELECT lang, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
), cumt AS (
  SELECT lang, bin, c,
         SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum
  FROM hist
), qs(q) AS (
  VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
         (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))
), qrows AS (
  SELECT lang, mn, mx, n_docs, q,
         CAST(1.0 AS DOUBLE) + q * (n_docs - 1) AS t
  FROM bounds CROSS JOIN qs
), hit AS (
  SELECT r.lang, r.q, r.n_docs, h.cum - h.c AS cumb, h.c, h.bin,
         r.mn, r.mx, r.t
  FROM qrows r JOIN cumt h ON r.lang = h.lang
  WHERE h.cum >= r.t AND h.cum - h.c < r.t
), exact AS (
  SELECT lang,
         ROUND(quantile_cont(tc, 0.25) - 0.000000001, 2) + 0.0 AS e0,
         ROUND(quantile_cont(tc, 0.5) - 0.000000001, 2) + 0.0 AS e1,
         ROUND(quantile_cont(tc, 0.9) - 0.000000001, 2) + 0.0 AS e2,
         ROUND(quantile_cont(tc, 0.99) - 0.000000001, 2) + 0.0 AS e3
  FROM base GROUP BY lang
), exact_long AS (
  SELECT lang, CAST(0.25 AS DOUBLE) AS q, e0 AS exact_pctl FROM exact
  UNION ALL
  SELECT lang, CAST(0.5 AS DOUBLE), e1 FROM exact
  UNION ALL
  SELECT lang, CAST(0.9 AS DOUBLE), e2 FROM exact
  UNION ALL
  SELECT lang, CAST(0.99 AS DOUBLE), e3 FROM exact
)
SELECT h.lang AS lang, h.q AS q, h.n_docs, e.exact_pctl,
       ROUND({_QSK_EST} - 0.000000001, 2) + 0.0 AS hist_estimate
FROM hit h JOIN exact_long e ON h.lang = e.lang AND h.q = e.q
ORDER BY lang, q
"""


# Bounded-residency localCheckpoint discipline: see
# plans/residency.py for the registry and the return contract (one
# resident checkpoint per (operator tag, SparkContext); a prior
# invocation's returned DataFrame must be consumed before the next
# invocation of the same operator runs).
from ..plans.residency import checkpoint_bounded as _checkpoint_bounded


def pipeline_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring tier folded into ONE dashboard-shaped relation —
    the operator a pipeline owner actually schedules: every health head
    (EWMA hourly burst detection, PSI length drift per source, MinHash
    estimator calibration, cross-modality dedup agreement) reshaped to
    (tag, metric, value, alert) and unioned, so one scheduled query
    feeds one alerting dashboard instead of four ad-hoc reads.

    Heads and their alert rules:
    - ``ewma_burst``: per (event_type, hour), |ln(count/EWMA)| with the
      1.5x-ratio burst flag (``ewma_hourly_baseline``'s top-50);
    - ``psi_drift``: per source, the decile-bin PSI vs the corpus with
      the standard PSI > 0.2 'significant shift' alert;
    - ``minhash_calibration``: per exact-Jaccard decile bin, the mean
      |estimate - exact| with an alert at the binomial sigma bound
      sqrt(J(1-J)/32) <= 0.0883 — an estimator drifting past its own
      error model;
    - ``dedup_agreement``: per modality-flag cell, the pair count with
      an alert on single-modality cells (the disagreement mass a
      modality ladder needs explained).

    The calibration and agreement heads use the SAMPLED production
    twins — this composite is the scheduled form, so every head must be
    fixed-cost at 100 TB (the full-corpus calibrators remain the
    run-once value gates).  The sample is FIXED-SIZE, not
    fixed-fraction: the hex-prefix threshold is derived from the live
    corpus count via ``nibble_for_target`` each run (expected
    ~PIPELINE_SAMPLE_TARGET_DOCS documents at ANY corpus scale —
    docs/SCALING.md measures fixed-fraction at 2.9x vs fixed-size 1.9x
    at 64x), and the oracle derives the IDENTICAL threshold inside
    DuckDB (scalar subquery over the same count, bit-for-bit the Python
    integer arithmetic).  Scale shape: a union of four
    individually-bounded heads (each's 64x/16x evidence in
    docs/SCALING.md); the union adds no shuffle — each head's plan runs
    unchanged and the outputs concatenate — and the SAMPLED documents
    relation is materialized ONCE (eager localCheckpoint, bounded by
    the fixed-size sample contract; lineage truncation measured ~4 s
    cheaper than a persist cache across the two calibrator heads at
    sf0.1) and shared by both heads, so the composite scans the corpus
    for its sample once instead of once per head.  Repeated scheduled
    runs in one session do not accumulate storage: each invocation
    unpersists the previous run's checkpointed RDD (reached through its
    LogicalRDD plan node) before checkpointing its own, so at most one
    sample is ever resident.  Oracle: the same four oracle queries
    reshaped and unioned verbatim."""
    from .events import ewma_hourly_baseline
    from .llm import (
        _dedup_modality_agreement,
        _minhash_estimate_calibration,
    )

    docs_s = _checkpoint_bounded(
        sample_documents_fixed_size(load_table(spark, sf_dir, "documents")),
        "pipeline_health_sample",
    )

    def _ewma():
        return ewma_hourly_baseline(spark, sf_dir).selectExpr(
            "'ewma_burst' AS tag",
            "concat(event_type, '@', CAST(hour_start AS STRING)) AS metric",
            "burst_score AS value",
            "is_burst AS alert",
        )

    def _psi():
        return source_psi_drift(spark, sf_dir).selectExpr(
            "'psi_drift' AS tag",
            "source AS metric",
            "psi AS value",
            "CAST(CASE WHEN psi > 0.2 THEN 1 ELSE 0 END AS INT) AS alert",
        )

    def _cal():
        return _minhash_estimate_calibration(docs_s).selectExpr(
            "'minhash_calibration' AS tag",
            "concat('bin_', CAST(j_bin AS STRING)) AS metric",
            "mean_abs_err AS value",
            "CAST(CASE WHEN mean_abs_err > 0.0883 THEN 1 ELSE 0 END AS INT)"
            " AS alert",
        )

    def _agr():
        return _dedup_modality_agreement(docs_s).selectExpr(
            "'dedup_agreement' AS tag",
            "concat('e', CAST(in_exact AS STRING), 'm',"
            " CAST(in_minhash AS STRING), 's', CAST(in_simhash AS STRING))"
            " AS metric",
            "CAST(pair_count AS DOUBLE) AS value",
            "CAST(CASE WHEN in_exact + in_minhash + in_simhash = 1"
            " THEN 1 ELSE 0 END AS INT) AS alert",
        )

    def _media():
        return _media_health(docs_s)

    # Overlap the five INDEPENDENT heads as concurrent jobs (guide
    # §2.6, r13): per-head noop timings at sf0.1 — ewma 0.4 s, psi
    # 1.8 s, calibration 1.4 s, agreement 3.8 s, media 1.5 s — sum to
    # ~9 s executed as one lazy plan because each head is a deep chain
    # of small stages that never fills local[32]; five driver threads
    # materialize each head's (tag, metric, value, alert) relation
    # (dashboard-row-bounded, a few hundred rows) and the union reads
    # the checkpoints.  Residency-bounded per tag, same
    # consume-before-next-invocation contract as the sample above.
    from concurrent.futures import ThreadPoolExecutor

    heads = [
        ("pipeline_health_head_ewma", _ewma),
        ("pipeline_health_head_psi", _psi),
        ("pipeline_health_head_cal", _cal),
        ("pipeline_health_head_agr", _agr),
        ("pipeline_health_head_media", _media),
    ]
    with ThreadPoolExecutor(max_workers=len(heads)) as pool:
        outs = list(
            pool.map(
                lambda th: _checkpoint_bounded(th[1](), th[0]), heads
            )
        )
    ewma, psi, cal, agr, media = outs
    return (
        ewma.unionByName(psi).unionByName(cal).unionByName(agr)
        .unionByName(media)
        .orderBy("tag", "metric")
    )


def _media_health(docs_s: DataFrame) -> DataFrame:
    """The modality head of the scheduled dashboard (r11 verdict
    stretch #8): over the SAME fixed-size document sample, (a) the REAL
    PNG decode-error rate — payloads are built by the real encoder and
    a deterministic 1-in-7 subset is truncated 6 bytes (clipping the
    IEND trailer, which the CRC'd chunk walk must reject), each then
    actually DECODE-ATTEMPTED in an Arrow batch; (b) the media
    duplicate rate — 1 - distinct payload fingerprints / sample size,
    a JVM-side md5 aggregate (fixture payloads are byte-identical
    exactly within a doc_id % 261 class).  Both rates have closed
    forms over the sample predicate, so the oracle replays them from
    doc_id arithmetic alone.  Fixed-cost at any corpus size: every
    stage is bounded by the ~1,200-doc sample."""
    from ..sources.multimodal import media_png_from_documents, png_decode

    png = media_png_from_documents(docs_s)

    # ONE pass over the sample's PNG payloads computing BOTH health
    # signals (the old form ran the PNG encoder twice — once under the
    # decode-attempt branch, once under the dup-rate aggregate): per
    # payload, the decode attempt runs against the same deterministic
    # 1-in-7 truncation (payload[:-6] ≡ the former JVM substring — the
    # IEND clip the CRC'd chunk walk must reject) while the fingerprint
    # is md5 over the ORIGINAL bytes.  Both rates then come from one
    # aggregate, reshaped to the two dashboard rows with an explode
    # (guide §1.2 / §2.4: one encoder pass, one aggregation).
    def attempts(batches):
        import hashlib

        for pdf in batches:
            oks, fps = [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(p)
                fps.append(hashlib.md5(b).hexdigest())
                if int(mid) % 7 == 3:
                    b = b[:-6]
                try:
                    png_decode(b)
                    oks.append(1)
                except (ValueError, NotImplementedError):
                    oks.append(0)
            yield pd.DataFrame({
                "ok": pd.Series(oks, dtype="int32"),
                "fp": pd.Series(fps, dtype="object"),
            })

    import pandas as pd  # noqa: F811 — worker-side import
    from pyspark.sql import types as SPARK_T

    ok_df = png.mapInPandas(
        attempts,
        SPARK_T.StructType([
            SPARK_T.StructField("ok", SPARK_T.IntegerType()),
            SPARK_T.StructField("fp", SPARK_T.StringType()),
        ]),
    )
    return (
        ok_df.agg(
            (1 - F.avg("ok")).alias("err_rate"),
            (1 - F.countDistinct("fp") / F.count(F.lit(1))).alias(
                "dup_rate"
            ),
        )
        .selectExpr(
            "explode(array("
            " named_struct('metric', 'png_decode_error_rate',"
            "  'value', ROUND(err_rate - 0.000000001, 4) + 0.0,"
            "  'alert', CAST(CASE WHEN err_rate > 0.1 THEN 1 ELSE 0 END"
            "           AS INT)),"
            " named_struct('metric', 'png_dup_rate',"
            "  'value', ROUND(dup_rate - 0.000000001, 4) + 0.0,"
            "  'alert', CAST(CASE WHEN dup_rate > 0.5 THEN 1 ELSE 0 END"
            "           AS INT)))) AS row"
        )
        .selectExpr(
            "'media_health' AS tag",
            "row.metric AS metric",
            "row.value AS value",
            "row.alert AS alert",
        )
    )


def _pipeline_health_sql() -> str:
    from .events import EWMA_HOURLY_SQL
    from .llm import DEDUP_AGREEMENT_SAMPLED_SQL, MINHASH_CALIB_SAMPLED_SQL

    from ..sources.tables import DUCK_DOC_SAMPLE_WHERE_FIXED_SIZE as _W

    return f"""
WITH ewma_h AS ({EWMA_HOURLY_SQL}),
psi_h AS ({SOURCE_PSI_SQL}),
cal_h AS ({MINHASH_CALIB_SAMPLED_SQL}),
agr_h AS ({DEDUP_AGREEMENT_SAMPLED_SQL}),
media_h AS (
  SELECT CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS err_rate,
         1.0 - CAST(COUNT(DISTINCT doc_id % 261) AS DOUBLE) / COUNT(*)
           AS dup_rate
  FROM documents WHERE {_W}
)
SELECT * FROM (
  SELECT 'ewma_burst' AS tag,
         event_type || '@' || CAST(hour_start AS VARCHAR) AS metric,
         burst_score AS value, is_burst AS alert
  FROM ewma_h
  UNION ALL
  SELECT 'psi_drift', source, psi,
         CASE WHEN psi > 0.2 THEN 1 ELSE 0 END
  FROM psi_h
  UNION ALL
  SELECT 'minhash_calibration', 'bin_' || CAST(j_bin AS VARCHAR),
         mean_abs_err,
         CASE WHEN mean_abs_err > 0.0883 THEN 1 ELSE 0 END
  FROM cal_h
  UNION ALL
  SELECT 'dedup_agreement',
         'e' || CAST(in_exact AS VARCHAR) || 'm'
             || CAST(in_minhash AS VARCHAR) || 's'
             || CAST(in_simhash AS VARCHAR),
         CAST(pair_count AS DOUBLE),
         CASE WHEN in_exact + in_minhash + in_simhash = 1 THEN 1 ELSE 0 END
  FROM agr_h
  UNION ALL
  SELECT 'media_health', 'png_decode_error_rate',
         ROUND(err_rate - 0.000000001, 4) + 0.0,
         CASE WHEN err_rate > 0.1 THEN 1 ELSE 0 END
  FROM media_h
  UNION ALL
  SELECT 'media_health', 'png_dup_rate',
         ROUND(dup_rate - 0.000000001, 4) + 0.0,
         CASE WHEN dup_rate > 0.5 THEN 1 ELSE 0 END
  FROM media_h
)
ORDER BY tag, metric
"""


SPECS = [
    QuerySpec("quantile_sketch_audit", quantile_sketch_audit,
              QUANTILE_SKETCH_SQL,
              "128-bin histogram quantile sketch (mergeable, bounded "
              "state) audited against exact per-language percentiles"),
    QuerySpec("kmv_source_overlap", kmv_source_overlap, KMV_OVERLAP_SQL,
              "KMV bottom-256 sketch set operations: pairwise source "
              "union/intersection estimates audited against exact"),
    QuerySpec("kmv_source_overlap_sketch", kmv_source_overlap_sketch,
              KMV_OVERLAP_SKETCH_SQL,
              "KMV overlap estimator, sketch-only production form: no "
              "exact audit side, the shape deployed at corpus scale"),
    QuerySpec("kmv_source_overlap_sampled", kmv_source_overlap_sampled,
              KMV_OVERLAP_SAMPLED_SQL,
              "fixed-cost scheduled form of the KMV overlap audit: "
              "exact + sketch side by side over the deterministic "
              "hash-sampled corpus"),
    QuerySpec("pipeline_health", pipeline_health, _pipeline_health_sql(),
              "the monitoring tier as ONE dashboard relation (tag, "
              "metric, value, alert): EWMA bursts + PSI drift + "
              "sampled MinHash calibration + sampled dedup agreement"),
    QuerySpec("hll_distinct_audit", hll_distinct_audit, HLL_DISTINCT_SQL,
              "HyperLogLog distinct-shingle estimate (1024 relational "
              "max-rank registers) audited against exact counts"),
    QuerySpec("bloom_fpr_audit", bloom_fpr_audit, BLOOM_FPR_SQL,
              "Bloom filter k=1..5 false-positive-rate sweep over a "
              "65536-bit relational array, exact non-member probes"),
    QuerySpec("cms_token_counts", cms_token_counts, CMS_TOKEN_SQL,
              "count-min sketch heavy-hitter audit (4x1024, relational "
              "mergeable-sketch shuffle) vs exact counts"),
    QuerySpec("weighted_corpus_sample", weighted_corpus_sample,
              WEIGHTED_SAMPLE_SQL,
              "Efraimidis-Spirakis weighted sample without replacement "
              "(token-mass-proportional, one-pass top-k)"),
    QuerySpec("bpe_merge_rounds", bpe_merge_rounds, BPE_ROUNDS_SQL,
              "six-round iterative BPE training: per-round argmax merge "
              "+ vocab size, fully recomputed by the oracle"),
    QuerySpec("bpe_tokenize_fertility", bpe_tokenize_fertility,
              BPE_APPLY_SQL,
              "tokenizer apply: per-language fertility and compression "
              "under the trained BPE merges (type-relation encode)"),
    QuerySpec("textrank_keywords", textrank_keywords, TEXTRANK_SQL,
              "TextRank keyword extraction: 5-round weighted PageRank "
              "over the token co-occurrence graph (Mihalcea & Tarau)"),
    QuerySpec("bigram_pmi_collocations", bigram_pmi_collocations,
              BIGRAM_PMI_SQL,
              "PMI collocation mining: top-25 above-chance adjacent "
              "pairs with a min-support floor (Church & Hanks)"),
    QuerySpec("bigram_lm_quality", bigram_lm_quality, BIGRAM_QUALITY_SQL,
              "interpolated bigram LM cross-entropy histogram per "
              "language (Jelinek-Mercer 0.7/0.3)"),
    QuerySpec("inverted_index_stats", inverted_index_stats,
              INVERTED_INDEX_SQL,
              "posting-list df/tf/varint-byte audit for the top-df "
              "tokens"),
    QuerySpec("shingle_novelty_scores", shingle_novelty_scores,
              SHINGLE_NOVELTY_SQL,
              "per-source first-occurrence shingle novelty averages"),
    QuerySpec("maximal_shared_spans", maximal_shared_spans, MAXIMAL_SPANS_SQL,
              "maximal exact shared-substring spans per doc pair "
              "(2107.06499), boilerplate-df-capped window join"),
    QuerySpec("bpe_merge_candidates", bpe_merge_candidates, BPE_MERGE_SQL,
              "BPE first-merge-round adjacent-pair counts (1508.07909)"),
    QuerySpec("bm25_doc_ranking", bm25_doc_ranking, BM25_SQL,
              "BM25 top-20 retrieval for targeted curation (k1=1.2, "
              "b=0.75, ln idf)"),
    QuerySpec("data_constrained_epochs", data_constrained_epochs,
              DATA_CONSTRAINED_SQL,
              "multi-epoch repetition planning with effective-token "
              "decay (2305.16264, R*=15.39)"),
    QuerySpec("quality_calibration_bins", quality_calibration_bins,
              QUALITY_CALIBRATION_SQL,
              "heuristic-quality deciles audited against unigram "
              "cross-entropy (calibration curve)"),
    QuerySpec("dsir_importance_weights", dsir_importance_weights, DSIR_SQL,
              "DSIR importance weights: target-vs-corpus unigram "
              "log-likelihood ratios per doc, rolled up per source"),
    QuerySpec("temperature_mix_weights", temperature_mix_weights,
              TEMPERATURE_MIX_SQL,
              "temperature-scaled source sampling weights (share^alpha, "
              "alpha 0.3/0.7)"),
    QuerySpec("curriculum_stages", curriculum_stages, CURRICULUM_SQL,
              "4-stage quality curriculum schedule via the bounded "
              "score-distribution window"),
    QuerySpec("cross_split_contamination", cross_split_contamination,
              CROSS_SPLIT_SQL,
              "near-dup leakage audit across the stratified "
              "train/val/test boundary"),
    QuerySpec("epoch_shuffle", epoch_shuffle, EPOCH_SHUFFLE_SQL,
              "deterministic per-epoch corpus shuffle (md5 order, "
              "per-epoch top-k)"),
    QuerySpec("token_budget_selection", token_budget_selection,
              TOKEN_BUDGET_SQL,
              "quality-greedy selection under a global token budget via "
              "the score-distribution trick"),
    QuerySpec("source_token_divergence", source_token_divergence,
              SOURCE_DIVERGENCE_SQL,
              "per-source unigram KL divergence vs the corpus blend"),
    QuerySpec("doc_repetition_scores", doc_repetition_scores, DOC_REPETITION_SQL,
              "duplicate-5-gram repetition fraction per document"),
    QuerySpec("source_curation_report", source_curation_report,
              SOURCE_CURATION_SQL,
              "per-source dup-rate / quality / token-mass curation report"),
    QuerySpec("gopher_quality_gate", gopher_quality_gate, GOPHER_GATE_SQL,
              "Gopher-style quality rule gate, per-language pass counts"),
    QuerySpec("pii_digit_masking", pii_digit_masking, PII_MASKING_SQL,
              "deterministic digit masking + digit census"),
    QuerySpec("benchmark_contamination", benchmark_contamination, CONTAMINATION_SQL,
              "train/test n-gram contamination scan"),
    QuerySpec("token_window_chunking", token_window_chunking, CHUNKING_SQL,
              "sliding token-window chunking with fingerprints"),
    QuerySpec("normalized_dedup_stats", normalized_dedup_stats,
              NORMALIZED_DEDUP_SQL,
              "exact dedup after text normalization vs raw, per language"),
    QuerySpec("doc_length_percentiles", doc_length_percentiles,
              DOC_LENGTH_PCTL_SQL,
              "exact token-count percentiles per language"),
    QuerySpec("source_psi_drift", source_psi_drift, SOURCE_PSI_SQL,
              "Population Stability Index of per-source length "
              "distributions vs the corpus decile baseline"),
    QuerySpec("mix_rebalance_plan", mix_rebalance_plan, MIX_REBALANCE_SQL,
              "per-language sampling rates for a target token budget"),
    QuerySpec("domain_mix_sample", domain_mix_sample, DOMAIN_MIX_SQL,
              "deterministic hash-based domain mix sampling"),
    QuerySpec("boilerplate_ngrams", boilerplate_ngrams, BOILERPLATE_SQL,
              "corpus-frequent n-gram boilerplate detection"),
    QuerySpec("sequence_packing", sequence_packing, PACKING_SQL,
              "greedy contiguous 512-token sequence packing"),
    QuerySpec("packing_efficiency_sweep", packing_efficiency_sweep,
              PACKING_SWEEP_SQL,
              "context-length planning: bins/capacity/fill/truncation "
              "exposure at 512-4096 tokens from one window pass"),
    QuerySpec("strip_boilerplate_text", strip_boilerplate_text,
              STRIP_BOILERPLATE_SQL,
              "boilerplate removal transform: strip tokens covered by "
              "cross-document 8-token windows, md5-gated reconstruction"),
    QuerySpec("unigram_logprob_quality", unigram_logprob_quality,
              UNIGRAM_QUALITY_SQL,
              "CCNet-style per-language unigram cross-entropy histogram"),
    QuerySpec("corpus_retention_funnel", corpus_retention_funnel,
              RETENTION_FUNNEL_SQL,
              "per-language raw → gated → deduped retention funnel"),
    QuerySpec("embedding_quantization_error", embedding_quantization_error,
              QUANTIZATION_SQL, "int8 quantization reconstruction RMSE"),
    QuerySpec("boilerplate_filter_report", boilerplate_filter_report,
              BOILERPLATE_FILTER_SQL,
              "C4-style boilerplate gate: drop docs dominated by top-20 trigrams"),
    QuerySpec("vocab_coverage_curve", vocab_coverage_curve,
              VOCAB_COVERAGE_SQL,
              "token-mass coverage of the top-N vocabulary per language"),
    QuerySpec("stratified_split_report", stratified_split_report,
              STRATIFIED_SPLIT_SQL,
              "leakage-aware deterministic train/val/test split report"),
    QuerySpec("span_duplication_report", span_duplication_report,
              SPAN_DUPLICATION_SQL,
              "cross-document exact 8-token-span duplication per language"),
    QuerySpec("source_overlap_matrix", source_overlap_matrix,
              SOURCE_OVERLAP_SQL,
              "pairwise source shingle overlap: Jaccard + containment"),
]
