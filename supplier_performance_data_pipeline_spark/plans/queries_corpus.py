"""Corpus-preparation queries over ``documents``: language-model
surprisal scoring, RAG chunking, and source-mixture planning (engine
extensions for large-scale training-data pipelines; the reference has
no text surface).

Shares the tokenizer contract with plans/queries_text.py — oracle SQL
is generated from the same constants so the dialects can't drift.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.operators.textops import tokens
from supplier_performance_data_pipeline_spark.plans.queries_text import _TOKS_CTE
from supplier_performance_data_pipeline_spark.plans.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# --- unigram LM surprisal (quality / novelty proxy) -------------------------


@register(
    "unigram_surprisal_scores",
    oracle=f"""
WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(toks) AS term FROM toks_cte),
tf AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
n AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_total FROM tf),
scored AS (
    SELECT doc_id,
           CAST(ROUND(ln(n_total / tf), 6) AS DECIMAL(18,6)) AS nll
    FROM tok JOIN tf USING (term) CROSS JOIN n
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_surprisal
FROM scored GROUP BY doc_id
""".strip(),
)
def q_unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal -ln p(token) under the
    corpus's own unigram LM — the classic cheap quality/novelty signal
    (low = repetitive boilerplate, high = rare-token soup; train-data
    curation gates on both tails). Two passes over the token stream:
    corpus term frequencies (one term-keyed agg, map-side combined,
    bounded by vocabulary size → BROADCASTS back onto the token table;
    past the broadcast threshold the same plan is a term-keyed shuffle
    join), then a doc-keyed agg. Per-token surprisal is rounded to 6dp
    and summed as DECIMAL — exact, reduction-order-independent — with
    ONE double division at the end. Empty docs have no tokens and are
    absent by construction (inner explode)."""
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("term").agg(F.count("*").alias("tf"))
    n = tf.agg(F.sum("tf").cast("double").alias("n_total"))
    scored = (
        tok.join(F.broadcast(tf), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.round(F.log(F.col("n_total") / F.col("tf")), 6)
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.sum("nll").cast("double") / F.count("*"), 6).alias(
            "avg_surprisal"
        ),
    )


# --- RAG chunking -----------------------------------------------------------

_CHUNK_CHARS = 400
_CHUNK_STRIDE = 300  # 100-char overlap between consecutive chunks


@register(
    "document_chunks",
    oracle=f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(range(0, greatest(n_chars, 1), {_CHUNK_STRIDE})) AS start_char
    FROM documents
)
SELECT doc_id,
       CAST(start_char / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(start_char AS INTEGER) AS start_char,
       CAST(len(substring(text, CAST(start_char AS INTEGER) + 1,
                          {_CHUNK_CHARS})) AS INTEGER) AS chunk_chars,
       md5(substring(text, CAST(start_char AS INTEGER) + 1,
                     {_CHUNK_CHARS})) AS chunk_md5
FROM starts
""".strip(),
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunks ({sz} chars, stride
    {st}) — the retrieval/RAG indexing primitive. Chunk starts come
    from sequence() on the row's OWN length (generator expansion, no
    join, no shuffle — a pure flatMap-shaped projection that scales
    linearly); each chunk carries its offset, length, and content md5
    so a downstream index can verify integrity without re-reading the
    text. Every doc yields at least one chunk (greatest-guard for
    empty text). Identical 1-based substring semantics on both
    engines; documents are ASCII so char counts agree."""
    docs = _docs(spark, sf_dir)
    starts = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("int"),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start_char"),
    )
    chunk = F.substring(
        F.col("text"), F.col("start_char") + 1, _CHUNK_CHARS
    )
    return starts.select(
        "doc_id",
        (F.col("start_char") / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("start_char").cast("int").alias("start_char"),
        F.length(chunk).cast("int").alias("chunk_chars"),
        F.md5(chunk).alias("chunk_md5"),
    )


q_document_chunks.__doc__ = q_document_chunks.__doc__.format(
    sz=_CHUNK_CHARS, st=_CHUNK_STRIDE
)


# --- source-mixture planning ------------------------------------------------


@register(
    "source_mixture_weights",
    oracle=f"""
WITH {_TOKS_CTE},
per_source AS (
    SELECT d.source,
           CAST(substring(d.source, 4) AS INTEGER) + 1 AS weight,
           CAST(SUM(len(t.toks)) AS BIGINT) AS n_tokens
    FROM documents d JOIN toks_cte t USING (doc_id)
    GROUP BY d.source
),
denom AS (SELECT SUM(weight) AS total_weight FROM per_source),
ratios AS (
    SELECT source, weight, n_tokens,
           CAST(n_tokens AS DOUBLE) * total_weight / weight AS budget_ratio
    FROM per_source CROSS JOIN denom
),
binding AS (SELECT MIN(budget_ratio) AS min_ratio FROM ratios)
SELECT source,
       ROUND(CAST(weight AS DOUBLE) / total_weight, 6) AS target_share,
       n_tokens,
       ROUND(min_ratio / budget_ratio, 6) AS accept_rate,
       CAST(floor(min_ratio * weight / total_weight) AS BIGINT)
           AS budget_tokens
FROM ratios CROSS JOIN binding CROSS JOIN denom
""".strip(),
)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan to hit a target token mixture with
    maximum data use (the data-mixing step before training): target
    share of source src{{i}} is (i+1)/Σ(j+1); the binding source — the
    one that exhausts first at its share — fixes the total budget, and
    every other source gets acceptance rate budget·share/available ≤ 1.
    Plan: one doc-keyed projection counts tokens per row (no explode —
    size() on the token array), one source-keyed agg (tiny domain),
    then three broadcast 1-row cross joins carry Σweights, the binding
    ratio, and the budget. The only doubles are single divisions of
    exact integers — deterministic IEEE on both engines — rounded at
    the output edge."""
    docs = _docs(spark, sf_dir)
    per_source = (
        docs.select(
            "source",
            (F.substring(F.col("source"), 4, 10).cast("int") + 1).alias(
                "weight"
            ),
            F.size(tokens(F.col("text"))).alias("doc_tokens"),
        )
        .groupBy("source", "weight")
        .agg(F.sum("doc_tokens").alias("n_tokens"))
    )
    denom = per_source.agg(F.sum("weight").alias("total_weight"))
    ratios = per_source.crossJoin(F.broadcast(denom)).withColumn(
        "budget_ratio",
        F.col("n_tokens").cast("double")
        * F.col("total_weight")
        / F.col("weight"),
    )
    binding = ratios.agg(F.min("budget_ratio").alias("min_ratio"))
    return ratios.crossJoin(F.broadcast(binding)).select(
        "source",
        F.round(
            F.col("weight").cast("double") / F.col("total_weight"), 6
        ).alias("target_share"),
        "n_tokens",
        F.round(F.col("min_ratio") / F.col("budget_ratio"), 6).alias(
            "accept_rate"
        ),
        F.floor(
            F.col("min_ratio") * F.col("weight") / F.col("total_weight")
        )
        .cast("long")
        .alias("budget_tokens"),
    )


# --- largest-remainder token-budget apportionment ---------------------------

# Hard token cap apportioned across sources. BIGINT headroom: the
# products CAP * n_tokens stay inside int64 while CAP * corpus_tokens
# <= 9.2e18 — at this CAP that is ~9e13 corpus tokens (90x a
# 1T-token corpus); past that, widen the quotient/remainder arithmetic
# to DECIMAL(38,0) in BOTH arms (the DECIMAL sufficient-statistic
# recipe used by the covariance/OLS queries).
APPORTION_CAP = 100_000


@register(
    "source_token_apportionment",
    oracle=f"""
WITH {_TOKS_CTE},
per_source AS (
    SELECT d.source, CAST(SUM(len(t.toks)) AS BIGINT) AS n_tokens
    FROM documents d JOIN toks_cte t USING (doc_id)
    GROUP BY d.source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_source),
q AS (
    SELECT source, n_tokens,
           (n_tokens * {APPORTION_CAP}) // total_tokens AS quota_floor,
           (n_tokens * {APPORTION_CAP}) % total_tokens AS remainder
    FROM per_source CROSS JOIN tot
),
lo AS (SELECT CAST({APPORTION_CAP} - SUM(quota_floor) AS BIGINT) AS leftover
       FROM q),
ranked AS (
    SELECT q.*, leftover,
           ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rk
    FROM q CROSS JOIN lo
)
SELECT source, n_tokens,
       CAST(quota_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS quota_tokens,
       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END
            AS INTEGER) AS got_remainder_seat,
       CAST(SUM(quota_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
            OVER () AS BIGINT) AS total_allocated
FROM ranked
""".strip(),
)
def q_source_token_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT integer apportionment of a hard token budget across
    sources by the largest-remainder (Hamilton) method — the quota
    step of a training-mixture build where the sampled corpus must hit
    the cap EXACTLY, not approximately: floor quotas
    (CAP * n_i) div N leave leftover = CAP - Σfloor seats (always
    0 <= leftover < n_sources), and the leftover seats go to the
    largest fractional remainders, ties broken by source name so the
    allocation is a pure function of the counts. `total_allocated`
    carries the Σquota == CAP invariant through the oracle hash — a
    wrong redistribution cannot certify. All arithmetic is int64
    quotient/remainder (see APPORTION_CAP headroom note); no float
    touches the hash boundary.

    Plan: the only full-corpus work is the token-count projection +
    source-keyed agg (map-side combined); the apportionment itself —
    broadcast 1-row totals, remainder ranking, the seat window — runs
    on the source-domain table (tiny by construction), so the
    single-partition windows are domain-bounded, never data-bounded.
    At 100 TB: identical — one scan, one bounded agg, arithmetic on a
    dozen rows. Distinct from ``source_mixture_weights``: that plans
    max-data-use ACCEPTANCE RATES against target shares; this settles
    an exact integer QUOTA under a global cap."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    cap = F.lit(APPORTION_CAP).cast("long")
    per_source = (
        docs.select(
            "source", F.size(tokens(F.col("text"))).alias("doc_tokens")
        )
        .groupBy("source")
        .agg(F.sum("doc_tokens").cast("long").alias("n_tokens"))
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens")
    )
    q = per_source.crossJoin(F.broadcast(tot)).withColumns(
        {
            "quota_floor": F.expr(
                f"(n_tokens * {APPORTION_CAP}) div total_tokens"
            ),
            "remainder": F.expr(
                f"(n_tokens * {APPORTION_CAP}) % total_tokens"
            ),
        }
    )
    lo = q.agg(
        (cap - F.sum("quota_floor")).cast("long").alias("leftover")
    )
    ranked = q.crossJoin(F.broadcast(lo)).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("remainder").desc(), F.col("source"))
        ),
    )
    seat = F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    quota = (F.col("quota_floor") + seat).cast("long")
    return ranked.select(
        "source",
        "n_tokens",
        quota.alias("quota_tokens"),
        seat.cast("int").alias("got_remainder_seat"),
        F.sum(quota).over(Window.partitionBy()).cast("long").alias(
            "total_allocated"
        ),
    )


# --- tokenizer fertility by language ----------------------------------------

from supplier_performance_data_pipeline_spark.operators.textops import (  # noqa: E402
    BPE_TOKEN_RX,
    bpe_token_count,
)

_BPE_RX_SQL = BPE_TOKEN_RX.replace("'", "''")


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
WITH {_TOKS_CTE},
per_doc AS (
    SELECT d.lang,
           len(t.toks) AS n_ws,
           len(regexp_extract_all(d.text, '{_BPE_RX_SQL}')) AS n_bpe
    FROM documents d JOIN toks_cte t USING (doc_id)
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) AS fertility
FROM per_doc GROUP BY lang
""".strip(),
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokens per whitespace token by language — the fertility
    ratio that prices a tokenizer's cost per language before committing
    a token budget (punct/digit-heavy languages inflate it). One pure
    projection computes both counts per row (no explode — size() on the
    split arrays), then one lang-keyed agg with map-side combine; the
    ratio is a single double division of exact integer sums."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("n_ws"),
        bpe_token_count(F.col("text")).alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_ws_tokens"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.round(
            F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6
        ).alias("fertility"),
    )


# --- chunk-level dedup / boilerplate histogram ------------------------------


@register(
    "chunk_dedup_stats",
    oracle=f"""
WITH starts AS (
    SELECT doc_id, text,
           unnest(range(0, greatest(n_chars, 1), {_CHUNK_STRIDE})) AS start_char
    FROM documents
),
ch AS (
    SELECT doc_id,
           md5(substring(text, CAST(start_char AS INTEGER) + 1,
                         {_CHUNK_CHARS})) AS chunk_md5
    FROM starts
),
per_hash AS (
    SELECT chunk_md5, COUNT(*) AS n_occ,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM ch GROUP BY chunk_md5
)
SELECT n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunk_hashes,
       CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
FROM per_hash GROUP BY n_docs
""".strip(),
)
def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity duplication histogram: how many distinct chunk
    hashes appear in exactly N distinct documents — the boilerplate
    detector at the RAG-chunk level (headers, licenses, navigation
    text duplicate across documents long before whole docs do; doc-level
    dedup never sees them). Rows with n_docs >= 2 are the cross-document
    boilerplate mass a chunk-level filter would drop.

    Same generator expansion as ``document_chunks`` (sequence over the
    row's own length — no join, no shuffle), then two hash aggs: one
    keyed by chunk hash (map-side combinable; n_occ and the distinct-doc
    count collapse per hash), one tiny histogram agg. The md5 keys the
    shuffle, so identical chunks co-locate regardless of source skew."""
    docs = _docs(spark, sf_dir)
    starts = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_chars") - 1, F.lit(0)).cast("int"),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start_char"),
    )
    ch = starts.select(
        "doc_id",
        F.md5(
            F.substring(F.col("text"), F.col("start_char") + 1, _CHUNK_CHARS)
        ).alias("chunk_md5"),
    )
    per_hash = ch.groupBy("chunk_md5").agg(
        F.count("*").alias("n_occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    return per_hash.groupBy("n_docs").agg(
        F.count("*").alias("n_chunk_hashes"),
        F.sum("n_occ").alias("n_occurrences"),
    )


# --- PMI bigram collocations ------------------------------------------------

_PMI_MIN_SUPPORT = 5
_PMI_TOP = 50


@register(
    "bigram_collocations",
    oracle=f"""
WITH {_TOKS_CTE},
uni AS (SELECT unnest(toks) AS w FROM toks_cte),
uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
nu AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uc),
bi AS (
    SELECT unnest(list_transform(range(1, len(toks)),
        i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
    FROM toks_cte WHERE len(toks) >= 2
),
bc AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c_xy FROM bi
       GROUP BY b.w1, b.w2),
nb AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bi FROM bc)
SELECT w1, w2, c_xy,
       ROUND(ln((CAST(c_xy AS DOUBLE) * n_uni * n_uni)
                / (CAST(n_bi AS DOUBLE) * c1.c * c2.c)), 6) AS pmi
FROM bc
JOIN uc c1 ON w1 = c1.w
JOIN uc c2 ON w2 = c2.w
CROSS JOIN nu CROSS JOIN nb
WHERE c_xy >= {_PMI_MIN_SUPPORT}
ORDER BY pmi DESC, w1, w2 LIMIT {_PMI_TOP}
""".strip(),
)
def q_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI bigram collocations (min support {sup}) — the corpus
    phrase detector behind tokenizer merges, stopword-phrase lists, and
    multi-word-expression mining. PMI = ln(p(xy) / (p(x)p(y))), here as
    one ln over an integer-ratio expression structured identically in
    both engines (counts are exact; the products run in double to dodge
    BIGINT overflow; round 6 at the edge with a word tie-break).

    Plan: the token-array table materializes ONCE (localCheckpoint) and
    feeds both the unigram and the bigram explode (the BM25 lesson: two
    lazy branches would tokenize the corpus twice); unigram counts are
    vocabulary-sized and broadcast onto the bigram table twice (left
    word, right word); the corpus totals attach as broadcast 1-row
    cross joins. The only data-scale exchanges are the two count aggs
    (both map-side combining); the final cut is TakeOrdered, never a
    global sort."""
    docs = _docs(spark, sf_dir)
    toks_df = docs.select(tokens(F.col("text")).alias("toks")).localCheckpoint()
    uc = (
        toks_df.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    nu = uc.agg(F.sum("c").cast("long").alias("n_uni"))
    bc = (
        toks_df.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint()
    )
    nb = bc.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    c1 = uc.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    c2 = uc.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bc.filter(F.col("c_xy") >= _PMI_MIN_SUPPORT)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_bi").cast("double") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2")).limit(
        _PMI_TOP
    )


q_bigram_collocations.__doc__ = q_bigram_collocations.__doc__.format(
    sup=_PMI_MIN_SUPPORT
)


# --- fixed-size weighted sample (priority sampling) -------------------------

from supplier_performance_data_pipeline_spark.operators.sampling import (  # noqa: E402
    GRAIN,
    weighted_sample_key,
)

_WRS_K = 100
_WRS_SEED = 7


@register(
    "weighted_reservoir_sample",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(GREATEST(n_chars, 1) AS DOUBLE) * {float(2 * GRAIN)}
           / CAST(2 * (CAST(concat('0x', substr(md5(concat('{_WRS_SEED}|',
                       CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT)
                   % {GRAIN}) + 1 AS DOUBLE) AS sample_key
    FROM documents
)
SELECT doc_id, n_chars, sample_key
FROM keyed
ORDER BY sample_key DESC, doc_id
LIMIT {_WRS_K}
""".strip(),
)
def q_weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE weighted sample: exactly k documents drawn without
    replacement with inclusion probability ≈ min(w/τ, 1) ∝ length
    (priority sampling, Duffield–Lund–Thorup JACM '07 — chosen over
    the round-4 Efraimidis–Spirakis key precisely because its priority
    w/u needs NO transcendental) — the token-budget counterpart of the
    rate-based samplers: "give me 100 docs, longer ones more likely,
    and the SAME 100 tomorrow". Rate-based hash sampling cannot pin an
    exact output size; priority top-k does, in one pass, fully
    deterministic (hash-derived u, no RNG).

    Plan: a pure projection computes each row's priority (one md5, one
    integer-exact multiply, one IEEE-correctly-rounded divide — the
    key is bit-identical across engines BY MANDATE, unlike the ln()
    it replaced, whose last-ulp libm drift was the round-4 driver
    red), then TakeOrdered keeps the top-k — no shuffle beyond the
    k-row collect, no window, no global sort. doc_id tie-break makes
    the cut a total order."""
    docs = _docs(spark, sf_dir)
    key = weighted_sample_key(
        F.col("doc_id"),
        F.greatest(F.col("n_chars"), F.lit(1)),
        _WRS_SEED,
    )
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(_WRS_K)
    )


# --- bigram LM surprisal (context-conditional quality signal) ---------------


@register(
    "bigram_surprisal_scores",
    oracle=f"""
WITH {_TOKS_CTE},
pos AS (
    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toks_cte
),
big AS (
    SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM pos
),
bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
cc AS (SELECT w1, SUM(c2) AS c1 FROM bc GROUP BY 1),
scored AS (
    SELECT doc_id,
           CAST(ROUND(ln(CAST(c1 AS DOUBLE) / c2), 6) AS DECIMAL(18,6)) AS nll
    FROM big JOIN bc USING (w1, w2) JOIN cc USING (w1)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_bigram_surprisal
FROM scored GROUP BY doc_id
""".strip(),
)
def q_bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal -ln p(w2|w1) under the
    corpus's own bigram LM (maximum-likelihood conditionals; every
    scored bigram appears in the counts, so no smoothing is needed and
    no probability is zero). The context-conditional upgrade of
    ``unigram_surprisal_scores``: boilerplate scores LOWER (its exact
    continuations repeat) while rare-word soup scores HIGHER — the pair
    of scores separates template spam from low-quality noise better
    than either alone.

    The bigram stream is a pure projection — arrays_zip of the token
    array against its own 1-shifted slice, then ONE explode; no
    self-join, no window over raw tokens. Counts are two aggregates on
    that stream (bigram grain, then context grain = a rollup of the
    already-reduced bigram table). Both count tables are
    vocabulary-bounded and broadcast back onto the stream (past the
    broadcast threshold the same plan is a key-shuffle join — the
    bigram vocabulary grows with corpus diversity, not corpus size).
    Per-bigram surprisal rounds to 6dp and sums as DECIMAL — exact,
    order-independent — with ONE double division per doc. Docs with
    fewer than two tokens have no bigrams and are absent (inner
    explode), mirroring the oracle's empty range()."""
    docs = _docs(spark, sf_dir)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    pairs = toked.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("w1"),
                F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w2"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bc = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        pairs.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(cc), ["w1"])
        .select(
            "doc_id",
            F.round(F.log(F.col("c1").cast("double") / F.col("c2")), 6)
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("nll").cast("double") / F.count("*"), 6).alias(
            "avg_bigram_surprisal"
        ),
    )


# --- deterministic mixture resampling (curriculum rebalance) ----------------

from supplier_performance_data_pipeline_spark.operators.sampling import (  # noqa: E402
    md5_mod_sql,
    mixture_resample,
    mixture_resample_rate_sql,
)

_MIX_FRAC = 0.5
_MIX_SEED = 42


@register(
    "corpus_mixture_resample",
    oracle=f"""
WITH totals AS (
    SELECT source, SUM(n_chars) AS _src_size FROM documents GROUP BY source
),
g AS (SELECT SUM(_src_size) AS _tot, COUNT(*) AS _ns FROM totals),
rates AS (
    SELECT source, {mixture_resample_rate_sql("_src_size", _MIX_FRAC)} AS thr
    FROM totals CROSS JOIN g
),
kept AS (
    SELECT d.source, d.n_chars, r.thr
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {md5_mod_sql("CAST(doc_id AS VARCHAR)", f"{_MIX_SEED}|", GRAIN)}
          < r.thr
)
SELECT source,
       CAST(MAX(thr) AS BIGINT) AS keep_threshold,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM kept GROUP BY source
""".strip(),
)
def q_corpus_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling — the curriculum-rebalance
    operator: downsample every source toward a UNIFORM share of a
    half-size char budget (rate_s = min(1, budget/n_sources/chars_s)),
    with membership a pure function of (seed, doc_id) via the md5_mod
    contract. The kept set is hash-VERIFIED: the oracle re-derives the
    per-source thresholds from the same integer sums + fixed chain of
    IEEE-correctly-rounded double ops and reproduces membership
    bit-for-bit — "rebalance the corpus" becomes a value two engines
    agree on, not a statistical eyeball.

    Plan: one source-keyed agg, a 1-row global agg, |sources|-row
    threshold table broadcast back onto the doc scan, hash filter,
    final source rollup — the doc table itself never shuffles. At
    100 TB this is a projection pass over the corpus plus
    dimension-sized aggregates."""
    docs = _docs(spark, sf_dir)
    kept = mixture_resample(
        docs, "source", "n_chars", _MIX_FRAC, seed=_MIX_SEED
    )
    return kept.groupBy("source").agg(
        F.max("_thr").cast("long").alias("keep_threshold"),
        F.count("*").cast("long").alias("n_docs_kept"),
        F.sum("n_chars").cast("long").alias("chars_kept"),
    )


# --- sequence-packing assignment (concat-and-chunk materialization) ---------

from supplier_performance_data_pipeline_spark.operators.curation import (  # noqa: E402
    sequence_pack,
)

_PACK_BUDGET = 256
_PACK_QBLOCK = 64  # small block so test scales exercise BOTH prefix levels


@register(
    "corpus_sequence_packing",
    oracle=f"""
WITH {_TOKS_CTE},
t AS (
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
    FROM toks_cte WHERE len(toks) > 0
),
c AS (
    SELECT doc_id, n_tokens,
           SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS first_seq,
       CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS last_seq,
       CAST((cum - 1) // {_PACK_BUDGET}
            - (cum - n_tokens) // {_PACK_BUDGET} + 1 AS BIGINT)
           AS n_seqs_spanned
FROM c
""".strip(),
)
def q_corpus_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence-packing ASSIGNMENT: every document's
    byte-exact placement on the budget-{b}-token training stream
    (start offset, first/last sequence id, sequences spanned) — the
    materialization step an LM data loader consumes, where
    ``packing_stats`` only does the ceil-accounting. Token counts come
    from the engine's shared tokenizer contract (same constants render
    the oracle's CTE), placement order is doc_id, zero-token docs
    occupy no stream positions.

    Plan: the prefix sum is the two-level PARALLEL construction (the
    lateness histogram's pattern): per-block token sums, running block
    offsets over the dimension-sized block table (the only
    SinglePartition exchange — n/{blk} rows), intra-block running sums
    partitioned by block, assignments via integer floor-division (DIV
    vs // — identical on non-negative longs). The oracle's single
    global window is the SEQUENTIAL spec the parallel construction
    must reproduce exactly. At 10^12 docs raise the block to ~10^6 or
    add a third level (log-depth general parallel prefix)."""
    docs = _docs(spark, sf_dir)
    counted = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    return sequence_pack(
        counted, "doc_id", "n_tok", _PACK_BUDGET, block=_PACK_QBLOCK
    )


q_corpus_sequence_packing.__doc__ = q_corpus_sequence_packing.__doc__.format(
    b=_PACK_BUDGET, blk=_PACK_QBLOCK
)


# --- temperature-scaled language-sampling weights (tau = 0.5 via sqrt) -------


@register(
    "corpus_sampling_temperature",
    oracle=f"""
WITH {_TOKS_CTE},
per_lang AS (
    SELECT d.lang, CAST(SUM(len(t.toks)) AS BIGINT) AS n_tokens
    FROM toks_cte t JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY d.lang
),
g AS (
    SELECT SUM(n_tokens) AS tot, SUM(sqrt(n_tokens)) AS z FROM per_lang
)
SELECT p.lang, p.n_tokens,
       ROUND(CAST(p.n_tokens AS DOUBLE) / g.tot, 6) AS p_raw,
       ROUND(sqrt(p.n_tokens) / g.z, 6) AS p_temp,
       ROUND((sqrt(p.n_tokens) / g.z)
             / (CAST(p.n_tokens AS DOUBLE) / g.tot), 6) AS upsample_factor
FROM per_lang p CROSS JOIN g
""".strip(),
)
def q_corpus_sampling_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TEMPERATURE-scaled language sampling weights, tau = 0.5: the
    multilingual rebalance rule (XLM-R / mT5 style) samples language l
    with probability proportional to p_l^tau instead of its raw share
    p_l, up-weighting low-resource languages without flattening to
    uniform. tau = 0.5 is chosen deliberately — p^0.5 is sqrt, which is
    IEEE-754 correctly-rounded on every engine, so the cross-engine
    contract stays exact where a libm pow() call would drift (the same
    no-libm discipline as the priority-sampling operator). The
    upsample factor p_temp/p_raw is the expected epoch multiplier each
    language's data sees under the temperature-adjusted sampler.

    Plan at scale: per-language token counts are one map-side-combined
    hash agg over a doc-keyed projection (len(toks), no explode); the
    language table is vocabulary-sized, so the normalizing constant is
    a 1-row aggregate broadcast back — the bounds-CTE shape."""
    docs = _docs(spark, sf_dir)
    per_lang = (
        docs.select("lang", F.size(tokens(F.col("text"))).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    g = per_lang.agg(
        F.sum("n_tokens").alias("tot"),
        F.sum(F.sqrt(F.col("n_tokens"))).alias("z"),
    )
    p_raw = F.col("n_tokens").cast("double") / F.col("tot")
    p_temp = F.sqrt(F.col("n_tokens")) / F.col("z")
    return per_lang.crossJoin(F.broadcast(g)).select(
        "lang",
        "n_tokens",
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 6).alias("upsample_factor"),
    )
