"""Corpus-curation queries: repetition filters, PII scrubbing, packing
stats, stratified sampling — the quality/budget layer of a training-data
pipeline, each with a DuckDB oracle generated from the same constants.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.operators.curation import (
    PII_PATTERNS,
    PII_TOKEN,
    REP_NGRAM,
    contamination_report,
    eval_ngram_set,
    ngram_repetition_metrics,
    packing_stats,
    pii_scrub,
)
from supplier_performance_data_pipeline_spark.operators.sampling import (
    hash_bucket,
    sample_threshold,
    stratified_hash_sample,
)
from supplier_performance_data_pipeline_spark.operators.textops import TOKEN_SPLIT_RX
from supplier_performance_data_pipeline_spark.plans.registry import register

_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), "
    f"'{TOKEN_SPLIT_RX}'), x -> x <> '')"
)
_TOKS_CTE = f"toks_cte AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)"


def _shingles_sql(n: int) -> str:
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(0, len(toks) - {n - 1}), i -> "
        "concat_ws(' ', "
        + ", ".join(f"toks[i + {j + 1}]" for j in range(n))
        + ")) ELSE [array_to_string(toks, ' ')] END"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# --- Gopher-style n-gram repetition metrics ---------------------------------


@register(
    "repetition_metrics",
    oracle=f"""
WITH {_TOKS_CTE},
sh AS (SELECT doc_id, {_shingles_sql(REP_NGRAM)} AS shingles FROM toks_cte),
g AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
pg AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_ngrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
       CAST(MAX(c) AS BIGINT) AS top_ngram_count,
       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS dup_ngram_count
FROM pg GROUP BY doc_id
""".strip(),
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 2-gram repetition profile — the integers behind the
    Gopher repetition filters (top-n-gram share, duplicate-n-gram
    fraction; Rae et al. '21 App. A1.1). Two map-side-combining aggs,
    no text wider than one n-gram on the shuffle."""
    return ngram_repetition_metrics(_docs(spark, sf_dir))


# --- PII redaction -----------------------------------------------------------

_PII_EXTRACT_SQL = ", ".join(
    f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{kind}"
    for kind, pat in PII_PATTERNS.items()
)
_REDACT_SQL = "text"
for _kind, _pat in PII_PATTERNS.items():
    _REDACT_SQL = (
        f"regexp_replace({_REDACT_SQL}, '{_pat}', '{PII_TOKEN[_kind]}', 'g')"
    )


@register(
    "pii_scrub",
    oracle=f"""
SELECT doc_id, {_PII_EXTRACT_SQL},
       md5({_REDACT_SQL}) AS clean_fingerprint
FROM documents
""".strip(),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-kind match counts and the hash of
    the redacted text. Patterns use the Java-regex ∩ RE2 portable
    subset so both engines see identical matches. Pure projection —
    the redaction runs where the data lives; synthetic documents carry
    no PII (counts 0), which the fixture test in
    tests/test_curation.py complements with planted PII."""
    return pii_scrub(_docs(spark, sf_dir))


# --- sequence-packing accounting --------------------------------------------

_PACK_BUDGET = 2048


@register(
    "packing_stats",
    oracle=f"""
WITH {_TOKS_CTE},
agg AS (
    SELECT lang, COUNT(*) AS n_docs, SUM(len(toks)) AS total_tokens
    FROM toks_cte GROUP BY lang
)
SELECT lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(CEIL(total_tokens / {_PACK_BUDGET}.0) AS BIGINT) AS n_sequences,
       CAST(CAST(CEIL(total_tokens / {_PACK_BUDGET}.0) AS BIGINT)
            * {_PACK_BUDGET} - total_tokens AS BIGINT) AS padding_tokens
FROM agg
""".strip(),
)
def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token totals → concat-and-chunk sequence counts and
    padding waste for a {budget}-token training budget. One group-key
    hash agg; the budget math is integer-exact in both engines."""
    return packing_stats(_docs(spark, sf_dir), budget=_PACK_BUDGET)


# --- eval-set decontamination ------------------------------------------------

_DECON_PCT = 0.1
_DECON_SEED = 11
_DECON_N = 3
_DECON_BUCKET_SQL = (
    f"CAST(concat('0x', substr(md5(concat('{_DECON_SEED}|', "
    "CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) % 10000"
)


@register(
    "decontamination_report",
    oracle=f"""
WITH {_TOKS_CTE},
sh AS (SELECT doc_id, {_shingles_sql(_DECON_N)} AS shingles FROM toks_cte),
b AS (SELECT doc_id, {_DECON_BUCKET_SQL} AS bkt FROM documents),
ev_sh AS (
    SELECT DISTINCT unnest(sh.shingles) AS sh
    FROM sh JOIN b USING (doc_id)
    WHERE b.bkt < {sample_threshold(_DECON_PCT)}
),
tr_sh AS (
    SELECT doc_id, unnest(list_distinct(sh.shingles)) AS sh
    FROM sh JOIN b USING (doc_id)
    WHERE b.bkt >= {sample_threshold(_DECON_PCT)}
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(e.sh) AS BIGINT) AS n_hit_ngrams
FROM tr_sh t LEFT JOIN ev_sh e ON t.sh = e.sh
GROUP BY t.doc_id
HAVING COUNT(e.sh) > 0
""".strip(),
)
def q_decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap scan (GPT-3 App. C / Dodge et al. '21 shape):
    a deterministic 10% hash split is the "eval set"; training docs
    sharing any 3-gram with it are reported with integer overlap
    counts. The eval n-gram set is BROADCAST — the train side never
    shuffles except for its own (doc_id)-keyed count agg."""
    docs = _docs(spark, sf_dir)
    bkt = hash_bucket(F.col("doc_id"), _DECON_SEED)
    thr = sample_threshold(_DECON_PCT)
    ev = docs.filter(bkt < thr)
    tr = docs.filter(bkt >= thr)
    return contamination_report(
        tr, eval_ngram_set(ev, n=_DECON_N), n=_DECON_N
    )


# --- stratified deterministic sampling --------------------------------------

_STRAT_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}
_STRAT_SEED = 7


@register(
    "documents_stratified_sample",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE CAST(concat('0x', substr(md5(concat('{_STRAT_SEED}|',
          CAST(doc_id AS VARCHAR))), 1, 14)) AS BIGINT) % 10000
      < CASE {" ".join(
          f"WHEN lang = '{s}' THEN {sample_threshold(p)}"
          for s, p in _STRAT_RATES.items()
      )} ELSE -1 END
""".strip(),
)
def q_documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rates (rebalance a corpus: keep 50%
    en, 25% de, 10% zh, drop the rest). Membership is a pure function
    of (seed, doc_id), so the oracle reproduces the EXACT set — the
    stratified twin of documents_hash_sample."""
    return stratified_hash_sample(
        _docs(spark, sf_dir), "doc_id", "lang", _STRAT_RATES, _STRAT_SEED
    ).select("doc_id", "lang")


# --- Bloom-filter decontamination audit -------------------------------------

_BLOOM_M = 65536  # bits (8 KiB bitmap when packed)
_BLOOM_K = 4  # hash functions


def _bloom_pos_sql(expr: str, j: int) -> str:
    from supplier_performance_data_pipeline_spark.operators.sampling import (
        md5_mod_sql,
    )

    return md5_mod_sql(expr, f"bf{j}|", _BLOOM_M)


@register(
    "bloom_decontamination_audit",
    oracle=f"""
WITH {_TOKS_CTE},
sh AS (SELECT doc_id, {_shingles_sql(3)} AS shingles FROM toks_cte),
b AS (SELECT doc_id, {{bucket}} AS bkt FROM documents),
ev AS (
    SELECT DISTINCT unnest(sh.shingles) AS g
    FROM sh JOIN b USING (doc_id) WHERE b.bkt < {{thr}}
),
tr AS (
    SELECT DISTINCT unnest(sh.shingles) AS g
    FROM sh JOIN b USING (doc_id) WHERE b.bkt >= {{thr}}
),
bits AS (
    SELECT DISTINCT {_bloom_pos_sql("g", 0)} AS pos FROM ev
    UNION SELECT DISTINCT {_bloom_pos_sql("g", 1)} FROM ev
    UNION SELECT DISTINCT {_bloom_pos_sql("g", 2)} FROM ev
    UNION SELECT DISTINCT {_bloom_pos_sql("g", 3)} FROM ev
),
trpos AS (
    SELECT g, unnest([{", ".join(_bloom_pos_sql("g", j) for j in range(_BLOOM_K))}]) AS pos
    FROM tr
),
flag AS (
    SELECT t.g, (COUNT(bits.pos) = {_BLOOM_K}) AS bloom_pos
    FROM trpos t LEFT JOIN bits ON t.pos = bits.pos
    GROUP BY t.g
),
audit AS (
    SELECT f.g, f.bloom_pos, (e.g IS NOT NULL) AS exact_pos
    FROM flag f LEFT JOIN ev e ON f.g = e.g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_train_grams,
       CAST(SUM(CASE WHEN exact_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_overlap,
       CAST(SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_positive,
       CAST(SUM(CASE WHEN bloom_pos AND NOT exact_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positive,
       CAST(SUM(CASE WHEN exact_pos AND NOT bloom_pos THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negative,
       ROUND(100.0 * SUM(CASE WHEN bloom_pos AND NOT exact_pos THEN 1 ELSE 0 END)
             / NULLIF(COUNT(*) - SUM(CASE WHEN exact_pos THEN 1 ELSE 0 END), 0),
             6) AS fpr_pct
FROM audit
""".strip().format(
        bucket=_DECON_BUCKET_SQL, thr=sample_threshold(_DECON_PCT)
    ),
)
def q_bloom_decontamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter audit for eval-set decontamination — the
    scale path ``contamination_report`` documents for eval sets too big
    to broadcast as an exact n-gram list: an m={m}-bit / k={k}-hash
    Bloom bitmap is 8 KiB regardless of eval size, so at 100 TB the
    bitmap broadcasts to every executor and the exact (expensive) gram
    join runs only on the bloom-positive survivors. This query measures
    what that buys on the REAL split: distinct train 3-grams, exact
    overlap, bloom positives, false positives, and the measured
    false-positive rate — plus a false-NEGATIVE count the Bloom
    guarantee forces to zero (the structural self-check: a nonzero
    value here is a hash-portability bug, not tuning).

    The bit set is represented relationally (DISTINCT positions of the
    eval grams under the k seeded hashes, ≤ m rows) and the membership
    test is a broadcast position-join counting k hits — semantically
    identical to testing k bits in the packed bitmap, and expressible
    on both engines with the same md5 arithmetic as every other
    deterministic-sampling contract in this file. The train side
    reduces to DISTINCT grams first (one shuffle), fans out ×{k}
    positions as a pure projection, and aggregates back to gram grain;
    the final audit is a single 1-row aggregate."""
    from supplier_performance_data_pipeline_spark.operators.dedup import (
        shingle_sets,
    )

    docs = _docs(spark, sf_dir)
    bkt = hash_bucket(F.col("doc_id"), _DECON_SEED)
    thr = sample_threshold(_DECON_PCT)

    def grams(split: DataFrame) -> DataFrame:
        # spread=False: each split is a filtered slice of a tiny-bytes
        # scan and the eval arm's subplan executes twice in this DAG;
        # the narrow-scan repartition costs a shuffle per execution and
        # parallelizes nothing here (measured 2.1s -> 1.5s at sf0.1).
        # At 100 TB the scan is already wide and spread is a no-op
        # either way.
        return (
            shingle_sets(split, "text", _DECON_N, spread=False)
            .select(F.explode(F.array_distinct("shingles")).alias("g"))
            .distinct()
        )

    from supplier_performance_data_pipeline_spark.operators.sampling import (
        md5_mod,
    )

    def pos(col: F.Column, j: int) -> F.Column:
        return md5_mod(col, f"bf{j}|", _BLOOM_M)

    ev = grams(docs.filter(bkt < thr))
    tr = grams(docs.filter(bkt >= thr))
    bits = (
        ev.select(
            F.explode(
                F.array(*[pos(F.col("g"), j) for j in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("bit", F.lit(1))
    )
    trpos = tr.select(
        "g",
        F.explode(
            F.array(*[pos(F.col("g"), j) for j in range(_BLOOM_K)])
        ).alias("pos"),
    )
    flag = (
        trpos.join(F.broadcast(bits), "pos", "left")
        .groupBy("g")
        .agg((F.count("bit") == _BLOOM_K).alias("bloom_pos"))
    )
    audit = flag.join(
        F.broadcast(ev.withColumnRenamed("g", "eg").withColumn("e", F.lit(1))),
        flag.g == F.col("eg"),
        "left",
    ).select("g", "bloom_pos", F.col("e").isNotNull().alias("exact_pos"))
    n_exact = F.sum(F.when(F.col("exact_pos"), 1).otherwise(0))
    n_fp = F.sum(
        F.when(F.col("bloom_pos") & ~F.col("exact_pos"), 1).otherwise(0)
    )
    return audit.agg(
        F.count("*").cast("long").alias("n_train_grams"),
        n_exact.cast("long").alias("n_exact_overlap"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_positive"),
        n_fp.cast("long").alias("n_false_positive"),
        F.sum(F.when(F.col("exact_pos") & ~F.col("bloom_pos"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negative"),
        F.round(
            F.lit(100.0)
            * n_fp
            / F.nullif((F.count("*") - n_exact).cast("double"), F.lit(0.0)),
            6,
        ).alias("fpr_pct"),
    )


q_bloom_decontamination_audit.__doc__ = q_bloom_decontamination_audit.__doc__.format(
    m=_BLOOM_M, k=_BLOOM_K
)


# --- Gopher-style LINE-grain quality gate ------------------------------------

# Words per derived line; drop thresholds as exact integer fractions
# (share > num/den, tested by cross-multiplication — no float compare).
_LINE_W = 8
_BULLET_NUM, _BULLET_DEN = 3, 10   # >30% bullet lines
_ELLIP_NUM, _ELLIP_DEN = 1, 4      # >25% ellipsis-terminated lines
_CAPS_NUM, _CAPS_DEN = 1, 5       # >20% all-caps lines


def _lines_sql_duckdb() -> str:
    """DuckDB arm of the shared deterministic line derivation (see
    q_corpus_line_quality_gate docstring)."""
    seg = f"array_to_string(w[CAST(i*{_LINE_W}+1 AS BIGINT):" \
          f"CAST(i*{_LINE_W}+{_LINE_W} AS BIGINT)], ' ')"
    return (
        f"list_transform(range(0, (len(w) + {_LINE_W - 1}) // {_LINE_W}), "
        f"i -> CASE WHEN (i + doc_id) % m = 0 THEN '- ' || {seg} "
        f"WHEN (i + doc_id) % m = 1 THEN {seg} || '...' "
        f"WHEN (i + doc_id) % m = 2 THEN upper({seg}) "
        f"ELSE {seg} END)"
    )


@register(
    "corpus_line_quality_gate",
    oracle=f"""
WITH base AS (
    SELECT doc_id, source, string_split(text, ' ') AS w,
           3 + doc_id % 5 AS m
    FROM documents
),
linest AS (
    SELECT doc_id, source, {_lines_sql_duckdb()} AS lines FROM base
),
docm AS (
    SELECT source,
           len(lines) AS nl,
           len(list_filter(lines, x -> substr(x, 1, 2) = '- ')) AS nb,
           len(list_filter(lines, x -> right(x, 3) = '...')) AS ne,
           len(list_filter(lines,
               x -> x = upper(x) AND x <> lower(x))) AS nc
    FROM linest
),
verdicts AS (
    SELECT source,
           CASE WHEN {_BULLET_DEN} * nb > {_BULLET_NUM} * nl
                THEN 1 ELSE 0 END AS d_b,
           CASE WHEN {_ELLIP_DEN} * ne > {_ELLIP_NUM} * nl
                THEN 1 ELSE 0 END AS d_e,
           CASE WHEN {_CAPS_DEN} * nc > {_CAPS_NUM} * nl
                THEN 1 ELSE 0 END AS d_c,
           nl
    FROM docm
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nl) AS BIGINT) AS n_lines_total,
       CAST(SUM(d_b) AS BIGINT) AS n_dropped_bullet,
       CAST(SUM(d_e) AS BIGINT) AS n_dropped_ellipsis,
       CAST(SUM(d_c) AS BIGINT) AS n_dropped_caps,
       CAST(SUM(CASE WHEN d_b + d_e + d_c = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM verdicts GROUP BY source
""".strip(),
)
def q_corpus_line_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINE-grain quality gate in the Gopher family (Rae et al. 2021
    §A1.1: drop documents dominated by bullet lines, ellipsis-
    terminated lines, or all-caps lines) — the rule class that needs a
    multi-line corpus, which the driver's single-line synthetic docs
    don't provide. Per the round-7 verdict the gate therefore derives
    a DETERMINISTIC multi-line view inside the query, identically in
    both arms: words re-wrap into {W}-word lines, and line i of doc d
    gets a style from ((i + d) mod m, m = 3 + d mod 5) — bullet
    prefix, '...' suffix, uppercase, or untouched. The modulus spread
    calibrates the shares so EVERY rule both fires and passes across
    the corpus (m=3 docs trip all three; m=4 only the caps rule;
    m>=5 pass clean), and thresholds are tested by integer
    cross-multiplication — no float compare anywhere.

    Scale: the derivation and all line counts are per-doc ARRAY
    expressions (transform/filter/slice) — embarrassingly parallel,
    zero shuffle until the final source-grain aggregate; no explode
    ever materializes line rows. On a real multi-line corpus the
    derivation collapses to split(text, '\\n') and the gate is
    unchanged — that seam is the point of keeping derivation and
    rules as separate expressions. Oracle authored per ORACLES.md
    (integer cross-multiplied thresholds, no float compare)."""
    docs = _docs(spark, sf_dir)
    seg = (
        f"array_join(slice(w, CAST(i*{_LINE_W}+1 AS INT), {_LINE_W}), ' ')"
    )
    lines_expr = (
        f"transform(sequence(CAST(0 AS BIGINT), "
        f"CAST((size(w) + {_LINE_W - 1}) div {_LINE_W} AS BIGINT) - 1), "
        f"i -> CASE WHEN (i + doc_id) % m = 0 THEN '- ' || {seg} "
        f"WHEN (i + doc_id) % m = 1 THEN {seg} || '...' "
        f"WHEN (i + doc_id) % m = 2 THEN upper({seg}) "
        f"ELSE {seg} END)"
    )
    docm = (
        docs.select(
            "doc_id",
            "source",
            F.split("text", " ").alias("w"),
            (F.lit(3) + F.col("doc_id") % 5).alias("m"),
        )
        .withColumn("lines", F.expr(lines_expr))
        .select(
            "source",
            F.size("lines").alias("nl"),
            F.size(
                F.expr("filter(lines, x -> substr(x, 1, 2) = '- ')")
            ).alias("nb"),
            F.size(
                F.expr("filter(lines, x -> right(x, 3) = '...')")
            ).alias("ne"),
            F.size(
                F.expr(
                    "filter(lines, x -> x = upper(x) AND x <> lower(x))"
                )
            ).alias("nc"),
        )
    )
    d_b = F.when(
        F.lit(_BULLET_DEN) * F.col("nb") > F.lit(_BULLET_NUM) * F.col("nl"), 1
    ).otherwise(0)
    d_e = F.when(
        F.lit(_ELLIP_DEN) * F.col("ne") > F.lit(_ELLIP_NUM) * F.col("nl"), 1
    ).otherwise(0)
    d_c = F.when(
        F.lit(_CAPS_DEN) * F.col("nc") > F.lit(_CAPS_NUM) * F.col("nl"), 1
    ).otherwise(0)
    v = docm.select("source", "nl", d_b.alias("d_b"), d_e.alias("d_e"),
                    d_c.alias("d_c"))
    return v.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("nl").cast("long").alias("n_lines_total"),
        F.sum("d_b").cast("long").alias("n_dropped_bullet"),
        F.sum("d_e").cast("long").alias("n_dropped_ellipsis"),
        F.sum("d_c").cast("long").alias("n_dropped_caps"),
        F.sum(
            F.when(F.col("d_b") + F.col("d_e") + F.col("d_c") == 0, 1)
            .otherwise(0)
        ).cast("long").alias("n_kept"),
    )


q_corpus_line_quality_gate.__doc__ = q_corpus_line_quality_gate.__doc__.format(
    W=_LINE_W
)
