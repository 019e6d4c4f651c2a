"""Deterministic corpus sampling — the down-sampling stage of a
training-data pipeline (language rebalancing, eval holdouts).

Randomness is replaced by hashing so runs are reproducible and the
DuckDB oracle is value-exact: a document's inclusion depends only on
md5(doc_id || salt). The uniform variate is the first 8 hex chars of the
md5 COMPARED AS A STRING against a precomputed hex threshold —
lexicographic order on fixed-width lowercase hex equals numeric order,
and both engines produce the identical digest string, so no hex→int
conversion (an engine-dialect minefield) is ever needed.

Both operators are single-pass, shuffle-free (stratified filter) or
bounded-shuffle (fixed-k: the two-stage top-k from ops.topk), and scale
linearly: nothing here materializes a stratum in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.ops.topk import top_k_per_group
from ecommerce_dbt_medallion_spark.sources.registry import load_table

SAMPLE_SALT = "#strat1"

# Per-language keep rates: rebalance a multilingual corpus toward the
# high-resource language while retaining long-tail coverage.
STRATA_RATES: dict[str, float] = {"en": 0.5, "de": 0.35, "fr": 0.2, "es": 0.1}
DEFAULT_RATE = 0.05

PER_STRATUM_K = 40


def _hex_threshold(rate: float) -> str:
    """rate in [0,1] → 8-hex-digit cutoff: keep iff md5-prefix < cutoff."""
    return format(min(int(rate * 16**8), 16**8 - 1), "08x")


def _bucket(col):
    return F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(SAMPLE_SALT))), 1, 8
    )


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-stratified Bernoulli sample with per-language rates.

    Pure filter over one scan — no shuffle, trivially parallel at any
    scale; the sample is a deterministic function of doc_id alone, so
    re-runs (and engines) agree row-for-row.
    """
    thr = F.lit(_hex_threshold(DEFAULT_RATE))
    for lang, rate in sorted(STRATA_RATES.items()):
        thr = F.when(F.col("lang") == lang, F.lit(_hex_threshold(rate))).otherwise(thr)
    return (
        load_table(spark, sf_dir, "documents")
        .withColumn("sample_bucket", _bucket(F.col("doc_id")))
        .where(F.col("sample_bucket") < thr)
        .select("doc_id", "lang", "source", "n_chars", "sample_bucket")
    )


def oracle_corpus_stratified_sample() -> str:
    cases = "\n            ".join(
        f"when '{lang}' then '{_hex_threshold(rate)}'"
        for lang, rate in sorted(STRATA_RATES.items())
    )
    return f"""
select doc_id, lang, source, n_chars, sample_bucket from (
    select doc_id, lang, source, n_chars,
        substr(md5(cast(doc_id as varchar) || '{SAMPLE_SALT}'), 1, 8) as sample_bucket,
        case lang
            {cases}
            else '{_hex_threshold(DEFAULT_RATE)}'
        end as thr
    from documents
) where sample_bucket < thr
"""


def corpus_sample_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample: the PER_STRATUM_K docs with the
    smallest md5 bucket per language (an exact hash-ordered 'reservoir').

    Uses the two-stage salted top-k (ops.topk) so a 100 TB stratum never
    funnels through a single window partition.
    """
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "sample_bucket", _bucket(F.col("doc_id"))
    )
    return top_k_per_group(
        docs,
        ["lang"],
        [F.asc("sample_bucket"), F.asc("doc_id")],
        F.col("doc_id"),
        PER_STRATUM_K,
        rank_alias="sample_rank",
    ).select("doc_id", "lang", "sample_bucket", "sample_rank")


def oracle_corpus_sample_per_stratum() -> str:
    return f"""
select doc_id, lang, sample_bucket, sample_rank from (
    select doc_id, lang,
        substr(md5(cast(doc_id as varchar) || '{SAMPLE_SALT}'), 1, 8) as sample_bucket,
        cast(row_number() over (
            partition by lang
            order by substr(md5(cast(doc_id as varchar) || '{SAMPLE_SALT}'), 1, 8), doc_id
        ) as bigint) as sample_rank
    from documents
) where sample_rank <= {PER_STRATUM_K}
"""


# ------------------------------------- quality-weighted sampling

WSAMP_SALT = "#wsamp1"
_WSAMP_SCALE = 4294967296.0  # 2^32: score -> 8-hex-digit threshold


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic Bernoulli sampling: each document
    survives with probability = its quality score (high-quality docs
    kept, low-quality downsampled) — the importance-resampling step of a
    training-data pipeline.

    keep iff md5-uniform(doc_id) < floor(score * 2^32) rendered as an
    8-hex-digit threshold — a per-row STRING compare, reproducible
    across engines, runs, and partitionings. Unlike
    ``corpus_stratified_sample`` (fixed per-language rates) the rate
    here is per-document data. Pure projection + filter: zero shuffle,
    scan-bound at 100 TB.
    """
    from ecommerce_dbt_medallion_spark.ops.text import text_quality_score

    q = text_quality_score(spark, sf_dir)
    u_hex = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(WSAMP_SALT))), 1, 8
    )
    thr_int = F.least(
        F.floor(F.col("quality_score") * F.lit(_WSAMP_SCALE)).cast("bigint"),
        F.lit(4294967295),
    )
    thr_hex = F.format_string("%08x", thr_int)
    return (
        q.select("doc_id", "lang", "quality_score", u_hex.alias("u_hex"))
        .where(F.col("u_hex") < thr_hex)
        .select("doc_id", "lang", "quality_score")
    )


def oracle_corpus_weighted_sample() -> str:
    from ecommerce_dbt_medallion_spark.ops.text import oracle_text_quality_score

    return f"""
with q as ({oracle_text_quality_score()})
select doc_id, lang, quality_score
from q
where substring(md5(cast(doc_id as varchar) || '{WSAMP_SALT}'), 1, 8)
      < printf('%08x', least(cast(floor(quality_score * {_WSAMP_SCALE}) as bigint),
                             4294967295))
"""


# ------------------------------------------------------- mixing weights

MIX_TOKEN_BUDGET = 1_000_000  # tokens allocated across sources
# temperature-scaled mixing: weight ∝ share^(1/2). sqrt is IEEE-754
# correctly rounded in BOTH engines (java.lang.Math.sqrt / libm), so —
# unlike log/exp — it is safe in a value-oracled expression.


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35f: per-source data-mixing weights (temperature-scaled token
    shares) + a concrete token-budget allocation.

    The domain-reweighting step of corpus assembly (the static variant
    of DoReMi-style mixture tuning): raw token share per source is
    flattened with alpha=0.5 (sqrt), renormalized, and multiplied into
    a global token budget. All inputs are exact bigints; the float tree
    is share → sqrt → renormalize → budget, written identically in both
    engines, with the cross-source normalizing sum computed as an
    ORDERED fold over sources (sorted by name) — F.sum's partition
    order would make the last ulp nondeterministic.

    Plan: one (source)-grain aggregate with map-side partials over the
    token explode (shared shape with text_token_stats), a 1-row
    broadcast for totals, and a sources-grain ordered fold — sources
    number in the hundreds at worst, so everything after the first
    aggregate is metadata-scale.
    """
    from ecommerce_dbt_medallion_spark.ops.text import WORD_RE

    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source",
            F.size(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0))
            ).alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    total = F.broadcast(per_source.agg(F.sum("n_tokens").alias("total_tokens")))
    shared = per_source.crossJoin(total).withColumn(
        "w_raw",
        F.sqrt(F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")),
    )
    norm = F.broadcast(
        shared.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("source", "w_raw"))),
                F.lit(0.0),
                lambda a, p: a + p["w_raw"],
            ).alias("w_sum")
        )
    )
    weight = F.col("w_raw") / F.col("w_sum")
    return shared.crossJoin(norm).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double"), 6
        ).alias("token_share_r6"),
        F.round(weight, 6).alias("mix_weight_r6"),
        F.floor(weight * F.lit(float(MIX_TOKEN_BUDGET))).cast("long").alias(
            "alloc_tokens"
        ),
    )


def oracle_corpus_mix_weights() -> str:
    from ecommerce_dbt_medallion_spark.ops.text import WORD_RE

    return f"""
with per_source as (
    select source, count(*) as n_docs,
        sum(len(regexp_extract_all(lower(text), '{WORD_RE}'))) as n_tokens
    from documents group by source
),
total as (select sum(n_tokens) as total_tokens from per_source),
shared as (
    select source, n_docs, n_tokens, total_tokens,
        sqrt(cast(n_tokens as double) / cast(total_tokens as double)) as w_raw
    from per_source cross join total
),
norm as (
    select list_aggregate(list(w_raw order by source), 'sum') as w_sum from shared
)
select source,
    cast(n_docs as bigint) as n_docs,
    cast(n_tokens as bigint) as n_tokens,
    round(cast(n_tokens as double) / cast(total_tokens as double), 6)
        as token_share_r6,
    round(w_raw / w_sum, 6) as mix_weight_r6,
    cast(floor((w_raw / w_sum) * {float(MIX_TOKEN_BUDGET)!r}) as bigint)
        as alloc_tokens
from shared cross join norm
"""


# ------------------------------- fixed-size weighted reservoir (A-ES)

RSV_SALT = "#rsv1"
RESERVOIR_K = 200
RSV_MAX_WEIGHT = 8  # integer weights 1..8 (quality-score octile + 1)


def weighted_reservoir(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """The engine-exact A-ES core: keep the ``k`` rows with the largest
    priority, where priority = max over i in 1..weight of
    md5(id, RSV_SALT, i) — distributed as u^(1/w) for integer weights (the
    max-of-w-uniforms identity), with no engine-divergent float pow.
    ``weight_col`` must be a positive integer column. Appends
    ``priority`` (16-hex string) and ``sample_rank``; selection is a
    deterministic function of (id, weight) alone, so shards,
    re-runs, and engines agree row-for-row."""
    from ecommerce_dbt_medallion_spark.ops.topk import top_k_per_group

    priority = F.array_max(
        F.transform(
            F.sequence(F.lit(1), F.col(weight_col)),
            lambda i: F.substring(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"), F.lit(RSV_SALT), i.cast("string")
                    )
                ),
                1,
                16,
            ),
        )
    )
    return top_k_per_group(
        df.withColumn("priority", priority),
        [],
        [F.desc("priority"), F.asc(id_col)],
        F.col(id_col),
        k,
        rank_alias="sample_rank",
    )


def corpus_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35h: fixed-SIZE weight-proportional sample — the
    Efraimidis–Spirakis A-ES reservoir, made engine-exact.

    ``corpus_weighted_sample`` is Bernoulli (random SIZE, per-doc keep
    probability); a training-data pipeline just as often needs "exactly
    k documents, preferring high quality" — eval sets, human-review
    batches, distillation subsets. A-ES: draw u~U(0,1) per doc, keep
    the k largest u^(1/w). The float pow is engine-divergent (libm vs
    java.lang.Math), so we use the DISTRIBUTIONAL identity instead:
    u^(1/w) for integer w is distributed as the MAX of w iid uniforms.
    Priority = max over i in 1..w of md5(doc_id, salt, i) — fixed-width
    hex compares preserve uniform order, every draw is exact-integer
    md5 math both engines reproduce bit-for-bit, and the tie-break is
    doc_id. Integer weight = quality-score octile (1..8; null-score
    docs weigh 1).

    Mergeable by the top-k algebra: the global top-k is a subset of the
    union of per-shard top-ks (anything discarded lost to >= k rows in
    its own shard), so shards keep k rows each and the combiner re-ranks
    — exactly the two-stage salted shape of :func:`ops.topk.
    top_k_per_group` with an empty group list (stage 2 sorts
    ``salt_mod * k`` bounded rows, never the corpus). O(w)<=8 md5 calls
    per row, zero pre-aggregation shuffle: scan-bound at 100 TB.
    """
    from ecommerce_dbt_medallion_spark.ops.text import text_quality_score

    q = text_quality_score(spark, sf_dir)
    weight = F.coalesce(
        (
            F.lit(1)
            + F.least(
                F.floor(F.col("quality_score") * RSV_MAX_WEIGHT),
                F.lit(RSV_MAX_WEIGHT - 1),
            )
        ).cast("int"),
        F.lit(1),
    )
    scored = q.select("doc_id", "lang", "quality_score", weight.alias("weight"))
    return weighted_reservoir(scored, "doc_id", "weight", RESERVOIR_K).select(
        "doc_id",
        "lang",
        "quality_score",
        F.col("weight").cast("long").alias("weight"),
        "priority",
        "sample_rank",
    )


def oracle_corpus_weighted_reservoir() -> str:
    from ecommerce_dbt_medallion_spark.ops.text import oracle_text_quality_score

    return f"""
with q as ({oracle_text_quality_score()}),
scored as (
    select doc_id, lang, quality_score,
        coalesce(cast(1 + least(cast(floor(quality_score * {RSV_MAX_WEIGHT}) as bigint),
                                {RSV_MAX_WEIGHT - 1}) as int), 1) as weight
    from q
),
prio as (
    select doc_id, lang, quality_score, weight,
        list_max(list_transform(generate_series(1, weight),
            i -> substr(md5(cast(doc_id as varchar) || '{RSV_SALT}' || cast(i as varchar)), 1, 16)
        )) as priority
    from scored
)
select doc_id, lang, quality_score, cast(weight as bigint) as weight, priority,
    cast(row_number() over (order by priority desc, doc_id) as bigint) as sample_rank
from prio
qualify sample_rank <= {RESERVOIR_K}
"""


# -------------------------------------------- global shuffle + shards

# Round 11: the EXPORT stage of a training-data pipeline — a
# reproducible global shuffle of the corpus plus balanced shard
# assignment (the order a trainer will stream, and the file manifest
# it streams from). Randomness is the same md5 trick as the samplers;
# the global permutation is computed DISTRIBUTED as (shard, position
# within shard): shards are the 16 value-buckets of the key's first
# hex digit, so shard boundaries are ORDER-PRESERVING prefixes of the
# key space and (shard_id asc, skey asc) IS the global key order —
# each shard sorts independently (one shuffle on shard_id, ~n/16 rows
# per partition), and the global position adds a 16-row cumulative
# offset. No global single-partition sort anywhere; at 100 TB this is
# exactly Spark's range-partitioned sort shape with md5 as the range
# key.
SHUFFLE_SALT = "#shuffle:42"  # the reproducibility seed — the one dial


def corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard manifest: every doc
    gets (shard_id, pos_in_shard, global_pos) under the seeded md5
    permutation. global_pos is a bijection 1..N in key order, equal on
    both engines; re-running with the same seed reproduces it exactly
    (the property a resumable training run needs).
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(SHUFFLE_SALT))
        ).alias("skey"),
    ).withColumn(
        "shard_id",
        F.conv(F.substring("skey", 1, 1), 16, 10).cast("long"),
    )
    w = Window.partitionBy("shard_id").orderBy(F.asc("skey"), F.asc("doc_id"))
    pos = keyed.withColumn(
        "pos_in_shard", F.row_number().over(w).cast("long")
    )
    # 16-row shard-count frame → cumulative offsets (metadata-scale
    # single-partition window, the gold-daily-window exemption)
    woff = Window.orderBy("shard_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        keyed.groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(woff), F.lit(0)))
        .select("shard_id", "off")
    )
    return pos.join(F.broadcast(offsets), "shard_id").select(
        "doc_id",
        "skey",
        F.col("shard_id").cast("long").alias("shard_id"),
        "pos_in_shard",
        (F.col("pos_in_shard") + F.col("off")).cast("long").alias("global_pos"),
    )


def oracle_corpus_shuffle_shard() -> str:
    return f"""
with k as (
    select doc_id,
        md5(cast(doc_id as varchar) || '{SHUFFLE_SALT}') as skey
    from documents
), s as (
    select doc_id, skey,
        cast(strpos('0123456789abcdef', substr(skey, 1, 1)) - 1 as bigint)
            as shard_id
    from k
), p as (
    select doc_id, skey, shard_id,
        cast(row_number() over (
            partition by shard_id order by skey asc, doc_id asc
        ) as bigint) as pos_in_shard
    from s
), offs as (
    select shard_id,
        coalesce(sum(n) over (
            order by shard_id
            rows between unbounded preceding and 1 preceding
        ), 0) as off
    from (select shard_id, count(*) as n from s group by shard_id)
)
select p.doc_id, p.skey, p.shard_id, p.pos_in_shard,
    cast(p.pos_in_shard + o.off as bigint) as global_pos
from p join offs o on p.shard_id = o.shard_id
"""

