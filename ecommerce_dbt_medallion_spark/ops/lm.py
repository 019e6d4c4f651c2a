"""N-gram language-model operators — the statistical-LM side of a
training-data pipeline: estimate a bigram model from the corpus, then
score every document under it (low-probability docs ≈ noisy/outlier
text, the classic cheap quality filter before expensive model-based
filtering).

Cross-engine float discipline:
- conditional probabilities are ONE exact-integer division
  (pair count / prefix count), engine-bit-identical;
- the per-document mean probability is an ORDERED left fold over the
  document's bigram sequence (Spark ``F.aggregate`` vs DuckDB
  ``list_aggregate(list(p ORDER BY pos), 'sum')``) — the fold-order
  trick verified bit-identical in round 1 (ops/similarity.py dot
  products). A groupBy sum of doubles would NOT hash-match.

Scale shape: tokenization+bigram explode is linear; model estimation is
two count shuffles (pair grain, then prefix grain); scoring joins the
doc bigram stream to the model at (w1, w2) — AQE skew-splits
stopword-pair hot keys; the per-doc fold state is bounded by document
length (docs are bounded; the collect_list is per doc, never per corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.ops.text import WORD_RE
from ecommerce_dbt_medallion_spark.sources.registry import load_table


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, w1, w2) — ordered bigram stream per document."""
    docs = load_table(spark, sf_dir, "documents")
    # NB: the pattern goes through F.lit, NOT an F.expr SQL string —
    # Spark SQL string literals eat the backslash in '\w+'
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)).alias(
            "t"
        ),
    )
    return (
        toks.where(F.size("t") >= 2)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(t[i-1] as w1, t[i] as w2))"
                )
            ).alias("pos", "bg"),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "bg.w1", "bg.w2")
    )


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLE bigram model: p(w2|w1) = n(w1,w2) / n(w1,·)."""
    bi = _doc_bigrams(spark, sf_dir)
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    pc = bc.groupBy("w1").agg(F.sum("n_pair").alias("n_prefix"))
    return bc.join(pc, "w1").select(
        "w1",
        "w2",
        "n_pair",
        "n_prefix",
        (F.col("n_pair").cast("double") / F.col("n_prefix")).alias("prob"),
    )


def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram probability per document under the corpus model
    (ordered-fold sum → one division; bit-identical across engines)."""
    bi = _doc_bigrams(spark, sf_dir).localCheckpoint(eager=False)
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("n_pair"))
    pc = bc.groupBy("w1").agg(F.sum("n_pair").alias("n_prefix"))
    lm = bc.join(pc, "w1").select(
        "w1",
        "w2",
        (F.col("n_pair").cast("double") / F.col("n_prefix")).alias("prob"),
    )
    joined = bi.join(lm, ["w1", "w2"])
    per_doc = (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "prob"))),
                    lambda s: s.prob,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("prob_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("prob_sum") / F.col("n_bigrams")).alias("lm_score"),
        )
    )
    return per_doc


_ORACLE_BIGRAM_BASE = f"""
with toks as (
    select doc_id, regexp_extract_all(lower(text), '{WORD_RE}') as t
    from documents
),
pos as (
    select doc_id, t, unnest(range(1, len(t))) as i
    from toks where len(t) >= 2
),
bi as (
    select doc_id, cast(i - 1 as bigint) as pos,
        t[cast(i as int)] as w1, t[cast(i as int) + 1] as w2
    from pos
),
bc as (select w1, w2, count(*) as n_pair from bi group by 1, 2),
pc as (select w1, cast(sum(n_pair) as bigint) as n_prefix from bc group by 1)
"""


def oracle_bigram_lm() -> str:
    return (
        _ORACLE_BIGRAM_BASE
        + """
select bc.w1, bc.w2, bc.n_pair, pc.n_prefix,
    cast(bc.n_pair as double) / pc.n_prefix as prob
from bc join pc using (w1)
"""
    )


# ------------------------------------------------- per-source mix report

LMMIX_BUCKETS = 64
LMMIX_DECILES = [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


def _decile_bounds_from(scores: DataFrame) -> DataFrame:
    """Estimated decile boundaries of ``scores.lm_score`` via the
    equi-width-histogram walk (ops/sketch.py ``histogram_quantiles``
    shape — NEVER ntile's global sort): for each p, target rank =
    ceil(p·n), first cumulative bucket reaching it, linear interpolation
    inside."""
    from ecommerce_dbt_medallion_spark.ops.sketch import hist_quantile_estimates

    return hist_quantile_estimates(
        scores.select(F.col("lm_score").alias("x")),
        LMMIX_DECILES,
        LMMIX_BUCKETS,
    ).select(F.col("p").alias("decile_p"), F.col("est").alias("est_bound"))


def lm_score_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#36b: per-source LM-score decile mix — the perplexity-binned
    mixing report a pretraining pipeline reads before setting
    ``corpus_mix_weights`` (which sources contribute which quality
    deciles, by doc and token mass).

    Composes two certified keys: ``doc_lm_score`` supplies the per-doc
    statistical quality signal; the decile boundaries come from the
    histogram path (:func:`_decile_bounds_from`), never a global sort.
    Decile assignment is a 9-value broadcast array filter (pure
    expression); the report grain is (source × decile) ≤ sources·10.

    Scale shape (100 TB): corpus-scale work is doc_lm_score's two count
    shuffles + one doc-grain source join; the histogram is a ≤64-row
    agg, boundaries a 1-row broadcast, and the final groupBy is
    map-side combinable into a tiny frame (the share window runs over
    the AGGREGATED frame, dataset_split_stats-style).

    Determinism: lm_score doubles are bit-identical by doc_lm_score's
    ordered-fold discipline; boundary arithmetic is written identically
    in both engines (exact-int targets, IEEE interpolation); counts and
    token sums are exact bigints; doc_share is ONE division.
    """
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = (
        doc_lm_score(spark, sf_dir)
        .join(src, "doc_id")
        .localCheckpoint(eager=False)
    )
    barr = F.broadcast(
        _decile_bounds_from(scored).agg(
            F.sort_array(F.collect_list("est_bound")).alias("barr")
        )
    )
    assigned = scored.crossJoin(barr).select(
        "source",
        F.size(
            F.filter(F.col("barr"), lambda bnd: F.col("lm_score") > bnd)
        ).cast("long").alias("decile"),
        "n_bigrams",
        "lm_score",
    )
    g = assigned.groupBy("source", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        F.min("lm_score").alias("min_lm_score"),
        F.max("lm_score").alias("max_lm_score"),
    )
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(
        Window.partitionBy("source")
    ).cast("double")
    return g.select(
        "source",
        "decile",
        "n_docs",
        "n_bigrams",
        F.round(share, 6).alias("doc_share_r6"),
        "min_lm_score",
        "max_lm_score",
    )


def oracle_doc_lm_score() -> str:
    return (
        _ORACLE_BIGRAM_BASE
        + """,
lm as (
    select bc.w1, bc.w2, cast(bc.n_pair as double) / pc.n_prefix as prob
    from bc join pc using (w1)
),
joined as (
    select b.doc_id, b.pos, lm.prob
    from bi b join lm on lm.w1 = b.w1 and lm.w2 = b.w2
)
select doc_id, count(*) as n_bigrams,
    list_aggregate(list(prob order by pos), 'sum') / count(*) as lm_score
from joined
group by doc_id
"""
    )


def oracle_lm_score_source_mix() -> str:
    b = LMMIX_BUCKETS
    ps = ", ".join(f"cast({p} as double)" for p in LMMIX_DECILES)
    return (
        _ORACLE_BIGRAM_BASE
        + f""",
lm as (
    select bc.w1, bc.w2, cast(bc.n_pair as double) / pc.n_prefix as prob
    from bc join pc using (w1)
),
joined as (
    select b.doc_id, b.pos, lm.prob
    from bi b join lm on lm.w1 = b.w1 and lm.w2 = b.w2
),
per as (
    select doc_id, count(*) as n_bigrams,
        list_aggregate(list(prob order by pos), 'sum') / count(*) as lm_score
    from joined
    group by doc_id
),
scored as materialized (
    select per.doc_id, d.source, per.n_bigrams, per.lm_score
    from per join documents d using (doc_id)
),
rng as (
    select min(lm_score) as lo, max(lm_score) as hi, count(*) as n from scored
),
hist as (
    select
        cast(case when r.hi = r.lo then 0
             else least({b} - 1,
                        floor((s.lm_score - r.lo) / (r.hi - r.lo) * {b}))
        end as bigint) as bucket,
        r.lo, r.hi, r.n, count(*) as cnt
    from scored s cross join rng r
    group by 1, 2, 3, 4
),
cum as (
    select *, sum(cnt) over (
        order by bucket rows between unbounded preceding and current row
    ) as cum
    from hist
),
ps as (select unnest([{ps}]) as p),
hits as (
    select p, bucket, lo, hi, n, cnt, cum,
        cast(ceil(p * n) as bigint) as target,
        row_number() over (partition by p order by bucket) as rn
    from cum cross join ps
    where cum >= ceil(p * n)
),
bounds as (
    select p,
        lo + (bucket + (target - (cum - cnt)) / cnt) * ((hi - lo) / {b}) as est
    from hits where rn = 1
),
barr as (select list(est order by est) as barr from bounds),
assigned as (
    select s.source,
        cast(len(list_filter(ba.barr, x -> s.lm_score > x)) as bigint) as decile,
        s.n_bigrams, s.lm_score
    from scored s cross join barr ba
),
g as (
    select source, decile,
        cast(count(*) as bigint) as n_docs,
        cast(sum(n_bigrams) as bigint) as n_bigrams,
        min(lm_score) as min_lm_score,
        max(lm_score) as max_lm_score
    from assigned
    group by 1, 2
)
select source, decile, n_docs, n_bigrams,
    round(cast(n_docs as double)
          / cast(sum(n_docs) over (partition by source) as double), 6)
        as doc_share_r6,
    min_lm_score, max_lm_score
from g
"""
    )
