"""Exact duplicated-substring detection over ``documents``
(SURVEY.md §2 #35c) — the span-level complement to document-level dedup.

Document-grain dedup (exact / minhash / simhash) misses the dominant
contamination mode in web-scale corpora: long VERBATIM spans (boiler-
plate, licenses, quoted articles) embedded in otherwise-distinct
documents. The reference treatment (suffix arrays, Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better") is a
shared-memory construction that does not distribute; the scalable
equivalent is fixed-length window fingerprinting: a span of length
>= 2·SUB_L - 1 duplicated across two documents is ALWAYS caught by at
least one aligned SUB_L-window pair, and the per-document duplicated-
window ratio is the paper's "duplicated fraction of the corpus" metric.

Per document: how many of its SUB_L-char windows (stride 1) also occur
in at least one OTHER document. Windows are keyed by md5 of the raw
substring — exact match, engine-portable, collision odds ~n²/2^128.

Plan shape (all linear in corpus characters):
- window explode is NARROW: the md5 array is built per-row with one
  transform() (the text attribute is row-local — no CSE re-evaluation
  pitfall), then exploded to (doc_id, h) without carrying the text;
- one shuffle to (doc_id, h) grain (map-side combine absorbs intra-doc
  repeats), one tiny reduce to h grain for the document frequency;
- the df>=2 filter drops ~everything BEFORE the join back (measured
  ~4% of hashes at sf0.01), so the join input is the duplicated tail
  only; AQE skew-splits boilerplate-grade hot hashes;
- per-doc rollup + a broadcast-friendly left join against doc lengths.

100 TB dial (round 8 — COMPUTED):
positional stride sampling is UNSOUND here — two copies of a span at
different alignments sample disjoint window phases and share no hash —
so the scale dial is CONTENT-DEFINED selection: winnowing (Schleimer
et al.) over the window-hash stream. ``substring_winnow_for(total_
windows)`` computes the winnow width ``w`` that keeps the expected
selected-fingerprint volume (≈ 2/(w+1) density) inside a budget, with
a DETERMINISTIC catch bound: any span duplicated across two documents
with length >= SUB_L + w - 1 contains a full w-run of identical window
hashes in both copies, whose minimum is selected in both —
alignment-independent, unlike stride.
``exact_substring_dedup_sampled`` is the production path;
the exact stride-1 op below stays as the oracle-gated ground truth
(and equals the sampled path at w = 1, test-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.sources.registry import load_table

SUB_L = 40  # window length (chars); catches duplicated spans >= 79 chars


def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35c: per-doc duplicated-window stats (cross-document exact spans)."""
    docs = _docs_windows(spark, sf_dir)
    hashes = F.transform(
        F.sequence(F.lit(1), F.col("n_windows")),
        lambda i: F.md5(F.col("text").substr(i, F.lit(SUB_L))),
    )
    w = docs.select("doc_id", F.explode(hashes).alias("h"))
    per = w.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    hd = per.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dup = (
        per.join(hd.where(F.col("df") >= 2), "h")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_windows"), F.count(F.lit(1)).alias("dup_hashes"))
    )
    return (
        docs.select("doc_id", "n_windows")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_hashes", F.lit(0)).cast("long").alias("dup_hashes"),
            F.round(
                F.coalesce("dup_windows", F.lit(0)).cast("double")
                / F.col("n_windows"),
                6,
            ).alias("dup_ratio_r6"),
        )
        .orderBy("doc_id")
    )


def oracle_exact_substring_dedup() -> str:
    return f"""
with d as (
    select doc_id, text, len(text) - {SUB_L} + 1 as n_windows
    from documents where len(text) >= {SUB_L}
),
w as (
    select doc_id, unnest(list_transform(range(1, n_windows + 1),
        i -> md5(substr(text, i, {SUB_L})))) as h
    from d
),
per as (select doc_id, h, count(*) as c from w group by doc_id, h),
hd as (select h, count(*) as df from per group by h),
dup as (
    select doc_id, sum(c) as dup_windows, count(*) as dup_hashes
    from per join (select h from hd where df >= 2) using (h)
    group by doc_id
)
select d.doc_id,
    cast(d.n_windows as bigint) as n_windows,
    cast(coalesce(dup.dup_windows, 0) as bigint) as dup_windows,
    cast(coalesce(dup.dup_hashes, 0) as bigint) as dup_hashes,
    round(cast(coalesce(dup.dup_windows, 0) as double) / d.n_windows, 6)
        as dup_ratio_r6
from d left join dup using (doc_id)
order by doc_id
"""


# --------------------------------------------------------------- scale dial

# Target corpus-wide selected-fingerprint volume for the sampled path.
# At 100 TB (~1e14 windows) the default gives w ≈ 400: ~5e11 selected
# rows of (doc_id, 16-byte hash) ≈ 12 TB exchange — shuffle-feasible on
# a 1000-executor cluster — while still guaranteeing every duplicated
# span >= SUB_L + w - 1 ≈ 440 chars is caught deterministically.
SUBSTRING_SELECT_BUDGET = 500_000_000_000

# Hard ceiling: past this the guaranteed span (SUB_L + w - 1) exceeds
# typical boilerplate scale and the estimator stops being useful.
SUBSTRING_WINNOW_MAX = 2_000


def substring_winnow_for(
    total_windows: int, budget_selected: int = SUBSTRING_SELECT_BUDGET
) -> int:
    """The winnow-width SCALE DIAL: smallest w keeping the EXPECTED
    selected volume 2·total_windows/(w+1) at or under the budget
    (winnowing's expected density is 2/(w+1)), floored at 1 (= select
    every window: exactly the gated stride-1 op). The guaranteed-catch
    span length is SUB_L + w - 1 chars: such a span holds >= w
    consecutive window hashes, identical in both copies, and winnowing
    selects that run's minimum in each copy regardless of alignment —
    the dial trades minimum detectable span length against volume,
    NEVER recall of spans above the bound."""
    import math

    if total_windows <= 0 or 2 * total_windows <= budget_selected:
        return 1
    w = math.ceil(2 * total_windows / budget_selected) - 1
    return max(1, min(SUBSTRING_WINNOW_MAX, w))


def _docs_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") >= SUB_L)
        .select("doc_id", "text", (F.length("text") - SUB_L + 1).alias("n_windows"))
    )
    # a single small parquet file arrives as ONE scan partition; the
    # md5-per-window explode is the CPU hot spot, so spread it first.
    # CONDITIONAL (VERDICT r14 #3): multi-split input skips the exchange.
    par = spark.sparkContext.defaultParallelism
    if out.rdd.getNumPartitions() < par:
        out = out.repartition(par, "doc_id")
    return out


def exact_substring_dedup_sampled(
    spark: SparkSession, sf_dir: str, winnow_w: int | None = None
) -> DataFrame:
    """The 100 TB path of #35c: duplicated-span stats over WINNOWED
    window fingerprints instead of every stride-1 window.

    Per document: of its winnow-selected distinct window fingerprints,
    how many also occur in at least one other document. At
    ``winnow_w=1`` every window is selected and ``dup_sel_fps`` equals
    the exact op's ``dup_hashes`` (test-pinned equivalence); larger w
    divides the exchanged volume by ~(w+1)/2 and raises the guaranteed
    minimum catchable span to SUB_L + w - 1 chars."""
    docs = _docs_windows(spark, sf_dir)
    if winnow_w is None:
        total = docs.agg(F.sum("n_windows").alias("t")).collect()[0]["t"] or 0
        winnow_w = substring_winnow_for(int(total))
    # materialize the hash array as a real column: HOF lambdas are not
    # CSE'd, so inlining it into the selection transform would rebuild
    # the whole md5 array per window (the doc_winnowing lesson)
    d = docs.withColumn(
        "__hs",
        F.transform(
            F.sequence(F.lit(1), F.col("n_windows")),
            lambda i: F.md5(F.col("text").substr(i, F.lit(SUB_L))),
        ),
    )
    sel = F.array_distinct(
        F.when(
            F.size("__hs") >= winnow_w,
            F.transform(
                F.sequence(F.lit(0), F.size("__hs") - winnow_w),
                lambda j: F.array_min(F.slice(F.col("__hs"), j + 1, winnow_w)),
            ),
        ).otherwise(F.array_distinct(F.col("__hs")))
    )
    per = d.select("doc_id", F.explode(sel).alias("h"))  # distinct by build
    hd = per.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dup = (
        per.join(hd.where(F.col("df") >= 2), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_sel_fps"))
    )
    sel_counts = per.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sel_fps"))
    return (
        docs.select("doc_id", "n_windows")
        .join(sel_counts, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.coalesce("sel_fps", F.lit(0)).cast("long").alias("sel_fps"),
            F.coalesce("dup_sel_fps", F.lit(0)).cast("long").alias("dup_sel_fps"),
            F.round(
                F.coalesce("dup_sel_fps", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("sel_fps", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_sel_ratio_r6"),
        )
        .orderBy("doc_id")
    )


# Fixed winnow width for the GATED sampled key: the computed dial at
# gate scale returns w=1 (tiny corpora fit the budget), which would
# degenerate to the already-gated exact op — w=8 exercises the real
# winnow selection path deterministically, and the oracle embeds the
# same literal.
SUBSTRING_GATE_W = 8


def exact_substring_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated key (#35c2, round 8): the winnowed PRODUCTION path of
    span-level dedup under the hash gate at the fixed width
    ``SUBSTRING_GATE_W`` (production callers pass
    ``substring_winnow_for(total)`` instead; the selection machinery is
    identical)."""
    return exact_substring_dedup_sampled(spark, sf_dir, winnow_w=SUBSTRING_GATE_W)


def oracle_exact_substring_sampled() -> str:
    w = SUBSTRING_GATE_W
    return f"""
with d as (
    select doc_id, text, len(text) - {SUB_L} + 1 as n_windows
    from documents where len(text) >= {SUB_L}
),
hs as (
    select doc_id, n_windows,
        list_transform(range(1, n_windows + 1),
                       i -> md5(substr(text, i, {SUB_L}))) as h
    from d
),
sel as materialized (
    select doc_id, n_windows, unnest(list_distinct(
        case when len(h) >= {w}
             then list_transform(range(0, len(h) - {w} + 1),
                                 j -> list_aggregate(h[j + 1 : j + {w}], 'min'))
             else list_distinct(h) end)) as fp
    from hs
),
hd as (select fp, count(*) as df from sel group by fp),
per as (
    select doc_id, count(*) as sel_fps from sel group by doc_id
),
dup as (
    select doc_id, count(*) as dup_sel_fps
    from sel join (select fp from hd where df >= 2) using (fp)
    group by doc_id
)
select d.doc_id,
    cast(d.n_windows as bigint) as n_windows,
    cast(coalesce(per.sel_fps, 0) as bigint) as sel_fps,
    cast(coalesce(dup.dup_sel_fps, 0) as bigint) as dup_sel_fps,
    round(cast(coalesce(dup.dup_sel_fps, 0) as double)
          / greatest(coalesce(per.sel_fps, 0), 1), 6) as dup_sel_ratio_r6
from d left join per using (doc_id) left join dup using (doc_id)
order by d.doc_id
"""
