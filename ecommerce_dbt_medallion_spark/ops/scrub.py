"""PII scrubbing, benchmark decontamination, and intra-document
repetition stats — the cleaning/filtering stages of an LLM
training-data pipeline that sit between raw ingest and dedup.

Reference analogue: the reference repo has no PII/contamination stage
(its scope is the medallion mart); these extend the `documents`-table
operator family mandated by the build brief (training-data pipeline
ops as first-class components).

Scale notes (100 TB):
- ``text_pii_scrub`` is a pure per-row column pipeline — zero shuffle,
  whole-stage codegen, scales linearly with input splits.
- ``decontaminate`` joins the corpus n-gram stream against the
  *benchmark* n-gram set, which is tiny by construction (eval suites
  are MBs, corpora are TBs) → broadcast hash join on the gram key, one
  shuffle for the per-doc aggregation. The corpus side is never
  collected or shuffled by gram.
- ``repetition_stats`` is explode → two-level aggregate with map-side
  partial aggregation; one shuffle on (doc_id, gram)'s doc_id prefix.

Determinism: synthetic PII is injected as a deterministic function of
``doc_id`` (the raw corpus contains none), and every regex is written
in the Java-regex ∩ RE2 common dialect so Spark and the DuckDB oracle
see identical matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.ops.text import WORD_RE
from ecommerce_dbt_medallion_spark.sources.registry import load_table

# Java-regex and RE2 agree on all of these (no lookarounds/backrefs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# decontamination: word 5-grams; docs with doc_id % BENCH_MOD == 0 play
# the role of the held-out eval suite, the rest are the training corpus.
DECON_N = 5
BENCH_MOD = 20
DECON_THRESHOLD = 5  # distinct shared grams >= this => contaminated

REP_N = 3  # repetition stats: word trigrams


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ------------------------------------------------------------- PII scrub

def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect + mask emails / phone numbers / IPv4 addresses.

    The corpus is synthetic word soup with no real PII, so a
    deterministic doc_id-derived payload is appended first (emails on
    doc_id%3!=2, phones on doc_id%2==0, IPs on doc_id%5==0) — the
    operator is then exercised against strings where match counts vary
    per row and zero-match rows still exist.

    Single narrow projection: no shuffle, no UDFs; at 100 TB this is
    scan-bound.
    """
    d = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            d % 3 != 2,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit(" call 206-555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (d % 256).cast("string"),
                F.lit("."),
                ((d * 3) % 256).cast("string"),
                F.lit("."),
                ((d * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    base = _docs(spark, sf_dir).withColumn("__pii", pii_text)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("__pii"), EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return base.select(
        "doc_id",
        F.regexp_count(F.col("__pii"), F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("__pii"), F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("__pii"), F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        (
            (F.regexp_count(F.col("__pii"), F.lit(EMAIL_RE))
             + F.regexp_count(F.col("__pii"), F.lit(PHONE_RE))
             + F.regexp_count(F.col("__pii"), F.lit(IPV4_RE))) > 0
        ).alias("has_pii"),
        F.length(scrubbed).cast("long").alias("n_chars_scrubbed"),
        F.md5(scrubbed).alias("scrub_hash"),
    )


def oracle_text_pii_scrub() -> str:
    return f"""
with pii as (
    select doc_id,
        text
        || case when doc_id % 3 <> 2
                then ' contact user' || cast(doc_id as varchar) || '@example.com'
                else '' end
        || case when doc_id % 2 = 0
                then ' call 206-555-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
                else '' end
        || case when doc_id % 5 = 0
                then ' from 10.' || cast(doc_id % 256 as varchar)
                     || '.' || cast((doc_id * 3) % 256 as varchar)
                     || '.' || cast((doc_id * 7) % 256 as varchar)
                else '' end as pii_text
    from documents
), scrub as (
    select doc_id, pii_text,
        regexp_replace(
            regexp_replace(
                regexp_replace(pii_text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                '{IPV4_RE}', '<IP>', 'g'),
            '{PHONE_RE}', '<PHONE>', 'g') as scrubbed
    from pii
)
select doc_id,
    cast(len(regexp_extract_all(pii_text, '{EMAIL_RE}')) as bigint) as n_emails,
    cast(len(regexp_extract_all(pii_text, '{PHONE_RE}')) as bigint) as n_phones,
    cast(len(regexp_extract_all(pii_text, '{IPV4_RE}')) as bigint) as n_ips,
    (len(regexp_extract_all(pii_text, '{EMAIL_RE}'))
     + len(regexp_extract_all(pii_text, '{PHONE_RE}'))
     + len(regexp_extract_all(pii_text, '{IPV4_RE}'))) > 0 as has_pii,
    cast(length(scrubbed) as bigint) as n_chars_scrubbed,
    md5(scrubbed) as scrub_hash
from scrub
"""


# ------------------------------------------------------- decontamination

def _word_grams(n: int):
    """(words_col_name) -> Column of word n-grams, empty when < n words.

    The words array is materialized via withColumn BEFORE this is used
    inside transform() — lambda-bound subexpressions are not CSE'd in
    Spark, so an inline words expression would recompute per element.
    """
    def build(words_col: str):
        words = F.col(words_col)
        starts = F.when(
            F.size(words) >= n,
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(words, i, n)))

    return build


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination: flag training docs sharing
    >= DECON_THRESHOLD distinct word 5-grams with the benchmark set.

    The benchmark gram table is small (1/BENCH_MOD of docs) and is
    broadcast — the corpus-side gram stream is filtered map-side and
    only matching grams reach the final per-doc aggregation shuffle.
    """
    grams = _word_grams(DECON_N)
    # single-file parquet reads as one partition; spread the regex +
    # gram build across cores before paying it. CONDITIONAL (VERDICT
    # r14 #3): a multi-split corpus already has the parallelism and
    # must not pay an extra corpus-wide text exchange.
    docs = _docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    docs = (
        docs
        .withColumn(
            "__words",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)),
        )
        .withColumn("__grams", grams("__words"))
        .select("doc_id", "__grams")
        # shared subtree consumed 3× (bench grams, train grams, final
        # projection): the regex word-split + gram build is the dominant
        # per-row cost, so dedup it with a lazy checkpoint (same pattern
        # as the gold marts; on a cluster this would be a persisted stage)
        .localCheckpoint(eager=False)
    )
    bench_grams = (
        docs.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), F.explode("__grams").alias("gram"))
        .distinct()
    )
    train = docs.where(F.col("doc_id") % BENCH_MOD != 0)
    # NO distinct here: that would shuffle EVERY train gram. The broadcast
    # join filters non-benchmark grams map-side, so only matching grams
    # reach a shuffle, and the countDistinct aggregation absorbs
    # within-doc duplicate grams.
    train_grams = train.select("doc_id", F.explode("__grams").alias("gram"))
    overlap = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("overlap_grams"),
            F.countDistinct("bench_id").alias("bench_docs"),
        )
    )
    return (
        train.select("doc_id", F.size("__grams").cast("long").alias("n_grams"))
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("overlap_grams"), F.lit(0)).cast("long").alias("overlap_grams"),
            F.coalesce(F.col("bench_docs"), F.lit(0)).cast("long").alias("bench_docs"),
            (F.coalesce(F.col("overlap_grams"), F.lit(0)) >= DECON_THRESHOLD).alias(
                "contaminated"
            ),
        )
    )


def oracle_decontaminate() -> str:
    n = DECON_N
    return f"""
with w as (
    select doc_id, regexp_extract_all(lower(text), '{WORD_RE}') as ws
    from documents
), g as (
    select doc_id,
        case when len(ws) >= {n}
             then list_transform(range(1, len(ws) - {n - 2}),
                                 i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))
             else [] end as grams
    from w
), bench as (
    select distinct doc_id as bench_id, unnest(grams) as gram
    from g where doc_id % {BENCH_MOD} = 0
), train as (
    select distinct doc_id, unnest(grams) as gram
    from g where doc_id % {BENCH_MOD} <> 0
), overlap as (
    select t.doc_id,
        count(distinct t.gram) as overlap_grams,
        count(distinct b.bench_id) as bench_docs
    from train t join bench b using (gram)
    group by t.doc_id
)
select g.doc_id,
    cast(len(g.grams) as bigint) as n_grams,
    cast(coalesce(o.overlap_grams, 0) as bigint) as overlap_grams,
    cast(coalesce(o.bench_docs, 0) as bigint) as bench_docs,
    coalesce(o.overlap_grams, 0) >= {DECON_THRESHOLD} as contaminated
from g left join overlap o using (doc_id)
where g.doc_id % {BENCH_MOD} <> 0
"""


# ----------------------------------------------------- repetition stats

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: word-trigram duplication ratio + the
    hottest trigram's count — the 'repetitive junk' filter signal
    (boilerplate, keyword stuffing, generation loops).

    explode → partial-agg'd groupBy(doc_id, gram) → groupBy(doc_id);
    docs too short for a trigram surface with zeroes via the left join
    from the base scan (no rows silently dropped).
    """
    grams = _word_grams(REP_N)
    docs = (
        _docs(spark, sf_dir)
        .withColumn(
            "__words",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)),
        )
        .withColumn("__grams", grams("__words"))
    )
    per_gram = (
        docs.select("doc_id", F.explode("__grams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("total_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.max("cnt").alias("top_gram_count"),
    )
    return (
        docs.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("total_grams"), F.lit(0)).cast("long").alias("total_grams"),
            F.coalesce(F.col("distinct_grams"), F.lit(0)).cast("long").alias("distinct_grams"),
            F.coalesce(F.col("top_gram_count"), F.lit(0)).cast("long").alias("top_gram_count"),
            F.round(
                F.when(
                    F.col("total_grams") > 0,
                    F.lit(1.0)
                    - F.col("distinct_grams").cast("double") / F.col("total_grams"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_ratio"),
        )
    )


def oracle_repetition_stats() -> str:
    n = REP_N
    return f"""
with w as (
    select doc_id, lang, regexp_extract_all(lower(text), '{WORD_RE}') as ws
    from documents
), g as (
    select doc_id, lang,
        case when len(ws) >= {n}
             then list_transform(range(1, len(ws) - {n - 2}),
                                 i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' '))
             else [] end as grams
    from w
), per_gram as (
    select doc_id, unnest(grams) as gram from g
), counted as (
    select doc_id, gram, count(*) as cnt from per_gram group by doc_id, gram
), per_doc as (
    select doc_id,
        sum(cnt) as total_grams,
        count(*) as distinct_grams,
        max(cnt) as top_gram_count
    from counted group by doc_id
)
select g.doc_id, g.lang,
    cast(coalesce(p.total_grams, 0) as bigint) as total_grams,
    cast(coalesce(p.distinct_grams, 0) as bigint) as distinct_grams,
    cast(coalesce(p.top_gram_count, 0) as bigint) as top_gram_count,
    round(case when p.total_grams > 0
               then cast(1.0 as double) - cast(p.distinct_grams as double) / p.total_grams
               else cast(0.0 as double) end, 4) as dup_ratio
from g left join per_doc p using (doc_id)
"""


def decontaminate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination as a PRODUCTION pipeline: the benchmark
    gram INDEX is built once and persisted (a lakehouse table — at
    100 TB you never re-shingle the benchmark per ingest), then three
    deterministic train batches (doc_id % 3) are each checked against
    the STORED index and their verdicts MERGEd into a keyed verdict
    table. Per-doc verdicts are independent, so the union over batches
    equals the single-pass batch computation — the key shares
    ``oracle_decontaminate`` VERBATIM, the strongest gate for the
    incremental shape (same contract as dedup_incremental, ops/dedup.py).

    Scale shape: the index is computed once and broadcast per batch
    (benchmark sets are small by construction); each batch shuffles
    only its own matching grams; the MERGE rewrites nothing (disjoint
    keys) but keeps re-runs idempotent.
    """
    from ecommerce_dbt_medallion_spark import lakehouse
    from ecommerce_dbt_medallion_spark.streaming.drain import gate_scratch

    idx_table, verdict_table = gate_scratch(
        sf_dir, "decon_index", "decon_verdicts"
    )

    grams = _word_grams(DECON_N)
    # conditional single-split fan-out (VERDICT r14 #3), same as the
    # batch key above
    docs = _docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    docs = (
        docs
        .withColumn(
            "__words",
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), F.lit(0)),
        )
        .withColumn("__grams", grams("__words"))
        .select("doc_id", "__grams")
        # shared subtree consumed by the index build + 3 batches: dedup
        # the regex/gram cost exactly like the batch key
        .localCheckpoint(eager=False)
    )
    bench = (
        docs.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), F.explode("__grams").alias("gram"))
        .distinct()
    )
    lakehouse.create_or_replace(spark, idx_table, bench)
    stored = lakehouse.read(spark, idx_table)

    for k in range(3):
        batch = docs.where(
            (F.col("doc_id") % BENCH_MOD != 0) & (F.col("doc_id") % 3 == k)
        )
        overlap = (
            batch.select("doc_id", F.explode("__grams").alias("gram"))
            .join(F.broadcast(stored), "gram")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("gram").alias("overlap_grams"),
                F.countDistinct("bench_id").alias("bench_docs"),
            )
        )
        out = (
            batch.select("doc_id", F.size("__grams").cast("long").alias("n_grams"))
            .join(overlap, "doc_id", "left")
            .select(
                "doc_id",
                "n_grams",
                F.coalesce(F.col("overlap_grams"), F.lit(0))
                .cast("long")
                .alias("overlap_grams"),
                F.coalesce(F.col("bench_docs"), F.lit(0))
                .cast("long")
                .alias("bench_docs"),
                (
                    F.coalesce(F.col("overlap_grams"), F.lit(0))
                    >= DECON_THRESHOLD
                ).alias("contaminated"),
            )
        )
        if not lakehouse.versions(verdict_table):
            lakehouse.create_or_replace(spark, verdict_table, out, key="doc_id")
        else:
            lakehouse.merge_into(spark, verdict_table, out, "doc_id")
    return lakehouse.read(spark, verdict_table).select(
        "doc_id", "n_grams", "overlap_grams", "bench_docs", "contaminated"
    )
