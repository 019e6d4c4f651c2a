"""Approximate near-duplicate detection over ``documents`` — MinHash-LSH
and SimHash (SURVEY.md §2 #16-17).

Implementation shape matters at scale: nested higher-order lambdas
(transform-inside-transform) are *interpreted* per element in Spark — a
64-perm minhash that way is 35M interpreted evals at sf0.1 and worse at
100 TB. Instead we explode shingles to rows once and compute all 64
permutations as columnar min-aggregations — whole-stage-codegen'd, one
shuffle on doc_id, linear in corpus size. (Measured: >120 s → seconds.)

MinHash is a rows-only inventory entry (DuckDB lacks xxhash64); SimHash
uses md5-derived bits precisely so it CAN carry a full value-level
oracle. Known-answer correctness (planted near-dupes found, no false
pairs) is asserted in tests/test_ops.py, and the exact-Jaccard
verification reuses the same math as oracle-checked dedup_ngram_jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.config import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_JACCARD_THRESHOLD,
    MINHASH_PERMS,
    SIMHASH_MAX_HAMMING,
    SIMHASH_SEGMENTS,
)
from ecommerce_dbt_medallion_spark.ops.text import NGRAM_N, WS_RE
from ecommerce_dbt_medallion_spark.sources.registry import load_table


def _shingles(text: Column) -> Column:
    """Distinct token-3-gram shingle array (same shingling as
    dedup_ngram_jaccard, so minhash estimates THAT Jaccard).

    zip_with over shifted slices, NOT transform+element_at: HOF lambda
    bodies are interpreted without CSE, so an outer split() referenced
    in the lambda re-evaluates per element ×3 (the round-6 ngram lesson,
    ops/text.py — measured 9× there). Same output, same order.
    """
    tokens = F.split(F.lower(F.trim(text)), WS_RE)
    n = F.size(tokens)
    tri = F.zip_with(
        F.zip_with(
            F.slice(tokens, F.lit(1), n - 2),
            F.slice(tokens, F.lit(2), n - 2),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        F.slice(tokens, F.lit(3), n - 2),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    return F.when(n >= NGRAM_N, F.array_distinct(tri)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) rows — the exploded form every stage shares.

    The local documents file is a single parquet split, so shingling
    (interpreted higher-order exprs) would run in ONE task; repartition
    by doc_id first so it parallelizes. CONDITIONAL (VERDICT r14 #3):
    only when the scan has fewer splits than cores — at warehouse scale
    the file count provides the parallelism for free and an
    unconditional repartition(#cores) would add a full corpus exchange
    AND shrink parallelism below the input split count."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    return docs.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))


def minhash_signatures(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """doc_id → h0..h{63}: min over shingles of perm_p(hash(shingle)).

    Two-level hashing: each variable-length shingle string is hashed ONCE
    (xxhash64 → long), then the 64 permutations re-hash that fixed 8-byte
    long with the perm index as extra input — 64 codegen'd min-aggregates
    over one exploded pass. Hashing 8 bytes ×64 instead of the ~20-char
    string ×64 removes the dominant signature-build cost. (Affine integer
    mixes would be cheaper still, but Spark 4 runs ANSI mode — long
    overflow throws — so we stay with overflow-free hashing.)
    """
    sh = (sh if sh is not None else shingle_rows(spark, sf_dir)).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    aggs = [
        F.min(F.xxhash64(F.col("h"), F.lit(p))).alias(f"h{p}")
        for p in range(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_cols() -> list[Column]:
    return [
        F.xxhash64(
            F.concat_ws(
                ",",
                *[
                    F.col(f"h{b * LSH_ROWS + r}").cast("string")
                    for r in range(LSH_ROWS)
                ],
            )
        )
        for b in range(LSH_BANDS)
    ]


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#16: shingle → 64-perm minhash → 16×4 LSH bands → candidate pairs →
    exact-Jaccard verify ≥ threshold.

    Scale shape: one narrow pass hashes the corpus; bands emit 16 small
    (band_id, band_key, doc_id) rows per doc; candidates come from an
    equi-join on the band key (shuffles keys, not documents); exact
    verification touches candidate pairs only.
    """
    # The shingle explosion feeds four plan branches (signatures, sizes,
    # both sides of the intersection join); checkpoint it so the
    # interpreted shingling runs once, not four times (measured ~1.6x).
    sh = shingle_rows(spark, sf_dir).localCheckpoint(eager=True)
    sigs = minhash_signatures(spark, sf_dir, sh)

    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*_band_cols())).alias("band_id", "band_key")
    )
    candidates = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    inter = (
        candidates.join(sh.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            sh.alias("gb"),
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.shingle") == F.col("gb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("sa.n_grams").alias("n_a"),
            F.col("sb.n_grams").alias("n_b"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )


def _md5_bit_expr(b: int) -> Column:
    """Bit b of the first 64 bits of md5 hex column ``h`` — engine-portable
    (md5 + locate/strpos exist identically in Spark and DuckDB, unlike
    xxhash64, which is why simhash can carry a full value-level oracle)."""
    i = b // 4 + 1  # hex digit index (1-based)
    j = b % 4       # bit within the digit
    digit_val = F.expr(f"locate(substr(h, {i}, 1), '0123456789abcdef') - 1")
    return F.shiftright(digit_val, j).bitwiseAND(F.lit(1))


def simhash_signatures(
    spark: SparkSession, sf_dir: str, sh: DataFrame | None = None
) -> DataFrame:
    """doc_id → 64-element 0/1 bit array: sign of per-bit ±1 votes over
    each shingle's md5-derived bits — 64 codegen'd sum-aggregates, one
    pass. md5 (not xxhash64) so the DuckDB oracle reproduces the exact
    signatures. ``sh`` lets a caller pass precomputed (checkpointed)
    shingle rows — the minhash_signatures reuse shape; ONE signature
    definition keeps the calibration report measuring exactly what the
    dedup screen computes."""
    if sh is None:
        sh = shingle_rows(spark, sf_dir)
    h = sh.select("doc_id", F.md5("shingle").alias("h"))
    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.when(_md5_bit_expr(b) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(64)
        ]
    )
    bits = F.array(
        *[F.when(F.col(f"b{b}") >= 0, 1).otherwise(0) for b in range(64)]
    )
    return votes.select("doc_id", bits.alias("simhash_bits"))


def _simhash_hamming_pairs(sigs: DataFrame) -> DataFrame:
    """Signatures → (doc_a, doc_b, hamming) over the 4-segment
    pigeonhole-blocked candidate pairs — the ONE blocking + exact
    Hamming definition shared by the dedup screen and the calibration
    report (a drifted copy would decalibrate the report against the
    screen it claims to calibrate)."""
    seg_len = 64 // SIMHASH_SEGMENTS
    segs = sigs.select(
        "doc_id",
        "simhash_bits",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        *[
                            F.element_at(F.col("simhash_bits"), s * seg_len + r + 1).cast(
                                "string"
                            )
                            for r in range(seg_len)
                        ],
                    )
                    for s in range(SIMHASH_SEGMENTS)
                ]
            )
        ).alias("seg_id", "seg_key"),
    )
    candidates = (
        segs.alias("a")
        .join(
            segs.alias("b"),
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_key") == F.col("b.seg_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash_bits").alias("bits_a"),
            F.col("b.simhash_bits").alias("bits_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.aggregate(
        F.zip_with(F.col("bits_a"), F.col("bits_b"), lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda a, x: a + x,
    )
    return candidates.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#17: 64-bit simhash, 4-segment pigeonhole blocking (any pair with
    Hamming distance <= 3 shares at least one identical 16-bit segment),
    exact Hamming verify on candidates.
    """
    return _simhash_hamming_pairs(simhash_signatures(spark, sf_dir)).where(
        F.col("hamming") <= SIMHASH_MAX_HAMMING
    )


def oracle_dedup_simhash() -> str:
    """DuckDB mirror: identical md5-bit simhash, but candidates by
    brute-force all-pairs (the 4-segment pigeonhole blocking on the
    Spark side is LOSSLESS for hamming <= 3, so result sets are equal).
    """
    from ecommerce_dbt_medallion_spark.ops.text import WS_RE

    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
gram_bits as (
    select doc_id, b.range as bit_idx,
        ((strpos('0123456789abcdef', substr(md5(gram), cast(b.range // 4 + 1 as int), 1)) - 1)
          >> cast(b.range % 4 as int)) & 1 as bit
    from grams cross join range(64) b
),
votes as (
    select doc_id, bit_idx,
        case when sum(case when bit = 1 then 1 else -1 end) >= 0 then 1 else 0 end as sbit
    from gram_bits group by doc_id, bit_idx
),
hams as (
    select a.doc_id as doc_a, b.doc_id as doc_b,
        cast(sum(abs(a.sbit - b.sbit)) as bigint) as hamming
    from votes a join votes b
      on a.bit_idx = b.bit_idx and a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
)
select doc_a, doc_b, hamming from hams where hamming <= {SIMHASH_MAX_HAMMING}
"""


def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash-LSH: identical pipeline to
    ``dedup_minhash_lsh`` but the permutation family is
    min(md5(shingle || '#p')) — lexicographic min over hex strings, which
    DuckDB reproduces exactly, so THIS variant carries a full value-level
    oracle. (The xxhash64 variant stays the fast path: md5 ×64 costs ~4×
    more per shingle.)
    """
    sh = shingle_rows(spark, sf_dir).localCheckpoint(eager=True)
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{p}")))).alias(f"h{p}")
            for p in range(MINHASH_PERMS)
        ]
    )
    band_cols = [
        F.md5(F.concat_ws(",", *[F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]))
        for b in range(LSH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_id", "band_key")
    )
    candidates = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    inter = (
        candidates.join(sh.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            sh.alias("gb"),
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.shingle") == F.col("gb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("sa.n_grams").alias("n_a"),
            F.col("sb.n_grams").alias("n_b"),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )


def _oracle_md5_pairs_with() -> str:
    """The md5-MinHash pair pipeline as a WITH-chain ending in a
    ``pairs`` CTE — shared verbatim by ``oracle_dedup_minhash_md5`` and
    ``oracle_dedup_source_overlap`` so the provenance rollup's oracle is
    the certified pair oracle plus one aggregation, nothing re-derived."""
    sig_cols = ",\n        ".join(
        f"min(md5(gram || '#{p}')) as h{p}" for p in range(MINHASH_PERMS)
    )
    band_union = "\n    union all\n    ".join(
        f"select doc_id, {b} as band_id, "
        + "md5(" + " || ',' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)) + ")"
        + " as band_key from sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
sigs as (
    select doc_id,
        {sig_cols}
    from grams group by doc_id
),
bands as (
    {band_union}
),
candidates as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from bands a join bands b
      on a.band_id = b.band_id and a.band_key = b.band_key and a.doc_id < b.doc_id
),
sizes as (select doc_id, count(*) as n_grams from grams group by doc_id),
inter as (
    select c.doc_a, c.doc_b, count(*) as n_common
    from candidates c
    join grams ga on ga.doc_id = c.doc_a
    join grams gb on gb.doc_id = c.doc_b and gb.gram = ga.gram
    group by c.doc_a, c.doc_b
),
pairs as (
    select i.doc_a, i.doc_b, i.n_common,
        sa.n_grams as n_a, sb.n_grams as n_b,
        round(cast(i.n_common as double) / (sa.n_grams + sb.n_grams - i.n_common), 4) as jaccard
    from inter i
    join sizes sa on sa.doc_id = i.doc_a
    join sizes sb on sb.doc_id = i.doc_b
    where round(cast(i.n_common as double) / (sa.n_grams + sb.n_grams - i.n_common), 4)
          >= {MINHASH_JACCARD_THRESHOLD}
)"""


def oracle_dedup_minhash_md5() -> str:
    return (
        _oracle_md5_pairs_with()
        + "\nselect doc_a, doc_b, n_common, n_a, n_b, jaccard from pairs"
    )


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance rollup of the near-dup pair set: per (source_a,
    source_b) pair — unordered, so within-source rows appear as
    src_a == src_b — the count of near-dup doc pairs, how many are
    byte-identical at the shingle level (n_common == n_a == n_b), and
    the mean Jaccard. This is the curation question BEHIND dedup: which
    sources are republishing each other's content, i.e. where to point
    the crawler dedup budget before paying for doc-grain dedup at
    100 TB.

    Determinism: jaccard values are already round(,4) doubles certified
    bit-identical cross-engine; the mean moves them onto the 1e4 integer
    basis, sums exactly, and divides once per convention (two fixed
    IEEE ops: int-sum/1e4, then /n).

    Scale shape: rides the certified md5-MinHash pair pipeline
    (band-bounded candidates — never all-pairs); the only new work is
    two narrow joins of the (small) pair set against the (doc_id,
    source) projection and a |sources|²-bounded aggregation.
    """
    pairs = dedup_minhash_md5(spark, sf_dir)
    srcs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    tagged = (
        pairs.join(srcs.alias("pa"), F.col("doc_a") == F.col("pa.doc_id"))
        .join(srcs.alias("pb"), F.col("doc_b") == F.col("pb.doc_id"))
        .select(
            F.least(F.col("pa.source"), F.col("pb.source")).alias("src_a"),
            F.greatest(F.col("pa.source"), F.col("pb.source")).alias("src_b"),
            "n_common",
            "n_a",
            "n_b",
            "jaccard",
        )
    )
    return tagged.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("n_common") == F.col("n_a"))
                & (F.col("n_a") == F.col("n_b")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_exact"),
        F.round(
            F.sum(F.round(F.col("jaccard") * 10000).cast("bigint"))
            / 10000.0
            / F.count(F.lit(1)),
            4,
        ).alias("avg_jaccard"),
    )


def oracle_dedup_source_overlap() -> str:
    return (
        _oracle_md5_pairs_with()
        + """
select least(pa.source, pb.source) as src_a,
    greatest(pa.source, pb.source) as src_b,
    count(*) as n_pairs,
    cast(sum(case when p.n_common = p.n_a and p.n_a = p.n_b then 1 else 0 end)
         as bigint) as n_exact,
    round(sum(cast(round(p.jaccard * 10000) as bigint)) / 10000.0 / count(*), 4)
        as avg_jaccard
from pairs p
join documents pa on pa.doc_id = p.doc_a
join documents pb on pb.doc_id = p.doc_b
group by 1, 2
"""
    )


# ------------------------------------------------- incremental dedup
# The production shape for continuously-ingested training data: a small
# NEW batch is deduplicated AGAINST the standing corpus (asymmetric),
# instead of re-running self-dedup over corpus+batch. Reference
# analogue: dbt incremental materialization semantics
# (models/silver/silver_orders.sql:1 is_incremental) applied to the
# corpus-curation domain.

INC_SALT = "#inc1"
INC_BATCH_FRAC = 0.2


def _inc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_dbt_medallion_spark.ops.sampling import _hex_threshold

    # conditional single-split fan-out (VERDICT r14 #3): no extra
    # corpus exchange when the input already arrives multi-split
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    is_batch = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(INC_SALT))), 1, 8
        )
        < F.lit(_hex_threshold(INC_BATCH_FRAC))
    )
    return docs.select("doc_id", "text", is_batch.alias("is_batch"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup: every NEW doc gets a verdict.

    - ``exact_dup``  — normalized-md5 fingerprint already in the corpus
      (match = min corpus doc_id).
    - ``near_dup``   — best corpus match by exact Jaccard >= threshold,
      candidates from the md5 MinHash-LSH band join (same engine-portable
      family as ``dedup_minhash_md5``).
    - ``novel``      — neither.

    Scale shape: in production the corpus side of the band join reads
    STORED signatures/bands (maintained incrementally, amortized over
    batches); every shuffle here is keyed on fingerprints/band keys, so
    traffic scales with batch size + band-bucket occupancy, never with
    corpus x batch. The batch side is tiny relative to the corpus and
    AQE broadcasts it where estimates allow.
    """
    from ecommerce_dbt_medallion_spark.ops.text import _norm_text

    docs = _inc_docs(spark, sf_dir)
    fp = docs.select(
        "doc_id", "is_batch", F.md5(_norm_text(F.col("text"))).alias("fingerprint")
    )
    exact = (
        fp.where(F.col("is_batch"))
        .alias("b")
        .join(fp.where(~F.col("is_batch")).alias("c"), "fingerprint")
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("exact_match"))
    )

    # One shingle explosion feeds signatures, sizes and the verify join.
    sh = docs.select(
        "doc_id", "is_batch", F.explode(_shingles(F.col("text"))).alias("shingle")
    ).localCheckpoint(eager=True)
    sigs = sh.groupBy("doc_id", "is_batch").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{p}")))).alias(f"h{p}")
            for p in range(MINHASH_PERMS)
        ]
    )
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)])
        )
        for b in range(LSH_BANDS)
    ]
    bands = sigs.select(
        "doc_id",
        "is_batch",
        F.posexplode(F.array(*band_cols)).alias("band_id", "band_key"),
    )
    candidates = (
        bands.where(F.col("is_batch"))
        .alias("b")
        .join(
            bands.where(~F.col("is_batch")).alias("c"),
            (F.col("b.band_id") == F.col("c.band_id"))
            & (F.col("b.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("new_doc"), F.col("c.doc_id").alias("match_id")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    inter = (
        candidates.join(sh.alias("ga"), F.col("new_doc") == F.col("ga.doc_id"))
        .join(
            sh.alias("gb"),
            (F.col("match_id") == F.col("gb.doc_id"))
            & (F.col("ga.shingle") == F.col("gb.shingle")),
        )
        .groupBy("new_doc", "match_id")
        .agg(F.count("*").alias("n_common"))
    )
    near = (
        inter.join(sizes.alias("sa"), F.col("new_doc") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("match_id") == F.col("sb.doc_id"))
        .select(
            F.col("new_doc").alias("doc_id"),
            "match_id",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )
    from pyspark.sql import Window

    best = (
        near.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("jaccard").desc(), F.col("match_id")
                )
            ),
        )
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("match_id").alias("near_match"), "jaccard")
    )

    return (
        docs.where(F.col("is_batch"))
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce(F.col("exact_match"), F.col("near_match")).alias(
                "match_doc_id"
            ),
            F.when(F.col("exact_match").isNull(), F.col("jaccard")).alias("jaccard"),
        )
    )


def oracle_dedup_incremental() -> str:
    from ecommerce_dbt_medallion_spark.ops.sampling import _hex_threshold
    from ecommerce_dbt_medallion_spark.ops.text import _NORM_SQL

    thr = _hex_threshold(INC_BATCH_FRAC)
    sig_cols = ",\n        ".join(
        f"min(md5(gram || '#{p}')) as h{p}" for p in range(MINHASH_PERMS)
    )
    band_union = "\n    union all\n    ".join(
        f"select doc_id, is_batch, {b} as band_id, "
        + "md5("
        + " || ',' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ")"
        + " as band_key from sigs"
        for b in range(LSH_BANDS)
    )
    return f"""
with docs as (
    select doc_id, text,
        substring(md5(cast(doc_id as varchar) || '{INC_SALT}'), 1, 8) < '{thr}'
            as is_batch
    from documents
),
fp as (
    select doc_id, is_batch, md5({_NORM_SQL}) as fingerprint from docs
),
exact as (
    select b.doc_id, min(c.doc_id) as exact_match
    from fp b join fp c on b.fingerprint = c.fingerprint
     and b.is_batch and not c.is_batch
    group by b.doc_id
),
tok as (
    select doc_id, is_batch, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from docs
),
grams as (
    select doc_id, is_batch, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
sigs as (
    select doc_id, is_batch,
        {sig_cols}
    from grams group by doc_id, is_batch
),
bands as (
    {band_union}
),
candidates as (
    select distinct b.doc_id as doc_id, c.doc_id as match_id
    from bands b join bands c
      on b.band_id = c.band_id and b.band_key = c.band_key
     and b.is_batch and not c.is_batch
),
sizes as (select doc_id, count(*) as n_grams from grams group by doc_id),
near as (
    select c.doc_id, c.match_id,
        round(cast(count(*) as double)
              / (any_value(sa.n_grams) + any_value(sb.n_grams) - count(*)), 4)
            as jaccard
    from candidates c
    join grams ga on ga.doc_id = c.doc_id
    join grams gb on gb.doc_id = c.match_id and gb.gram = ga.gram
    join sizes sa on sa.doc_id = c.doc_id
    join sizes sb on sb.doc_id = c.match_id
    group by c.doc_id, c.match_id
),
best as (
    select doc_id, match_id as near_match, jaccard
    from near
    where jaccard >= {MINHASH_JACCARD_THRESHOLD}
    qualify row_number() over (partition by doc_id
                               order by jaccard desc, match_id) = 1
)
select d.doc_id,
    case when e.exact_match is not null then 'exact_dup'
         when b.near_match is not null then 'near_dup'
         else 'novel' end as verdict,
    coalesce(e.exact_match, b.near_match) as match_doc_id,
    case when e.exact_match is null then b.jaccard end as jaccard
from docs d
left join exact e on e.doc_id = d.doc_id
left join best b on b.doc_id = d.doc_id
where d.is_batch
"""


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report for the md5 MinHash family: for every
    LSH candidate pair, the signature-estimated Jaccard (matching
    positions / MINHASH_PERMS) next to the EXACT gram Jaccard, with the
    absolute error. This is the measurement that justifies (or indicts)
    the band/row configuration — estimator bias here means the dedup
    threshold is silently wrong at 100 TB, where only the estimate is
    affordable.

    Plan: reuses the family's checkpointed shingles; signatures are
    re-derived once (doc-grain agg), candidates via the same banded
    join; the estimate is an ordered zip_with fold over the two 64-slot
    signature arrays (exact integer match count, one double division).
    """
    sh = shingle_rows(spark, sf_dir).localCheckpoint(eager=True)
    sigs = sh.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{p}"))))
                for p in range(MINHASH_PERMS)
            ]
        ).alias("sig")
    )
    band_key = [
        F.md5(
            F.concat_ws(
                ",", *[F.element_at("sig", b * LSH_ROWS + r + 1) for r in range(LSH_ROWS)]
            )
        )
        for b in range(LSH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.posexplode(F.array(*band_key)).alias("band_id", "band_key")
    )
    candidates = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    paired = (
        candidates.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .withColumn(
            "n_match",
            F.aggregate(
                F.zip_with(
                    "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
                ),
                F.lit(0),
                lambda a, x: a + x,
            ).cast("bigint"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        paired.select("doc_a", "doc_b")
        .join(sh.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            sh.alias("gb"),
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.shingle") == F.col("gb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    est = F.round(F.col("n_match").cast("double") / MINHASH_PERMS, 4)
    exact = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        4,
    )
    return (
        paired.select("doc_a", "doc_b", "n_match")
        .join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            "n_common",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


def oracle_minhash_calibration() -> str:
    sig_cols = ",\n        ".join(
        f"min(md5(gram || '#{p}')) as h{p}" for p in range(MINHASH_PERMS)
    )
    band_union = "\n    union all\n    ".join(
        f"select doc_id, {b} as band_id, "
        + "md5(" + " || ',' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS)) + ")"
        + " as band_key from sigs"
        for b in range(LSH_BANDS)
    )
    match_sum = " + ".join(
        f"(case when a.h{p} = b.h{p} then 1 else 0 end)" for p in range(MINHASH_PERMS)
    )
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
sigs as (
    select doc_id,
        {sig_cols}
    from grams group by doc_id
),
bands as (
    {band_union}
),
candidates as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from bands a join bands b
      on a.band_id = b.band_id and a.band_key = b.band_key and a.doc_id < b.doc_id
),
matches as (
    select c.doc_a, c.doc_b,
        cast({match_sum} as bigint) as n_match
    from candidates c
    join sigs a on a.doc_id = c.doc_a
    join sigs b on b.doc_id = c.doc_b
),
sizes as (select doc_id, count(*) as n_grams from grams group by doc_id),
inter as (
    select c.doc_a, c.doc_b, count(*) as n_common
    from candidates c
    join grams ga on ga.doc_id = c.doc_a
    join grams gb on gb.doc_id = c.doc_b and gb.gram = ga.gram
    group by c.doc_a, c.doc_b
)
select m.doc_a, m.doc_b, m.n_match,
    coalesce(i.n_common, 0) as n_common,
    round(cast(m.n_match as double) / {MINHASH_PERMS}, 4) as est_jaccard,
    round(cast(coalesce(i.n_common, 0) as double)
          / (sa.n_grams + sb.n_grams - coalesce(i.n_common, 0)), 4) as exact_jaccard,
    round(abs(round(cast(m.n_match as double) / {MINHASH_PERMS}, 4)
          - round(cast(coalesce(i.n_common, 0) as double)
                  / (sa.n_grams + sb.n_grams - coalesce(i.n_common, 0)), 4)), 4)
        as abs_err
from matches m
left join inter i on i.doc_a = m.doc_a and i.doc_b = m.doc_b
join sizes sa on sa.doc_id = m.doc_a
join sizes sb on sb.doc_id = m.doc_b
"""


# ---------------------------------------------------------------------------
# Stored-signature primitives (streaming / incremental ingestion)
# ---------------------------------------------------------------------------

def doc_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc dedup state: normalized-md5 ``fingerprint``, the 64-perm
    md5 MinHash ``sig`` array (same family as ``dedup_minhash_md5``,
    same shingling as ``dedup_ngram_jaccard`` — so signature agreement
    estimates THAT Jaccard), and the 16 LSH ``bands`` keys derived from
    it. This is the row a production corpus STORES per document: later
    batches dedup against these signatures without ever re-reading
    corpus text, and the corpus side of the band join is a STORED
    column equi-join — no per-batch recompute of 16·N md5 band keys
    over the whole corpus. Docs too short to shingle (<3 tokens) carry
    null ``sig``/``bands`` — they can still exact-dup via fingerprint.
    """
    from ecommerce_dbt_medallion_spark.ops.text import _norm_text

    # A streaming micro-batch arrives as ONE small parquet file = one
    # input split, so the 64-md5s-per-shingle aggregation below would
    # run in a single task (measured 4.7 s/batch at sf0.1 vs 1.9 s
    # spread over the local cores — the shingle_rows lesson applied to
    # the batch path). CONDITIONAL: only when the batch has fewer
    # splits than cores — a 100 TB batch already arrives multi-split
    # and must not pay an extra batch-wide text exchange just to keep
    # the local bench shape (scale-adaptive partitioning, not a
    # constant tuned for either side).
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    sh = docs.select(
        F.col("doc_id"), F.explode(_shingles(F.col("text"))).alias("shingle")
    )
    fp = docs.select(
        F.col("doc_id"), F.md5(_norm_text(F.col("text"))).alias("fingerprint")
    )
    hs = [F.col(f"h{p}") for p in range(MINHASH_PERMS)]
    band_keys = [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"h{b * LSH_ROWS + r}") for r in range(LSH_ROWS)]
            )
        )
        for b in range(LSH_BANDS)
    ]
    sigs = (
        sh.groupBy("doc_id")
        .agg(
            *[
                F.min(
                    F.md5(F.concat(F.col("shingle"), F.lit(f"#{p}")))
                ).alias(f"h{p}")
                for p in range(MINHASH_PERMS)
            ]
        )
        .select(
            F.col("doc_id"),
            F.array(*hs).alias("sig"),
            F.array(*band_keys).alias("bands"),
        )
    )
    return fp.join(sigs, "doc_id", "left")


def signature_verdicts(batch_sigs: DataFrame, corpus_sigs: DataFrame | None) -> DataFrame:
    """Verdict per batch doc against a STORED signature corpus:
    ``exact_dup`` (fingerprint already present; match = min corpus id),
    ``near_dup`` (best LSH-candidate with signature-agreement Jaccard
    estimate >= MINHASH_JACCARD_THRESHOLD), else ``novel``.

    The corpus side joins on fingerprints and 16x4 band keys derived
    from the stored ``sig`` arrays — the corpus is never re-shingled
    and never all-pairs-joined; shuffle is batch x band-bucket
    occupancy, the incremental-dedup scale shape (see
    ``dedup_incremental``, which gates the same verdict semantics with
    exact-Jaccard verification under the driver's hash oracle).
    """
    from pyspark.sql import Window

    id_type = dict(batch_sigs.dtypes)["doc_id"]
    if corpus_sigs is None:
        return batch_sigs.select(
            F.col("doc_id"),
            F.lit("novel").alias("verdict"),
            F.lit(None).cast(id_type).alias("match_id"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )

    exact = (
        batch_sigs.alias("b")
        .join(corpus_sigs.alias("c"), "fingerprint")
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("exact_match"))
    )

    def _bands(df: DataFrame) -> DataFrame:
        # stored band keys when present (doc_signatures writes them —
        # the corpus side must not recompute 16·N md5s per batch);
        # derived from the sig array otherwise
        if "bands" in df.columns:
            keys = F.col("bands")
        else:
            keys = F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * LSH_ROWS + r + 1)
                                for r in range(LSH_ROWS)
                            ],
                        )
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        return df.where(F.col("sig").isNotNull()).select(
            F.col("doc_id"), F.posexplode(keys).alias("band_id", "band_key")
        )

    cand = (
        _bands(batch_sigs)
        .alias("bb")
        .join(
            _bands(corpus_sigs).alias("cb"),
            (F.col("bb.band_id") == F.col("cb.band_id"))
            & (F.col("bb.band_key") == F.col("cb.band_key")),
        )
        .select(
            F.col("bb.doc_id").alias("doc_id"),
            F.col("cb.doc_id").alias("match_id"),
        )
        .distinct()
    )
    est = (
        cand.join(
            batch_sigs.select(F.col("doc_id"), F.col("sig").alias("bsig")), "doc_id"
        )
        .join(
            corpus_sigs.select(
                F.col("doc_id").alias("match_id"), F.col("sig").alias("csig")
            ),
            "match_id",
        )
        .select(
            "doc_id",
            "match_id",
            (
                F.aggregate(
                    F.zip_with(
                        "bsig", "csig", lambda x, y: (x == y).cast("int")
                    ),
                    F.lit(0),
                    lambda a, x: a + x,
                ).cast("double")
                / F.lit(MINHASH_PERMS)
            ).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= MINHASH_JACCARD_THRESHOLD)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("est_jaccard"), F.asc("match_id")
    )
    near = (
        est.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("match_id").alias("near_match"), "est_jaccard")
    )
    return (
        batch_sigs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
            F.when(F.col("exact_match").isNull(), F.col("est_jaccard")).alias(
                "est_jaccard"
            ),
        )
    )


# ------------------------------------------------ simhash calibration

SIMHASH_CAL_MAX = 16  # calibration hamming horizon (>> the dedup cap of 3)


def simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-calibration report for the simhash family — the
    hamming-distance twin of minhash_calibration: for every 4-segment
    blocking candidate with Hamming ≤ SIMHASH_CAL_MAX, the POOLED
    (micro-averaged) exact shingle Jaccard per hamming bucket
    (Σ|A∩B| / Σ|A∪B| — exact bigint sums, ONE division; a per-pair
    mean would sum doubles in partition order). This table is how the
    SIMHASH_MAX_HAMMING dedup threshold is set with evidence instead
    of folklore — at 100 TB only the hamming test is affordable, so
    its mapping to true Jaccard must be measured.

    Plan: signatures in one pass (64 codegen'd vote sums), candidates
    via the same segment-blocking join as dedup_simhash (bounded by
    16-bit-key occupancy, never all-pairs), hamming filter FIRST so the
    exact-Jaccard shingle join runs only on the near-dup-sized
    survivors. Candidate recall past hamming 3 is whatever the 4
    segments give (pigeonhole-lossless only to 3) — the oracle replays
    the SAME blocking, so the report is calibrated on exactly the pair
    population the production screen sees.
    """
    sh = shingle_rows(spark, sf_dir).localCheckpoint(eager=True)
    candidates = _simhash_hamming_pairs(
        simhash_signatures(spark, sf_dir, sh=sh)
    ).where(F.col("hamming") <= SIMHASH_CAL_MAX)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    inter = (
        candidates.select("doc_a", "doc_b")
        .join(sh.alias("ga"), F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            sh.alias("gb"),
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.shingle") == F.col("gb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    paired = (
        candidates.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb")),
            "doc_b",
        )
        .select(
            "hamming",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("n_common"), F.lit(0))).alias(
                "n_union"
            ),
        )
    )
    return (
        paired.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_common").alias("sum_common"),
            F.sum("n_union").alias("sum_union"),
        )
        .select(
            "hamming",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("sum_common").cast("long").alias("sum_common"),
            F.col("sum_union").cast("long").alias("sum_union"),
            (
                F.col("sum_common").cast("double")
                / F.col("sum_union").cast("double")
            ).alias("pooled_jaccard"),
        )
        .orderBy("hamming")
    )


def oracle_simhash_calibration() -> str:
    """Replays signatures AND the 4-segment blocking (the Spark
    candidate population, not an all-pairs idealization), then the
    pooled-Jaccard rollup per hamming bucket."""
    from ecommerce_dbt_medallion_spark.ops.text import WS_RE

    seg_len = 64 // SIMHASH_SEGMENTS
    return f"""
with tok as (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
gram_bits as (
    select doc_id, b.range as bit_idx,
        ((strpos('0123456789abcdef', substr(md5(gram), cast(b.range // 4 + 1 as int), 1)) - 1)
          >> cast(b.range % 4 as int)) & 1 as bit
    from grams cross join range(64) b
),
votes as (
    select doc_id, bit_idx,
        case when sum(case when bit = 1 then 1 else -1 end) >= 0 then 1 else 0 end as sbit
    from gram_bits group by doc_id, bit_idx
),
bstr as (
    select doc_id, string_agg(cast(sbit as varchar), '' order by bit_idx) as bits
    from votes group by doc_id
),
segs as (
    select doc_id, s.range as seg_id,
        substr(bits, cast(s.range * {seg_len} + 1 as int), {seg_len}) as seg_key
    from bstr cross join range({SIMHASH_SEGMENTS}) s
),
cand as (
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from segs a join segs b
      on a.seg_id = b.seg_id and a.seg_key = b.seg_key
     and a.doc_id < b.doc_id
),
hams as (
    select c.doc_a, c.doc_b,
        cast(sum(abs(va.sbit - vb.sbit)) as bigint) as hamming
    from cand c
    join votes va on va.doc_id = c.doc_a
    join votes vb on vb.doc_id = c.doc_b and vb.bit_idx = va.bit_idx
    group by c.doc_a, c.doc_b
    having sum(abs(va.sbit - vb.sbit)) <= {SIMHASH_CAL_MAX}
),
sizes as (
    select doc_id, cast(count(*) as bigint) as n_grams from grams group by doc_id
),
inter as (
    select h.doc_a, h.doc_b, cast(count(*) as bigint) as n_common
    from hams h
    join grams ga on ga.doc_id = h.doc_a
    join grams gb on gb.doc_id = h.doc_b and gb.gram = ga.gram
    group by h.doc_a, h.doc_b
),
paired as (
    select h.hamming,
        coalesce(i.n_common, 0) as n_common,
        sa.n_grams + sb.n_grams - coalesce(i.n_common, 0) as n_union
    from hams h
    left join inter i on i.doc_a = h.doc_a and i.doc_b = h.doc_b
    join sizes sa on sa.doc_id = h.doc_a
    join sizes sb on sb.doc_id = h.doc_b
)
select hamming,
    cast(count(*) as bigint) as n_pairs,
    cast(sum(n_common) as bigint) as sum_common,
    cast(sum(n_union) as bigint) as sum_union,
    cast(sum(n_common) as double) / cast(sum(n_union) as double)
        as pooled_jaccard
from paired
group by hamming
order by hamming
"""
