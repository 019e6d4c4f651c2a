"""Streaming lakehouse ingestion: readStream → foreachBatch → lakehouse
commits (lakehouse.py), each micro-batch one or more versioned commits.

- ``stream_ingest_dedup`` / ``stream_dedup_ingest``: streaming corpus
  dedup — batch verdicts MERGEd into a verdict table, novel signatures
  appended to the stored corpus.
- ``stream_cluster_maintain``: the same pipeline maintaining a stored
  cluster-labels table incrementally.
- ``stream_cdc_apply``: a change feed folded into a state table with
  ``lakehouse.apply_changes``.

Every batch is a new committed version (time-travelable, restart-safe
via the streaming checkpoint; a replayed batch is absorbed because
every commit is keyed or batch-tagged).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark import lakehouse
from ecommerce_dbt_medallion_spark.streaming.drain import (
    drain_batches,
    gate_scratch,
    stage_microbatch_files_by,
)


def stream_ingest_dedup(
    spark: SparkSession,
    source_dir: str,
    sig_table: str,
    verdict_table: str,
    schema,
    labels_table: str | None = None,
    phase_log: list | None = None,
) -> tuple[int, int]:
    """Streaming corpus curation end-to-end: each micro-batch of raw
    documents is deduped against the STORED corpus signatures, its
    verdicts are MERGEd into a lakehouse verdict table, and only novel
    documents' signatures join the corpus — the production LLM-data
    ingestion shape (round-7 glue between ``ops.dedup.dedup_incremental``
    and a foreachBatch MERGE).

    Per micro-batch:
      1. ``doc_signatures`` computes fingerprint + 64-perm md5 MinHash
         + stored band keys for the BATCH only (the corpus is never
         re-shingled, and its band keys are read back as a stored
         column, not recomputed per batch).
      2. ``signature_verdicts`` joins against the signature table on
         fingerprint + 16x4 LSH band keys → exact_dup / near_dup /
         novel per doc; shuffle ∝ batch x band occupancy, never
         corpus x batch.
      3. Verdicts (+ batch_id) MERGE into ``verdict_table`` keyed on
         ``doc_id``.
      4. Novel docs' signatures (one representative per fingerprint —
         within-batch exact dupes collapse to the min id) APPEND to
         ``sig_table``: an add-only commit, no rewrite, so corpus
         maintenance cost is O(novel) per batch and both state tables
         stay transactionally versioned and time-travelable.

    REPLAY IDEMPOTENCY (checkpoint-restart safety): doc ids are the
    document identity, assumed unique across the feed. The corpus side
    of every verdict ANTI-JOINS the current batch's ids, and the novel
    append anti-joins ids already in the corpus — so a batch replayed
    after a crash (even one that landed between the verdict MERGE and
    the signature APPEND) recomputes the SAME verdicts against the
    effective pre-batch corpus and appends nothing twice. Without the
    self-exclusion, a replayed batch would exact-dup every doc against
    its own stored signature. Pinned by
    tests/test_lakehouse.py::test_stream_ingest_dedup_replay_idempotent.

    LIMITATION (by design, mirrored by the gate oracle): near-dup
    pairs CO-ARRIVING in one batch both verdict 'novel' and both enter
    the corpus — only exact within-batch dupes collapse (fingerprint
    grouping). A production pipeline that expects bursty near-dup
    arrivals chains a within-batch pass (``dedup_minhash_md5`` shape)
    before this ingest; cross-batch near-dups are always caught.

    ``phase_log`` (optional, VERDICT r11 #5): a caller-owned list that
    receives one ``{"batch", "phase", "sec"}`` row per pipeline stage
    per micro-batch — signature build vs verdict+MERGE vs label
    maintenance vs novel APPEND — so the bench artifact
    can MEASURE that maintenance cost is churn-proportional instead of
    arguing it from the code. Phase boundaries sit at materialization
    points (eager checkpoints / commits), so the wall-clock split is
    real work, not lazy-plan bookkeeping.

    Returns (final sig_table version, final verdict_table version).
    """
    import time as _time
    from pyspark.sql import Window

    from ecommerce_dbt_medallion_spark.ops.dedup import (
        doc_signatures,
        signature_verdicts,
    )

    def _mark(batch_id: int, phase: str, t0: float) -> float:
        t1 = _time.perf_counter()
        if phase_log is not None:
            phase_log.append(
                {"batch": int(batch_id), "phase": phase,
                 "sec": round(t1 - t0, 3)}
            )
        return t1

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        t = _time.perf_counter()
        bsig = doc_signatures(batch_df).localCheckpoint(eager=True)
        t = _mark(batch_id, "signature_build", t)
        corpus_all = (
            lakehouse.read(spark, sig_table)
            if lakehouse.versions(sig_table)
            else None
        )
        # replay safety: never compare a batch against its own ids
        corpus = (
            corpus_all.join(bsig.select("doc_id"), "doc_id", "left_anti")
            if corpus_all is not None
            else None
        )
        verd = (
            signature_verdicts(bsig, corpus)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .localCheckpoint(eager=True)
        )
        # merge_into/append fall back to CREATE themselves on a
        # version-less table — no exists-branching here
        lakehouse.merge_into(spark, verdict_table, verd, "doc_id")
        t = _mark(batch_id, "verdict_merge", t)
        if labels_table is not None:
            # round 8: incremental CLUSTER maintenance — this batch's
            # dup edges union-merge into the stored labels at churn
            # scale (ops/graph.maintain_cluster_labels); after every
            # batch the table equals a from-scratch CC over all edges
            from ecommerce_dbt_medallion_spark.ops.graph import (
                maintain_cluster_labels,
            )

            edges = verd.where(F.col("match_id").isNotNull()).select(
                F.col("doc_id").alias("doc_a"),
                F.col("match_id").alias("doc_b"),
            )
            maintain_cluster_labels(spark, labels_table, edges)
            t = _mark(batch_id, "label_maintain", t)
            if phase_log is not None:
                # churn next to wall clock (VERDICT r12 #2): sec alone
                # reads as "grows per batch" when the real relation is
                # per-EDGE cost — edges grow because later batches match
                # against a larger corpus. verd is checkpointed, so the
                # count is a cheap local scan, and only diagnostic runs
                # pay it. Reset the timer afterwards so the count's own
                # wall time is charged to NEITHER adjacent phase (it was
                # silently inflating novel_append in the split artifact).
                phase_log[-1]["n_edges"] = edges.count()
                t = _time.perf_counter()
        novel = bsig.join(
            verd.where(F.col("verdict") == "novel").select("doc_id"),
            "doc_id",
            "semi",
        )
        w = Window.partitionBy("fingerprint").orderBy("doc_id")
        novel = novel.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        ).drop("rn")
        if corpus_all is not None:
            # replay safety: an id already in the corpus never re-appends
            novel = novel.join(
                corpus_all.select("doc_id"), "doc_id", "left_anti"
            )
        # one materialization: isEmpty() + the append below would
        # otherwise run the joins + window twice per batch
        novel = novel.localCheckpoint(eager=True)
        if not novel.isEmpty():
            lakehouse.append(spark, sig_table, novel, key="doc_id")
        _mark(batch_id, "novel_append", t)

    v_verdict = drain_batches(spark, source_dir, schema, verdict_table, _batch)
    v_sig = lakehouse.versions(sig_table)
    return (v_sig[-1] if v_sig else -1), v_verdict


def _gate_three_batch_tables(
    spark: SparkSession, sf_dir: str, prefix: str, batch_mode: str = "mod"
):
    """Shared gate setup: split documents into three deterministic
    micro-batch files (mtime+name ordered so FileStreamSource processes
    them in order) and return fresh (src, sig_table, verdict_table,
    labels_table) paths under the gate root, pre-cleaned.

    ``batch_mode``:
      - ``"mod"`` (the gated keys): batch k = doc_id % 3 == k. This is
        deliberately ADVERSARIAL for stored-state maintenance — every
        batch spans the table's full id range, so stats-based file
        pruning on the labels table admits almost everything.
      - ``"contiguous"`` (bench diagnostics, VERDICT r12 #2): batch k =
        the k-th contiguous doc_id tercile — the layout a production
        time-ordered feed actually has (new ids arrive after old ids),
        where relabel reads should prune to the churn's id range.
    """
    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    src, sig_table, verdict_table, labels_table = gate_scratch(
        sf_dir,
        f"{prefix}_src",
        f"{prefix}_sigs",
        f"{prefix}_verdicts",
        f"{prefix}_labels",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if batch_mode == "contiguous":
        # tercile boundaries from min/max: deterministic, one cheap
        # stats-style scan, no global sort. Id gaps just skew batch
        # sizes a little, which the diagnostic doesn't care about.
        lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
        if lo is None:
            # empty documents table: no terciles to cut — write three
            # empty batches, mirroring the mod path's graceful behavior
            # (int(None) would otherwise raise an opaque TypeError)
            batch_of = F.lit(0).cast("int")
        else:
            span = max(int(hi) - int(lo) + 1, 1)
            batch_of = F.least(
                F.lit(2),
                F.floor(((F.col("doc_id") - int(lo)) * 3) / span).cast("int"),
            )
    elif batch_mode == "mod":
        batch_of = (F.col("doc_id") % 3).cast("int")
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown batch_mode: {batch_mode!r}")
    stage_microbatch_files_by(src, docs.withColumn("__b", batch_of), 3)
    return src, sig_table, verdict_table, labels_table


def stream_dedup_ingest(
    spark: SparkSession, sf_dir: str, phase_log: list | None = None
):
    """Gated key (SURVEY §2 #14f, round 7): the STREAMING corpus-dedup
    pipeline end-to-end under the driver's hash oracle. The documents
    table splits into three deterministic micro-batches (doc_id % 3,
    processed in order via mtime+name-ordered files,
    maxFilesPerTrigger=1); ``stream_ingest_dedup`` runs the full
    foreachBatch loop — batch signatures → verdicts vs the STORED
    corpus signature table → verdict MERGE → novel-only signature
    APPEND — and the returned verdict table is value-checked against a
    pure-SQL replay of all three rounds (md5 minhash + 16×4 banding +
    signature-agreement Jaccard are engine-portable, the same family
    dedup_minhash_md5 gates). batch_id is part of the output, so the
    oracle also pins that batches processed in order.

    Scale shape: identical to production ingestion — per-batch shuffle
    ∝ batch × band-bucket occupancy; the corpus is read from stored
    state, never re-shingled; both state tables are versioned lakehouse
    tables (one MERGE + at most one APPEND commit per batch).
    """
    src, sig_table, verdict_table, _ = _gate_three_batch_tables(
        spark, sf_dir, "dedupstream"
    )
    stream_ingest_dedup(
        spark, src, sig_table, verdict_table,
        schema="doc_id long, text string",
        phase_log=phase_log,
    )
    return lakehouse.read(spark, verdict_table).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "verdict",
        F.col("match_id").cast("long").alias("match_id"),
        F.col("est_jaccard").cast("double").alias("est_jaccard"),
        F.col("batch_id").cast("long").alias("batch_id"),
    )


def stream_cluster_maintain(
    spark: SparkSession, sf_dir: str, phase_log: list | None = None
):
    """Gated key (SURVEY §2 #14g, round 8): streaming INCREMENTAL
    cluster maintenance. The same 3-batch corpus-dedup pipeline as
    ``stream_dedup_ingest``, but each micro-batch's dup edges
    (doc → match) union-merge into a stored lakehouse labels table via
    ``ops.graph.maintain_cluster_labels`` — min-label propagation over
    the CONTRACTED super-node graph only (churn scale), never a
    full-corpus CC recompute. Output: the final labels table with
    cluster sizes and representatives; the oracle is a from-scratch
    recursive-CTE CC over the replayed edges, which the maintenance
    invariant (after every batch, stored labels == from-scratch CC over
    all edges so far — pinned by
    tests/test_lakehouse.py::test_stream_cluster_maintain_matches_scratch)
    makes equal to the incremental construction."""
    return _run_cluster_maintain(
        spark, sf_dir, "clusterstream", "mod", phase_log
    )


def _run_cluster_maintain(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    batch_mode: str,
    phase_log: list | None,
):
    """Shared body of the gated ``stream_cluster_maintain`` and its
    contiguous-layout bench twin: gate setup under ``prefix`` with the
    given ``batch_mode``, the 3-batch dedup+maintenance drain, then the
    maintained labels joined to cluster sizes. One implementation so a
    future output-shape change cannot silently diverge the twins."""
    src, sig_table, verdict_table, labels_table = _gate_three_batch_tables(
        spark, sf_dir, prefix, batch_mode=batch_mode
    )
    stream_ingest_dedup(
        spark, src, sig_table, verdict_table,
        schema="doc_id long, text string",
        labels_table=labels_table,
        phase_log=phase_log,
    )
    labels = lakehouse.read(spark, labels_table)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
        )
        .orderBy("doc_id")
    )


def stream_cluster_maintain_contiguous(
    spark: SparkSession, sf_dir: str, phase_log: list | None = None
):
    """UNGATED bench/diagnostic variant of ``stream_cluster_maintain``
    (VERDICT r12 #2): the same 3-batch pipeline, batched by CONTIGUOUS
    doc_id terciles — the production time-ordered feed layout — instead
    of the gate's adversarial doc_id % 3 (which spans every batch
    across the table's full id range, defeating stats pruning on the
    labels table by construction). bench.py's maintenance_split runs
    this next to the gated layout so "relabel reads prune under a
    time-ordered feed" is a recorded per-batch number, not an argument.

    NOT registered in api.queries(): the 200-key / 50-slot rotation has
    zero spare capacity (round-13 rotation note in api.py), and as a
    measurement twin of an already-gated key it earns its keep in
    BENCH_SUMMARY.maintenance_split, not in the certification window.
    Correctness is still pinned: the maintained labels must equal a
    from-scratch CC over this layout's own verdict edges
    (tests/test_lakehouse.py::test_stream_cluster_maintain_contiguous_
    matches_scratch) — note the edge SET itself may legitimately differ
    from the mod-3 layout's (near-dup pairs co-arriving in one batch
    both verdict novel; which pairs co-arrive depends on the layout).
    """
    return _run_cluster_maintain(
        spark, sf_dir, "clusterstreamc", "contiguous", phase_log
    )


def _oracle_stream_replay_ctes() -> str:
    """The shared pure-SQL replay of the 3-batch streaming dedup:
    tok/grams/sigs/fp CTEs (MATERIALIZED — multi-referenced), then per
    round k: exact = fingerprint hit in the corpus-so-far, near = best
    banded candidate with signature-agreement >= threshold, novel docs
    (min id per fingerprint) extend the corpus. Both the verdict oracle
    and the round-8 cluster-maintenance oracle append their own final
    select ('recursive' is declared up front for the latter's CC)."""
    from ecommerce_dbt_medallion_spark.config import (
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_JACCARD_THRESHOLD,
        MINHASH_PERMS,
    )
    from ecommerce_dbt_medallion_spark.ops.text import _NORM_SQL, NGRAM_N, WS_RE

    sig_cols = ",\n        ".join(
        f"min(md5(gram || '#{p}')) as h{p}" for p in range(MINHASH_PERMS)
    )
    band_union = "\n    union all\n    ".join(
        f"select doc_id, {b} as band_id, "
        + "md5("
        + " || ',' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + ") as band_key from sigs"
        for b in range(LSH_BANDS)
    )
    nmatch = " + ".join(
        f"(case when sa.h{p} = sb.h{p} then 1 else 0 end)"
        for p in range(MINHASH_PERMS)
    )
    # same normalization literal the Spark fingerprint uses — imported,
    # not copied, so the recipes cannot drift
    norm = _NORM_SQL

    rounds = []
    # corpus after round 0: batch-0 docs are all novel (empty corpus),
    # one representative (min id) per fingerprint
    rounds.append(
        """c0 as materialized (
    select min(doc_id) as doc_id, fingerprint
    from fp where doc_id % 3 = 0 group by fingerprint
)"""
    )
    for k in (1, 2):
        prev = f"c{k - 1}"
        rounds.append(
            f"""x{k} as materialized (
    select b.doc_id, min(c.doc_id) as exact_match
    from fp b join {prev} c on c.fingerprint = b.fingerprint
    where b.doc_id % 3 = {k}
    group by b.doc_id
),
cand{k} as materialized (
    select distinct bb.doc_id, cb.doc_id as match_id
    from bands bb
    join {prev} c on c.doc_id is not null
    join bands cb on cb.doc_id = c.doc_id
     and cb.band_id = bb.band_id and cb.band_key = bb.band_key
    where bb.doc_id % 3 = {k}
),
est{k} as materialized (
    select cn.doc_id, cn.match_id,
        cast({nmatch} as double) / {MINHASH_PERMS} as est_jaccard
    from cand{k} cn
    join sigs sa on sa.doc_id = cn.doc_id
    join sigs sb on sb.doc_id = cn.match_id
),
near{k} as materialized (
    select doc_id, match_id as near_match, est_jaccard from (
        select doc_id, match_id, est_jaccard,
            row_number() over (
                partition by doc_id order by est_jaccard desc, match_id
            ) as rn
        from est{k} where est_jaccard >= {MINHASH_JACCARD_THRESHOLD}
    ) where rn = 1
),
v{k} as materialized (
    select b.doc_id,
        case when x.exact_match is not null then 'exact_dup'
             when n.near_match is not null then 'near_dup'
             else 'novel' end as verdict,
        coalesce(x.exact_match, n.near_match) as match_id,
        case when x.exact_match is null then n.est_jaccard end as est_jaccard
    from (select doc_id from documents where doc_id % 3 = {k}) b
    left join x{k} x on x.doc_id = b.doc_id
    left join near{k} n on n.doc_id = b.doc_id
),
c{k} as materialized (
    select doc_id, fingerprint from {prev}
    union all
    select min(f.doc_id), f.fingerprint
    from v{k} v join fp f on f.doc_id = v.doc_id
    where v.verdict = 'novel'
    group by f.fingerprint
)"""
        )
    rounds_sql = ",\n".join(rounds)

    return f"""
with recursive tok as materialized (
    select doc_id, string_split_regex(lower(trim(text)), '{WS_RE}') as t
    from documents
),
grams as materialized (
    select doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(len(t) - {NGRAM_N - 2}, 1)),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) as gram
    from tok
),
sigs as materialized (
    select doc_id,
        {sig_cols}
    from grams group by doc_id
),
fp as materialized (
    select doc_id, md5({norm}) as fingerprint from documents
),
bands as materialized (
    {band_union}
),
{rounds_sql}"""


def oracle_stream_dedup_ingest() -> str:
    return _oracle_stream_replay_ctes() + """
select cast(doc_id as bigint) as doc_id,
       'novel' as verdict,
       cast(null as bigint) as match_id,
       cast(null as double) as est_jaccard,
       cast(0 as bigint) as batch_id
from documents where doc_id % 3 = 0
union all
select cast(doc_id as bigint), verdict, cast(match_id as bigint),
       cast(est_jaccard as double), cast(1 as bigint) from v1
union all
select cast(doc_id as bigint), verdict, cast(match_id as bigint),
       cast(est_jaccard as double), cast(2 as bigint) from v2
"""


def oracle_stream_cluster_maintain() -> str:
    """Round 8: from-scratch CC over the replayed dup edges — valid as
    the oracle for the INCREMENTALLY maintained labels because the
    maintenance invariant (labels after every batch == from-scratch CC
    over all edges so far; test-pinned) makes the two constructions
    equal at the final batch."""
    return _oracle_stream_replay_ctes() + """,
edge_pairs as materialized (
    select doc_id as doc_a, match_id as doc_b from v1 where match_id is not null
    union
    select doc_id, match_id from v2 where match_id is not null
),
edges as materialized (
    select doc_a as src, doc_b as dst from edge_pairs
    union
    select doc_b, doc_a from edge_pairs
),
nodes as (select distinct src as doc_id from edges),
reach(doc_id, label) as (
    select doc_id, doc_id from nodes
    union
    select e.dst, r.label from reach r join edges e on e.src = r.doc_id
),
clusters as (select doc_id, min(label) as cluster_id from reach group by doc_id),
sizes as (select cluster_id, count(*) as cluster_size from clusters group by cluster_id)
select cast(c.doc_id as bigint) as doc_id,
    cast(c.cluster_id as bigint) as cluster_id,
    cast(s.cluster_size as bigint) as cluster_size,
    c.doc_id = c.cluster_id as is_representative
from clusters c join sizes s using (cluster_id)
order by doc_id
"""


# ------------------------------------------------- streaming CDC apply

CDC_BATCHES = 3


def _cdc_apply_batch(
    spark: SparkSession, state: str, batch_df: DataFrame, batch_id: int
) -> None:
    """One CDC micro-batch folded into ``state``: ``'error'`` rows are
    tombstones, everything else upserts, sequenced by (ts, event_id)."""
    from ecommerce_dbt_medallion_spark.models.events import CDC_DELETE_TYPE

    chg = batch_df.withColumn(
        "op",
        F.when(F.col("event_type") == CDC_DELETE_TYPE, F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    lakehouse.apply_changes(spark, state, chg, "user_id", ["ts", "event_id"])


def stream_cdc_apply(spark: SparkSession, sf_dir: str):
    """Gated key (SURVEY §2 #14i, round 8): streaming CDC APPLY — the
    Delta Live Tables ``apply_changes`` pattern end-to-end. The events
    table is treated as a per-user changelog (``'error'`` rows are
    tombstones, everything else upserts) and split into
    ``CDC_BATCHES`` micro-batches CONTIGUOUS in the global
    (ts, event_id) order (a change feed arrives roughly in commit
    order); foreachBatch folds each into a lakehouse state table via
    ``lakehouse.apply_changes`` with ``seq_cols=(ts, event_id)``.

    Sequencing, not batch-boundary luck, carries the correctness: a
    replayed batch (equal seq) and an out-of-order straggler (lower
    seq) are absorbed by the strict seq comparison inside
    ``apply_changes``, so the drained state equals the batch
    compaction (``cdc_latest_state``) REGARDLESS of how the feed was
    chopped — the oracle is shared verbatim.

    Scale shape: per batch, one skew-proof latest-change aggregate +
    a MERGE-shaped touched-file rewrite (stats-pruned, untouched files
    by reference); state stays a versioned, time-travelable table.
    """
    from pyspark.sql import Window

    from ecommerce_dbt_medallion_spark.models.events import load_events

    src, state = gate_scratch(sf_dir, "cdcstream_src", "cdcstream_state")
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    # contiguous (ts, event_id) terciles — gate setup only, not the
    # production path (a real feed arrives already batched)
    w = Window.orderBy("ts", "event_id")
    stage_microbatch_files_by(
        src, ev.withColumn("__b", F.ntile(CDC_BATCHES).over(w) - 1), CDC_BATCHES
    )
    drain_batches(
        spark, src, ev.schema, state, partial(_cdc_apply_batch, spark, state)
    )
    return lakehouse.read_cdc_state(spark, state).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )
