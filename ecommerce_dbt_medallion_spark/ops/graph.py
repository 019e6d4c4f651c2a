"""Connected components over near-duplicate pairs — the clustering step
that turns pairwise dedup output into actionable keep/drop decisions
(one representative per duplicate cluster).

Algorithm: iterative min-label propagation expressed as DataFrame
joins — each round every node adopts min(own label, neighbors' labels);
fixpoint after O(graph diameter) rounds. Near-dup graphs are unions of
small dense cliques, so the diameter (and round count) is tiny in
practice; a hard cap guards pathological chains. Each round is one
join + one groupBy shuffle on node ids, with the state
localCheckpoint'ed to truncate lineage (mandatory for iterative Spark —
otherwise the plan doubles every round). The per-round driver action is
a single scalar convergence count, never data. At extreme scale the
round count can be halved again with the large-star/small-star
transform (Kiveris et al., "Connected Components in MapReduce"); plain
propagation is the right cost/complexity point for clique-shaped
dedup graphs.

The DuckDB oracle states the same fixpoint as a recursive CTE
(transitive reachability → min reachable label), so the cluster
assignment is value-checked end-to-end on top of the already-oracled
ngram-Jaccard pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dbt_medallion_spark.ops.text import (
    dedup_ngram_jaccard,
    oracle_dedup_ngram_jaccard,
)

MAX_CC_ROUNDS = 25

# maintain_cluster_labels: above this many batch endpoints, skip the
# driver-side point-lookup probe (O(files × keys) mask checks) and fall
# back to a distributed scan-join against the stored labels
MAINT_LOOKUP_MAX_KEYS = 100_000

# maintain_cluster_labels: up to this many contraction-surviving edges,
# run the mini-CC as a driver-side union-find instead of the iterative
# distributed propagation — the contracted mini-graph is churn-scale
# (≤ batch edges, one super-node per affected component), so at any
# batch size the distributed path's fixed per-round job overhead
# (~2-3 s × O(diameter) rounds, measured in BENCH_SUMMARY's
# maintenance_split) dwarfs a linear in-memory pass; the distributed
# path remains the fallback above the dial
MAINT_MINI_CC_MAX_EDGES = 100_000

# connected_components: up to this many RAW edge rows the full CC runs
# as the same driver-side union-find (see MAINT_MINI_CC_MAX_EDGES for
# the pattern's rationale); above it, the distributed min-label
# propagation. Separate dial so tests can force each path independently.
CC_DRIVER_UF_MAX_EDGES = 100_000


def _uf_min_labels(pairs) -> dict:
    """Union-find over (a, b) edge tuples → {node: min node id in its
    component}. Roots are kept at the component minimum during union,
    so the final find IS the min-label — the same convention as
    :func:`connected_components` (label = min node id)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # root stays the component min
    return {x: find(x) for x in parent}


def connected_components(pairs: DataFrame, max_rounds: int = MAX_CC_ROUNDS) -> DataFrame:
    """(doc_a, doc_b) undirected edges → (doc_id, cluster_id) where
    cluster_id = min node id in the component. Only nodes appearing in
    at least one edge are labeled (singletons aren't duplicates).

    Up to ``CC_DRIVER_UF_MAX_EDGES`` raw edge rows the CC runs as a
    driver-side union-find (one collect of 2-int rows) — the same
    approved collect-behind-a-size-dial pattern as the maintenance
    mini-CC, generalized here because EVERY caller (dedup_clusters,
    semantic_dedup_clusters, the maintenance fallback) pays the
    distributed loop's fixed per-round job overhead (~10 rounds of
    shuffle+checkpoint) even when the dup-edge set is thousands of
    rows. Near-dup edge sets grow with the corpus, so at 100 TB the
    count exceeds the dial and the distributed min-label propagation
    below — unchanged — is the path taken; both paths are pinned equal
    by tests (planted-graph parametrized over the dial, the union-find
    brute-force property test, and the maintenance both-paths test)."""
    raw = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # Path decision via a BOUNDED probe (ADVICE r13): checkpoint only
    # limit(dial+1) rows — at 100 TB scale this materializes ≤100k+1
    # 2-int rows (LocalLimit early-exits the scan), never the full edge
    # set, and the fallback path below no longer pays a raw-set
    # checkpoint it doesn't use. In the small case the probe holds the
    # COMPLETE edge set (limit didn't truncate), so the upstream pairs
    # pipeline still computes exactly once and collect() reads the
    # checkpoint.
    probe = raw.limit(CC_DRIVER_UF_MAX_EDGES + 1).localCheckpoint(eager=True)
    if probe.count() <= CC_DRIVER_UF_MAX_EDGES:
        dtypes = dict(probe.dtypes)
        if dtypes["src"] != dtypes["dst"]:
            # dst ids would be silently coerced to src's type in the
            # schema below, diverging from the distributed path
            raise TypeError(
                f"connected_components: doc_a is {dtypes['src']} but "
                f"doc_b is {dtypes['dst']}; pass same-typed node ids"
            )
        labels_map = _uf_min_labels(
            (r["src"], r["dst"]) for r in probe.collect()
        )
        dtype = dtypes["src"]
        return probe.sparkSession.createDataFrame(
            list(labels_map.items()), f"doc_id {dtype}, cluster_id {dtype}"
        )
    edges = (
        raw.union(raw.select(F.col("dst"), F.col("src")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        prop = edges.join(
            labels, edges.src == labels.doc_id, "inner"
        ).select(F.col("dst").alias("doc_id"), "label")
        # The convergence signal rides the SAME aggregation that
        # computes the new labels (round 10): tag the old-label rows,
        # carry min(old) next to min(all) — `changed` is then a filter
        # over the checkpoint just materialized. The previous separate
        # new⋈old join re-shuffled BOTH label sets every round (the
        # checkpoint scan reports unknown partitioning, so the planner
        # added two exchanges + a sort-merge join per round purely to
        # count changes).
        merged = (
            labels.select("doc_id", "label", F.lit(True).alias("is_old"))
            .unionByName(prop.select("doc_id", "label", F.lit(False).alias("is_old")))
            .groupBy("doc_id")
            .agg(
                F.min("label").alias("label"),
                # exactly one old row per doc (labels is doc-grain)
                F.min(F.when(F.col("is_old"), F.col("label"))).alias("old_label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.where(F.col("label") != F.col("old_label")).count()
        labels = merged.select("doc_id", "label")
        if changed == 0:
            return labels.select("doc_id", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components did not converge in {max_rounds} rounds")


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the ngram-Jaccard pairs: every clustered
    doc with its cluster id, cluster size, and whether it is the kept
    representative (min doc_id)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


def oracle_dedup_clusters() -> str:
    return f"""
with recursive pairs as materialized (
    select doc_a, doc_b from ({oracle_dedup_ngram_jaccard()})
),
edges as materialized (
    select doc_a as src, doc_b as dst from pairs
    union
    select doc_b, doc_a from pairs
),
nodes as (select distinct src as doc_id from edges),
reach(doc_id, label) as (
    select doc_id, doc_id from nodes
    union
    select e.dst, r.label
    from reach r join edges e on e.src = r.doc_id
),
clusters as (select doc_id, min(label) as cluster_id from reach group by doc_id),
sizes as (select cluster_id, count(*) as cluster_size from clusters group by cluster_id)
select c.doc_id, c.cluster_id, s.cluster_size,
    c.doc_id = c.cluster_id as is_representative
from clusters c join sizes s using (cluster_id)
"""


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35g: END-TO-END semantic dedup — hyperplane-LSH candidate pairs
    (exact-cosine verified, ops/similarity.dedup_embedding_lsh) fed into
    the same min-label CC used for the token-level pipeline. The
    embedding twin of dedup_clusters: one generic component machinery,
    two feature spaces — which is exactly how a production corpus runs
    both lexical and semantic dedup off one clustering stage.

    Scale shape = the sum of its parts: the LSH band shuffle + narrow
    pair dedup (similarity.py), then O(diameter) label rounds over the
    pair set only (near-dup components are clique-shaped, diameter ~1-2).
    Oracle: recursive-CTE reachability over the already-oracled pair SQL.
    """
    from ecommerce_dbt_medallion_spark.ops.similarity import dedup_embedding_lsh

    pairs = dedup_embedding_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


def oracle_semantic_dedup_clusters() -> str:
    from ecommerce_dbt_medallion_spark.ops.similarity import (
        oracle_dedup_embedding_lsh,
    )

    return f"""
with recursive pairs as materialized (
    select vec_a, vec_b from ({oracle_dedup_embedding_lsh()})
),
edges as materialized (
    select vec_a as src, vec_b as dst from pairs
    union
    select vec_b, vec_a from pairs
),
nodes as (select distinct src as vec_id from edges),
reach(vec_id, label) as (
    select vec_id, vec_id from nodes
    union
    select e.dst, r.label
    from reach r join edges e on e.src = r.vec_id
),
clusters as (select vec_id, min(label) as cluster_id from reach group by vec_id),
sizes as (select cluster_id, count(*) as cluster_size from clusters group by cluster_id)
select c.vec_id, c.cluster_id, s.cluster_size,
    c.vec_id = c.cluster_id as is_representative
from clusters c join sizes s using (cluster_id)
"""


# ----------------------------------------- incremental label maintenance


def _maintain_driver_side(
    spark: SparkSession, labels_table: str, new_edges: DataFrame, id_col: str
) -> int | None:
    """Round 14: the WHOLE incremental label maintenance runs
    driver-side when the batch is churn-scale — one bounded probe job
    over the raw edges, a zero-job point lookup of the endpoints'
    stored labels (lakehouse.read_keys_local), then contraction,
    union-find mini-CC, relabel-map and the merge SOURCE all in plain
    Python; only the final keyed MERGE touches Spark. The pre-round-14
    shape paid ~6 fixed-overhead Spark jobs (eager checkpoints of
    edges/nodes/node_sup/sup_edges/mini + the lookup read) per
    micro-batch for data that is a few hundred 2-int rows — measured
    ~2.6-3.0 s/batch of pure scheduling at 100-edge churn
    (BENCH_SUMMARY maintenance_split r13/r14).

    Returns the new table version, or None to fall back to the
    distributed body (probe saturated; table state needs the full read
    contract — tombstones / column mapping / oversized files; or the
    relabel read exceeds the driver dials). Both paths are pinned equal
    by the from-scratch CC invariant test after every batch and the
    dial-parametrized both-paths tests."""
    from ecommerce_dbt_medallion_spark import lakehouse

    raw = new_edges.select(F.col("doc_a"), F.col("doc_b")).where(
        F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull()
    )
    probe = raw.limit(MAINT_MINI_CC_MAX_EDGES + 1).collect()
    if len(probe) > MAINT_MINI_CC_MAX_EDGES:
        return None
    dtypes = dict(raw.dtypes)
    if dtypes["doc_a"] != dtypes["doc_b"]:
        return None  # mixed node dtypes: let the distributed body decide
    dtype = dtypes["doc_a"]
    pairs = {(r["doc_a"], r["doc_b"]) for r in probe}
    if not pairs:
        vs = lakehouse.versions(labels_table)
        return vs[-1] if vs else -1
    nodes = {a for ab in pairs for a in ab}

    exists = bool(lakehouse.versions(labels_table))
    stored: dict = {}
    if exists:
        rows = lakehouse.read_keys_local(
            spark, labels_table, list(nodes), [id_col, "cluster_id"]
        )
        if rows is None:
            return None
        stored = {r[id_col]: r["cluster_id"] for r in rows}

    sup = {n: stored.get(n, n) for n in nodes}
    sup_edges = {(sup[a], sup[b]) for a, b in pairs if sup[a] != sup[b]}
    uf = _uf_min_labels(sup_edges)
    mini = {s: uf.get(s, s) for s in set(sup.values())}
    src_rows = {n: mini[sup[n]] for n in nodes}

    affected = {s: nl for s, nl in mini.items() if s != nl}
    if affected and exists:
        # stored rows of MERGED components relabel too: admit files by
        # their cluster_id stats (conservative keep when absent), read
        # them locally, fold by min like the distributed groupBy
        admitted = lakehouse._may_hold(
            lakehouse.live_files(labels_table), id_col, "cluster_id",
            [(s, s) for s in affected],
        )
        if not lakehouse._driver_readable(admitted):
            return None
        import pyarrow.parquet as _pq

        for a in admitted:
            try:
                tbl = _pq.read_table(
                    lakehouse._abs(labels_table, a["file"]),
                    columns=[id_col, "cluster_id"],
                )
            except Exception:
                return None
            ids = tbl.column(id_col).to_pylist()
            cls = tbl.column("cluster_id").to_pylist()
            for i, c in enumerate(cls):
                if c in affected:
                    d = ids[i]
                    nl = affected[c]
                    src_rows[d] = min(src_rows[d], nl) if d in src_rows else nl

    rows = sorted(src_rows.items())
    src = spark.createDataFrame(rows, f"{id_col} {dtype}, cluster_id {dtype}")
    # rows are in hand: create/merge stage the commit DRIVER-SIDE
    # (round 15) — the labels CREATE previously paid a distinct-count +
    # range-sample + write job for churn-scale rows, and each MERGE a
    # probe + rewrite job; both are now zero-Spark-job commits
    if not exists:
        return lakehouse.create_or_replace(
            spark, labels_table, src, key=id_col,
            partition_by="cluster_id", local_rows=rows,
        )
    return lakehouse.merge_into(
        spark, labels_table, src, id_col, source_rows=rows
    )


def maintain_cluster_labels(
    spark: SparkSession, labels_table: str, new_edges: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Round 8: INCREMENTAL connected-component maintenance — the
    streaming turn `incremental_mart_refresh` took for aggregates,
    applied to near-dup cluster labels. ``labels_table`` is a lakehouse
    table (doc_id, cluster_id) holding the CC labels of every edge-
    participant seen so far (cluster_id = min doc id in the component,
    exactly :func:`connected_components`' convention).

    A new batch of edges only ever MERGES components (edges are never
    retracted), so the update is churn-scale, never corpus-scale:

    1. contract each endpoint to its SUPER-NODE — its stored cluster id
       if labeled, else itself (an unseen doc);
    2. run plain min-label CC on the contracted mini-graph (∝ batch
       size: one super-node per affected component, O(diameter of the
       MERGE graph) rounds — not the full corpus graph);
    3. the mini-labels map affected old cluster ids → new min label;
       rewrite exactly the stored rows of affected components (a keyed
       MERGE prunes to the files holding them) and insert the new
       endpoints.

    INVARIANT (test-pinned): after every batch the stored labels equal
    a from-scratch ``connected_components`` over the union of all edges
    so far. min-labels make the merge order-free: the new component's
    label is min over merged parts' labels = min doc id overall.
    Replay-idempotent: re-applying a batch contracts every endpoint to
    the already-merged label, so the MERGE rewrites identical rows.

    Returns the labels table version."""
    from ecommerce_dbt_medallion_spark import lakehouse

    v = _maintain_driver_side(spark, labels_table, new_edges, id_col)
    if v is not None:
        return v

    edges = (
        new_edges.select(F.col("doc_a"), F.col("doc_b"))
        .where(F.col("doc_a").isNotNull() & F.col("doc_b").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.isEmpty():
        vs = lakehouse.versions(labels_table)
        return vs[-1] if vs else -1

    exists = bool(lakehouse.versions(labels_table))
    nodes = (
        edges.select(F.col("doc_a").alias(id_col))
        .union(edges.select(F.col("doc_b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if exists:
        # endpoint-label lookup: bloom+stats-pruned POINT READ of the
        # labels table when the batch's node set is metadata-scale —
        # O(affected files), never a full label scan per batch; fall
        # back to the scan-join above that size (the probe-mask check
        # is driver-side O(files × keys))
        n_nodes = nodes.count()
        if n_nodes <= MAINT_LOOKUP_MAX_KEYS:
            node_ids = [r[id_col] for r in nodes.collect()]
            stored_nodes = lakehouse.read_keys(spark, labels_table, node_ids)
        else:
            stored_nodes = lakehouse.read(spark, labels_table)
        node_sup = nodes.join(stored_nodes, id_col, "left").select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("sup"),
        )
    else:
        node_sup = nodes.select(F.col(id_col), F.col(id_col).alias("sup"))
    node_sup = node_sup.localCheckpoint(eager=True)

    sup_edges = (
        edges.join(
            node_sup.select(F.col(id_col).alias("doc_a"), F.col("sup").alias("sa")),
            "doc_a",
        )
        .join(
            node_sup.select(F.col(id_col).alias("doc_b"), F.col("sup").alias("sb")),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
        .select(F.col("sa").alias("doc_a"), F.col("sb").alias("doc_b"))
    )
    # mini-CC over super-nodes: label = new min doc id per merged group.
    # The contracted graph is churn-scale (≤ batch edges), so below the
    # dial the CC runs as a driver-side union-find — one collect of
    # 2-int rows — instead of paying the distributed propagation's
    # fixed per-round job overhead; above it, the distributed path.
    sup_edges = sup_edges.localCheckpoint(eager=True)
    sup_dtype = dict(node_sup.dtypes)["sup"]
    if sup_edges.count() <= MAINT_MINI_CC_MAX_EDGES:
        labels_map = _uf_min_labels(
            (r["doc_a"], r["doc_b"]) for r in sup_edges.collect()
        )
        mini = spark.createDataFrame(
            list(labels_map.items()), f"sup {sup_dtype}, new_label {sup_dtype}"
        )
    else:
        mini = connected_components(sup_edges).select(
            F.col("doc_id").alias("sup"), F.col("cluster_id").alias("new_label")
        )
    # also map super-nodes untouched by contraction-surviving edges
    # (e.g. an edge internal to one existing cluster): label unchanged
    mini = (
        node_sup.select("sup").distinct()
        .join(mini, "sup", "left")
        .select("sup", F.coalesce("new_label", F.col("sup")).alias("new_label"))
        .localCheckpoint(eager=True)
    )

    new_endpoint_labels = node_sup.join(mini, "sup").select(
        F.col(id_col), F.col("new_label").alias("cluster_id")
    )
    if exists:
        # stored rows of MERGED components need relabeling: the affected
        # old cluster ids are churn-scale (≤ batch edges), so collect
        # them and read only the files whose cluster_id range admits one
        # (the table is range-clustered on cluster_id at creation and
        # every rewrite carries the column's stats forward) — a
        # conservative keep when stats are absent, never unsound
        affected = mini.where(F.col("sup") != F.col("new_label"))
        aff_rows = affected.collect()  # churn-scale: merged components
        if aff_rows:
            # ONE live_files sweep (one log replay), testing every
            # file's cluster_id stats against the whole affected set —
            # per-sup pruned_files calls would re-replay the log
            # O(merged components) times on the driver
            admitted = lakehouse._may_hold(
                lakehouse.live_files(labels_table), id_col, "cluster_id",
                [(r["sup"], r["sup"]) for r in aff_rows],
            )
            stored_affected = lakehouse._read_files(
                spark, labels_table, admitted, None
            )
            amap = spark.createDataFrame(
                [(r["sup"], r["new_label"]) for r in aff_rows],
                f"cluster_id {dict(node_sup.dtypes)[id_col]}, "
                f"new_label {dict(node_sup.dtypes)[id_col]}",
            )
            relabeled = stored_affected.join(F.broadcast(amap), "cluster_id").select(
                F.col(id_col), F.col("new_label").alias("cluster_id")
            )
            src = new_endpoint_labels.union(relabeled)
        else:
            src = new_endpoint_labels
    else:
        src = new_endpoint_labels
    src = src.groupBy(id_col).agg(F.min("cluster_id").alias("cluster_id"))
    if not exists:
        # first creation declares cluster_id range-clustering, so later
        # relabel reads can file-skip on cluster_id stats
        return lakehouse.create_or_replace(
            spark, labels_table, src, key=id_col, partition_by="cluster_id"
        )
    return lakehouse.merge_into(spark, labels_table, src, id_col)
