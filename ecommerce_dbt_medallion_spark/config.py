"""Engine-wide constants.

The reference models stamp rows with ``current_timestamp()`` (e.g.
models/bronze/bronze_customers.sql:31, models/silver/silver_customers.sql:45).
That is nondeterministic across engines/runs, so this engine uses a fixed
batch timestamp — semantically the "load time" of the batch — making every
model a pure function of its inputs (required for the DuckDB oracle gate,
and good practice for reproducible backfills at scale).
"""

# Fixed batch "load" timestamp (stands in for current_timestamp()).
BATCH_TS = "2026-01-01 00:00:00"

# Tables present in every testdata scale-factor directory.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session-gap for event sessionization (seconds) — 30 minutes.
SESSION_GAP_SECONDS = 1800

# MinHash-LSH parameters: 64 permutations, 16 bands x 4 rows.
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # MINHASH_PERMS // LSH_BANDS
MINHASH_JACCARD_THRESHOLD = 0.8

# SimHash: 64-bit, pigeonhole blocking into 4 segments => finds hamming <= 3.
SIMHASH_SEGMENTS = 4
SIMHASH_MAX_HAMMING = 3

# Embedding similarity defaults. The synthetic embeddings have no cluster
# structure (max pairwise cosine ≈ 0.5 — measured), so the near-dup
# threshold is 0.4 to exercise the operator on non-empty output; real
# corpora would use ~0.95.
ANN_TOPK = 5
ANN_N_QUERIES = 10
EMBEDDING_DUP_THRESHOLD_04 = 0.4

# Hard cap on the corpus size the O(n²) brute-force near-dup baseline
# (`dedup_embedding_cosine`) will accept. Above this the operator refuses
# and points at the bucketed scale path (`dedup_embedding_lsh`): an
# uncapped CartesianProduct must not be reachable from the public API at
# 100 TB. 200k rows ≈ 2·10¹⁰ candidate pairs — already the practical
# ceiling for an exact verification run on a large cluster.
EMBEDDING_BRUTE_FORCE_MAX_ROWS = 200_000
