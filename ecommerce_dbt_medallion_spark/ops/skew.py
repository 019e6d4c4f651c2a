"""Skew-resilient join utility — the manual fallback for when AQE's
skew-join splitting isn't available (e.g. broadcast-disabled SMJ on a
pathologically hot key at 100 TB).

``salted_join`` scatters the probe side across SALT sub-keys per join
key and replicates the build side SALT ways, so the equi-join on
(key, salt) spreads a hot key over SALT reducers at the cost of
replicating the (small-ish) build side.

The salt must vary PER ROW, not per key: a salt derived from the join
key alone maps every row of the hot key to the same sub-key and changes
nothing. Default is a seeded uniform rand (deterministic per partition
seed); pass ``probe_salt_col`` (any high-cardinality row expression,
e.g. an id column) for fully deterministic scattering.

Measured on this box (bench_skew.py: 16M-row probe, 75% of rows on one
key, 50k-key build side, broadcast disabled, per-row sha2 in the join
stage; 3 runs, local[32]): unsalted SMJ with AQE skew-split disabled
21-32 s (one straggler reducer owns 75% of the work), AQE skew-split on
15-108 s (erratic: the ~300 MB hot block sits at AQE's 256 MB split
threshold, and the split follows shuffle-block bytes, not the post-join
CPU cost), salted_join 5.6-9.8 s with AQE off. Plan-time salting both
beats and out-stabilizes runtime splitting here because it spreads the
downstream per-row work too, and it is the only path when AQE can't
split (e.g. the skewed side feeds a window/aggregate AQE won't
rewrite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salt_probe(
    probe: DataFrame,
    salt: int = DEFAULT_SALT,
    probe_salt_col: Column | None = None,
) -> DataFrame:
    """Attach the per-row ``__salt`` in [0, salt) to the probe side."""
    if probe_salt_col is not None:
        sc = F.pmod(F.hash(probe_salt_col), F.lit(salt)).cast("int")
    else:
        sc = F.floor(F.rand(42) * salt).cast("int")
    return probe.withColumn("__salt", sc)


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt: int = DEFAULT_SALT,
    probe_salt_col: Column | None = None,
) -> DataFrame:
    """Equi-join ``probe ⋈ build`` on ``key`` with salt-scattering.

    Result is row-identical to the inner ``probe.join(build, key)``
    (build side must be unique-ish per key or the usual join
    multiplicity applies, exactly as in the plain join).
    """
    salted_probe = salt_probe(probe, salt, probe_salt_col)
    salted_build = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return salted_probe.join(salted_build, [key, "__salt"]).drop("__salt")
