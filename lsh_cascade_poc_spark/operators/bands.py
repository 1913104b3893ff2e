"""LSH banding: signatures -> exploded (tier, band_id, band_key, doc_id) rows.

Reference analog: chunk_hash splits the 128-bit fingerprint into k prefixed
tokens (/root/reference/src/lsh.py:266-304) stored as an array column and
matched with `list_has_any` (src/db.py:148-169); the designed segment index
explodes them into a side table (CASCADE_SEARCH_DESIGN.md:57-66). At Spark
scale the *only* sane layout is the exploded form: the band table is the join
input, repartitioned on the band key, and the "c{i}_ prefix" trick becomes the
band_id column participating in the join key.

Band keys are computed JVM-side: xxhash64(tier, band_id, slice(signature)) —
Spark's xxhash64 hashes array elements recursively, so no Python is involved
after the signature UDF.

Hot-band capping: a band key shared by m docs yields m(m-1)/2 pairs; one
boilerplate bucket with 10^6 docs is 5*10^11 pairs. AQE splits skewed
partitions but cannot fix a single quadratic key (SURVEY.md §4 item 2), so
buckets above `hot_band_cap` are dropped and *recorded* (count + sample) in
the stage metrics; recall for such boilerplate is recovered by the exact
fingerprint (md5) pass which groups identical docs without pair explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.simhash import simhash_band_key


def band_keys_column(sig_col: str, tier: int, n_bands: int,
                     rows_per_band: int) -> F.Column:
    """array<long> of n_bands keys; band b = xxhash64(tier, b, lanes[b*r : b*r+r])."""
    keys = [
        F.xxhash64(
            F.lit(tier),
            F.lit(b),
            F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
        )
        for b in range(n_bands)
    ]
    return F.array(*keys)


def explode_bands(
    signatures: DataFrame,
    sig_col: str,
    tier: int,
    n_bands: int,
    rows_per_band: int,
) -> DataFrame:
    """-> (doc_id, tier, band_id, band_key). posexplode keeps the band index,
    mirroring the segment_id column of the reference's segment index."""
    return (
        signatures.select(
            "doc_id",
            F.posexplode(
                band_keys_column(sig_col, tier, n_bands, rows_per_band)
            ).alias("band_id", "band_key"),
        )
        .withColumn("tier", F.lit(tier))
    )


def explode_simhash_bands(signatures: DataFrame, n_bands: int,
                          band_bits: int) -> DataFrame:
    """(doc_id, simhash) -> (doc_id, simhash, band_id, band_key): one row
    per `band_bits`-bit chunk of the SimHash (chunk_hash analog). The text
    pipeline's SimHash pass and media dedup both band through this."""
    return signatures.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            simhash_band_key(F.col("simhash"), i, band_bits)
            for i in range(n_bands)
        ])).alias("band_id", "band_key"),
    )


# a band bucket: the key every band join and every bucket count uses
BUCKET = ["tier", "band_id", "band_key"]


def bucket_sizes(bands: DataFrame) -> DataFrame:
    """(tier, band_id, band_key, n_docs): rows per band bucket."""
    return bands.groupBy(*BUCKET).agg(F.count(F.lit(1)).alias("n_docs"))


def band_index_stats(bands: DataFrame) -> DataFrame:
    """A6: one-row stats of a band/segment index — row count, distinct
    buckets, max/mean bucket size (the reference's get_stats +
    query_with_stats counters, src/cascade_search.py:292-299,
    src/e2lsh.py:321-369, as ONE aggregate instead of per-query dicts)."""
    return bucket_sizes(bands).agg(
        F.sum("n_docs").alias("n_rows"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n_docs").alias("max_bucket"),
        F.avg("n_docs").alias("mean_bucket"),
    )


def is_hot(cap: int) -> F.Column:
    """The hot-bucket rule over a bucket_sizes table: a bucket holding more
    than `cap` docs is dropped before any pair join and recorded. The band
    tiers (pairable_bands), the streaming index cap and the overlap
    fingerprint gate (operators/suffix.py _shared_fp_gate) all apply this
    one predicate."""
    return F.col("n_docs") > cap


def drop_hot(bands: DataFrame, hot: DataFrame) -> DataFrame:
    """Band rows whose bucket is not in `hot`.

    Hot keys are OUTLIER buckets, so the anti-join build side is normally
    tiny — but its COUNT is bounded only by rows/cap, so a forced
    F.broadcast hint would be an unbounded driver collect on a
    boilerplate-heavy corpus (millions of distinct over-cap keys at
    warehouse scale). The hot side sits directly below an aggregation
    (= an AQE query-stage boundary), so AQE sees its ACTUAL size at
    runtime and converts the anti-join to broadcast whenever it is under
    the threshold; adversarial hot sets degrade to a shuffle join instead
    of an OOM."""
    return bands.join(hot.select(*BUCKET), BUCKET, "left_anti")


# Broadcast cap for a bucket GATE set (the pairable band buckets, the
# shared overlap fingerprints): below this row count the gate join
# broadcasts, above it it stays a shuffle join. Why not the session-wide AQE
# threshold: that was deliberately lowered to 8MB after mid-size TEXT
# relations stalled the driver (session.py rationale) — gate sets are the
# one relation class where a bigger broadcast measurably pays (r5 A/B on
# the 19.6M-fp bench corpus, interleaved draws: broadcast 25.1-30.6s vs
# shuffle-gate 35.8-66.3s vs shuffle_hash-hint 30.1-60.2s, identical
# 309,711 output rows). Scale: gate sets grow with the corpus, so at the
# 100TB design point the count exceeds this cap and the join falls back to
# a shuffle on its own — the broadcast is an optimization the runtime size
# decides, never an assumption.
GATE_BROADCAST_MAX = 8_000_000


def size_gated_broadcast(gate: DataFrame) -> DataFrame:
    """`gate`, broadcast iff it has at most GATE_BROADCAST_MAX rows. The
    count is an eager job: persist `gate` (or the aggregate it filters)
    first, so the join reuses what the count computed."""
    return F.broadcast(gate) if gate.count() <= GATE_BROADCAST_MAX else gate


def pairable_bands(
    bands: DataFrame, cap: int,
    persist_registry: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the band table into (pairable, dropped_bucket_stats) where
    pairable = rows whose bucket holds 2 or more docs and is not hot.

    Built for SELF-JOIN consumers: a singleton bucket can never produce a
    pair, and at this corpus shape most buckets are singletons, so the
    self-join's sort/probe input shrinks several-fold (measured on the
    3.84M-turn bench corpus, local[4], interleaved draws: the full
    coarse+tight minhash candidate stage fell from 23.1-32.0s to 6.7-9.3s
    with identical 121,724 output pairs). Do NOT use it for band tables that feed a persistent INDEX —
    the streaming index must keep singleton buckets, because a future
    batch's doc may collide with them (the stream applies is_hot and
    drop_hot itself, over index and batch combined).

    The gate set is counted and broadcast iff small; past
    GATE_BROADCAST_MAX rows it degrades to a shuffle join — the
    100TB-safe fallback. The count action is cheap only when `bands`
    derives from a MATERIALIZED table (explode over the signatures
    checkpoint) — don't feed it an expensive lazy plan."""
    counts = bucket_sizes(bands).persist()
    if persist_registry is not None:
        persist_registry.append(counts)
    hot = counts.filter(is_hot(cap))
    pairable = counts.filter(
        (F.col("n_docs") >= 2) & ~is_hot(cap)
    ).select(*BUCKET)
    return bands.join(size_gated_broadcast(pairable), BUCKET), hot
