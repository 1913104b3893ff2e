"""Candidate-pair generation: the cascade's Stage 1, as band self-joins.

Reference analog: the per-query coarse filter `WHERE list_has_any(lsh_chunks,
query_chunks)` (/root/reference/src/db.py:148-169) asks "which docs share a
band with THIS query". The all-pairs formulation asks it for every doc at
once: self-join the exploded band table on (tier, band_id, band_key) with
id_a < id_b. The reference's min-match counting knob (DF-LSH band_filter,
/root/reference/src/dflsh.py:187-197,373-383) becomes groupBy(pair).count >= m.

`bucket_pairs` is the ONE banded join: the MinHash tiers, the SimHash pass,
the winnow-fingerprint overlap candidates, the E2LSH tables, media dedup and
the streaming sink's index probe (its `indexed=` form) all call it and
differ only in the bucket key, the carried columns and the reduction.

Cascade semantics (mirrors the 3-stage search, src/pipeline.py:68-119):
  tier 0 (coarse bands, few rows/band, high recall) generates pairs over the
  whole corpus; tier 1 (tight bands) is computed ONLY for docs that survived
  tier 0 (left-semi join), and its min-match count prunes the candidate set
  before the expensive exact-Jaccard verify. Deduplicating pairs across bands
  *before* verification is the one barrier worth paying (the reference dedups
  its candidate set the same way, src/e2lsh.py:292-307).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bands import BUCKET


def bucket_pairs(rows: DataFrame, key: list[str] = BUCKET, carry=(),
                 indexed: DataFrame | None = None) -> DataFrame:
    """The banded join every candidate pass calls: docs sharing a bucket
    `key` become pairs. rows(*key, doc_id, *carry) -> one row per (shared
    bucket, doc pair): (id_a, id_b) with id_a < id_b plus {c}_a / {c}_b for
    each carried column. NOT deduplicated — a pair sharing m buckets yields
    m rows, and each caller reduces them its own way (distinct, a per-pair
    count, the overlap seed aggregate).

    `indexed`: the bucket rows of an existing index. `rows` then holds only
    the NEW docs, and the output is new x new (the self-join) plus new x
    indexed, oriented by least/greatest with the carried columns swapped to
    match; a doc present on both sides (a re-delivered conversation) never
    pairs with itself. The index is only ever a join build side, so
    indexed x indexed rows — pairs an earlier call already emitted — are
    never produced. With no index this is the batch self-join."""
    key = list(key)

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(*key, F.col("doc_id").alias(f"id_{s}"),
                         *[F.col(c).alias(f"{c}_{s}") for c in carry])

    cols = ["id_a", "id_b"] + [f"{c}_{s}" for s in "ab" for c in carry]
    out = (
        side(rows, "a").join(side(rows, "b"), key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*cols)
    )
    if indexed is None:
        return out
    new_first = F.col("id_n") < F.col("id_i")
    probe = (
        side(rows, "n").join(side(indexed, "i"), key)
        .filter(F.col("id_n") != F.col("id_i"))
        .select(
            F.least("id_n", "id_i").alias("id_a"),
            F.greatest("id_n", "id_i").alias("id_b"),
            *[F.when(new_first, F.col(f"{c}_n")).otherwise(F.col(f"{c}_i"))
              .alias(f"{c}_a") for c in carry],
            *[F.when(new_first, F.col(f"{c}_i")).otherwise(F.col(f"{c}_n"))
              .alias(f"{c}_b") for c in carry],
        )
    )
    return out.unionByName(probe)


def pairs_from_bands(bands: DataFrame,
                     indexed: DataFrame | None = None) -> DataFrame:
    """(doc_id, tier, band_id, band_key) -> distinct (id_a, id_b) with
    id_a < id_b: the band join, deduplicated across bands. The join
    shuffles both sides on the band key — this is the pipeline's dominant
    shuffle. `indexed`: an existing index's band rows, probed by `bands`
    (see bucket_pairs)."""
    return bucket_pairs(bands, indexed=indexed).select("id_a", "id_b").distinct()


def pairs_with_min_match(bands: DataFrame, min_match: int) -> DataFrame:
    """Min-match band counting (src/dflsh.py:187-197): keep a pair only if it
    collides in >= min_match bands. min_match <= 1 degenerates to the plain
    OR-semantics band join (no counting aggregate needed)."""
    if min_match <= 1:
        return pairs_from_bands(bands).withColumn("n_bands", F.lit(None).cast("long"))
    return (
        bucket_pairs(bands)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
        .filter(F.col("n_bands") >= min_match)
    )


def survivors(pairs: DataFrame) -> DataFrame:
    """Doc ids appearing in any candidate pair — the semi-join input that
    gates the next (tighter) cascade tier, mirroring how the reference's
    Stage 2 only touches Stage-1 survivors (src/pipeline.py:91-97).
    NOT deduplicated: the only consumer is a left-semi join, which tolerates
    duplicates — a distinct here would add a full extra shuffle of the pair
    ids purely to shrink the semi-join's build side."""
    return pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    )


def tag_exact_duplicates(
    docs_with_fp: DataFrame, fp_col: str = "fingerprint", id_col: str = "doc_id"
) -> DataFrame:
    """ONE window pass: adds ``_root`` = min id of the row's fingerprint
    group. Materialize THIS table once, then split into representatives
    (id == _root) and star edges (id != _root) with two cheap filters —
    r1 ran the window twice by materializing reps and edges separately."""
    w = Window.partitionBy(fp_col)
    return docs_with_fp.withColumn("_root", F.min(id_col).over(w))


def split_exact_duplicates(
    tagged: DataFrame, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(representatives, star_edges) from a tag_exact_duplicates output."""
    reps = tagged.filter(F.col(id_col) == F.col("_root")).drop("_root")
    star = (
        tagged.filter(F.col(id_col) != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return reps, star

