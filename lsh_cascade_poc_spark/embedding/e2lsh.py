"""E2LSH: p-stable (Gaussian) LSH for Euclidean distance (H12/H13/H14, F3).

Reference parity:
  - E2LSHHasher.hash_batch_all_tables  /root/reference/src/e2lsh.py:75-147
    (floor((a.v + b) / w) per k functions x L tables)
  - multiprobe keys                    /root/reference/src/e2lsh.py:176-221
  - E2LSHIndex.query                   /root/reference/src/e2lsh.py:266-319
  - collision probability              /root/reference/src/e2lsh.py:383-405

The L dict hash tables become one exploded DataFrame
(table_id, bucket_key, vec_id) joined on (table_id, bucket_key) — the same
shuffle-join layout as MinHash bands. Bucket tuples (k ints) are reduced to
one int64 key by hashing lane-wise with xxhash64 JVM-side after the UDF
emits the raw (L, k) int buckets.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.pairs import bucket_pairs


@dataclass
class E2LSHParams:
    a: np.ndarray   # (L, k, dim) float32
    b: np.ndarray   # (L, k) float32
    w: float

    @property
    def n_tables(self) -> int:
        return self.a.shape[0]

    @property
    def k(self) -> int:
        return self.a.shape[1]


def make_e2lsh_params(dim: int, k: int, n_tables: int, w: float, seed: int = 42) -> E2LSHParams:
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((n_tables, k, dim)).astype(np.float32)
    b = (rng.random((n_tables, k)) * w).astype(np.float32)
    return E2LSHParams(a=a, b=b, w=float(w))


def e2lsh_buckets_numpy(vectors: np.ndarray, params: E2LSHParams) -> np.ndarray:
    """(n, dim) -> (n, L, k) int32 bucket ids."""
    n = vectors.shape[0]
    av = np.einsum("lkd,nd->nlk", params.a, vectors.astype(np.float32))
    return np.floor((av + params.b[None, :, :]) / params.w).astype(np.int32)


def make_e2lsh_udf(params: E2LSHParams):
    """pandas_udf: array<float> -> array<array<int>> (L tables x k ints)."""
    a, b, w = params.a, params.b, params.w

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.IntegerType())))
    def e2lsh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        p = E2LSHParams(a=a, b=b, w=w)
        for s in it:
            x = np.stack([np.asarray(v, dtype=np.float32) for v in s])
            buckets = e2lsh_buckets_numpy(x, p)
            yield pd.Series([[list(map(int, tbl)) for tbl in row] for row in buckets])

    return e2lsh


# fixed-point scale (1e-6 grid) for the cross-engine-exact E2LSH variant
E2LSH_QUANT_SCALE = 1_000_000


def _quantize_fixed(x: np.ndarray, scale: int) -> np.ndarray:
    """Round-half-up fixed-point image of x: floor(x * scale + 0.5) — chosen
    over rint because floor() has identical semantics in numpy and in SQL
    engines, while rint's half-to-even disagrees with SQL round()."""
    return np.floor(x.astype(np.float64) * scale + 0.5).astype(np.int64)


def quantize_e2lsh_params(
    params: E2LSHParams, scale: int = E2LSH_QUANT_SCALE
) -> tuple[np.ndarray, np.ndarray, int]:
    """(qa, qb, qw): fixed-point images of (a, b, w) on the 1/scale grid."""
    qa = _quantize_fixed(params.a, scale)
    qb = _quantize_fixed(params.b, scale)
    qw = int(np.floor(params.w * scale + 0.5))
    assert qw > 0, "w must be positive"
    return qa, qb, qw


def e2lsh_buckets_quantized_numpy(
    vectors: np.ndarray, qa: np.ndarray, qb: np.ndarray, qw: int,
    scale: int = E2LSH_QUANT_SCALE,
) -> np.ndarray:
    """(n, dim) float -> (n, L, k) int32 buckets in EXACT int64 arithmetic:

        bucket = floor((<a,x> + b) / w)  on the 1/scale quantized grid
               = floordiv(<qa,qx> + qb*scale, qw*scale)

    Every step is order-insensitive integer math, so the bucket ids are
    bit-identical in ANY engine with 64-bit integers — the property the
    float32 kernel fundamentally lacks (its dot-accumulation order decides
    boundary floors; VERDICT r4 #4). Magnitude budget: |qa| <= ~6e6 for
    N(0,1) projections, |qx| <= scale * max|x| — int64 holds the dot for
    dim * 6e6 * scale * max|x| < 9.2e18, i.e. max|x| < ~23 at dim=64."""
    qx = _quantize_fixed(vectors, scale)
    dot = np.einsum("lkd,nd->nlk", qa, qx)
    num = dot + qb[None, :, :] * scale
    return np.floor_divide(num, qw * scale).astype(np.int32)


def make_e2lsh_quantized_udf(params: E2LSHParams, scale: int = E2LSH_QUANT_SCALE):
    """pandas_udf: array<float> -> array<array<int>> — the quantized kernel
    in the SAME Arrow-batch shape as make_e2lsh_udf (drop-in for the
    explode/join path)."""
    qa, qb, qw = quantize_e2lsh_params(params, scale)

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.IntegerType())))
    def e2lsh_q(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            x = np.stack([np.asarray(v, dtype=np.float32) for v in s])
            buckets = e2lsh_buckets_quantized_numpy(x, qa, qb, qw, scale)
            yield pd.Series(
                [[list(map(int, tbl)) for tbl in row] for row in buckets]
            )

    return e2lsh_q


def explode_e2lsh_buckets(df: DataFrame, buckets_col: str, id_col: str = "vec_id") -> DataFrame:
    """-> (id, table_id, bucket_key:int64) — the reference's L dict tables as
    one exploded relation; bucket tuple hashed to a single join key JVM-side."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.col(buckets_col)).alias("table_id", "bucket"),
    ).select(
        F.col(id_col),
        "table_id",
        F.xxhash64("table_id", "bucket").alias("bucket_key"),
    )


def e2lsh_candidate_pairs(bucket_table: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """F3 all-pairs form: ids sharing any (table, bucket) — the band join
    (operators/pairs.py bucket_pairs) keyed by table and bucket."""
    key = ["table_id", "bucket_key"]
    rows = bucket_table.select(*key, F.col(id_col).alias("doc_id"))
    return bucket_pairs(rows, key=key).select("id_a", "id_b").distinct()


def _probe_deltas(k: int, n_probes: int) -> list[tuple[int, int]]:
    """(delta, coord) perturbation order shared by the numpy reference and the
    Spark probe expansion: COORDINATE-major, -1 then +1 per coordinate, capped
    — the reference's generate_multiprobe_keys order
    (/root/reference/src/e2lsh.py:197-205), so a capped probe set (n_probes <
    2k) selects the same perturbations the reference would."""
    out: list[tuple[int, int]] = []
    for i in range(k):
        for delta in (-1, 1):
            if len(out) >= n_probes:
                return out
            out.append((delta, i))
    return out


def explode_e2lsh_probe_buckets(
    df: DataFrame, buckets_col: str, k: int, n_probes: int, id_col: str = "vec_id"
) -> DataFrame:
    """H13 query-side multiprobe: -> (id, table_id, bucket_key) where each
    table contributes its base bucket PLUS `n_probes` ±1 coordinate
    perturbations (multiprobe_buckets_numpy order — reference
    src/e2lsh.py:176-221, wired into the bucket join like query :266-319).
    Probing is query-side only; the doc index stays explode_e2lsh_buckets."""
    tbl = df.select(
        F.col(id_col), F.posexplode(F.col(buckets_col)).alias("table_id", "bucket")
    )
    def _perturb(delta: int, coord: int):
        # factory closure: pyspark inspects the lambda's arity, so the
        # captured (delta, coord) must not appear as parameters
        return F.transform(
            "bucket", lambda x, i: F.when(i == coord, x + delta).otherwise(x)
        )

    variants = [F.col("bucket")]
    for delta, coord in _probe_deltas(k, n_probes):
        variants.append(_perturb(delta, coord))
    return (
        tbl.select(id_col, "table_id", F.explode(F.array(*variants)).alias("bucket"))
        .select(
            F.col(id_col), "table_id",
            F.xxhash64("table_id", "bucket").alias("bucket_key"),
        )
        .distinct()
    )


def e2lsh_query_candidates(
    doc_buckets: DataFrame, query_probes: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """F3+H13: docs sharing any probed (table, bucket) with a query ->
    distinct (query_id, doc_id). Query side is broadcast (bounded probes)."""
    q = query_probes.withColumnRenamed(id_col, "query_id")
    return (
        doc_buckets.join(F.broadcast(q), ["table_id", "bucket_key"])
        .select("query_id", F.col(id_col).alias("doc_id"))
        .filter(F.col("query_id") != F.col("doc_id"))
        .distinct()
    )


def multiprobe_buckets_numpy(bucket: np.ndarray, n_probes: int) -> list[np.ndarray]:
    """H13: ±1 perturbations of a (k,) bucket tuple in the reference's
    coordinate-major (-1, +1 per coordinate) order, capped at n_probes
    (excluding the base bucket; the reference counts the base against its
    max_perturbations cap — callers converting reference caps subtract 1)."""
    probes = []
    for delta, i in _probe_deltas(bucket.shape[0], n_probes):
        p = bucket.copy()
        p[i] += delta
        probes.append(p)
    return probes


def save_e2lsh_params(params: E2LSHParams, path: str) -> None:
    """S10 analog for E2LSH (reference persists its tables via the DFLSH
    save path, src/dflsh.py:264-289)."""
    np.savez(path, a=params.a, b=params.b, w=np.float64(params.w))


def load_e2lsh_params(path: str) -> E2LSHParams:
    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return E2LSHParams(a=z["a"], b=z["b"], w=float(z["w"]))


def e2lsh_collision_prob(dist: float, w: float) -> float:
    """H14: the analytic first-order collision probability max(0, 1 - d/w)
    used for parameter tuning (reference's simplified form)."""
    return max(0.0, 1.0 - dist / w) if w > 0 else 0.0
