"""Seeded inputs for the benchmark workloads.

Every input derives from the benchmark's ``--seed`` only, and the engine sees
nothing but the parquet written here: the engine's planted-family corpus
(``datagen.transcripts.generate_corpus``, the same shape as
``generate_corpus_distributed``): duplicate families for 30% of base
conversations, boilerplate turns (25%), 2-10 turns per conversation.

* ``batch_planted`` runs ``run_dedup`` over the whole corpus.
* ``stream_append`` feeds the corpus to ``IncrementalDedup.process_batch`` in
  ``STREAM_BATCHES`` micro-batches of whole conversations, split by
  ``xxhash64(conv_id)`` as ``tools/stream_bench.py`` does (``micro_batches``).

Corpora are written without Spark, in the benchmark's own process, so that
writing one warms no JVM that is later measured. They are cached by
workload size and seed.
"""

from __future__ import annotations

import os

# base conversations per corpus; ~9.8 turns per base conversation
N_BASE = {"batch_planted": 3600, "stream_append": 1200}
DUP_FRACTION = 0.3

STREAM_BATCHES = 3
# compaction folds the index after batches 1, 3, ...: inside the measure
# window, and after the warm-up stream's second batch too
STREAM_COMPACT_EVERY = 2


def ensure_corpus(cache_dir: str, workload: str, seed: int) -> str:
    """Write the workload's corpus unless cached; return its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lsh_cascade_poc_spark.datagen.transcripts import generate_corpus

    n_base = N_BASE[workload]
    path = os.path.join(cache_dir, f"planted_n{n_base}_seed{seed}.parquet")
    if os.path.exists(path):
        return path
    turns = generate_corpus(n_base=n_base, dup_fraction=DUP_FRACTION,
                            seed=seed).turns
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(pa.Table.from_pandas(turns, schema=schema,
                                        preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def micro_batches(turns, n: int) -> list:
    """turns -> n DataFrames of whole conversations, each materialized so
    that carving the batch is not part of its measured latency."""
    from pyspark.sql import functions as F

    return [turns.filter(F.pmod(F.xxhash64("conv_id"), F.lit(n)) == b)
            .localCheckpoint(eager=True) for b in range(n)]


def warm_slice(turns):
    """About a tenth of the conversations, picked by a salted hash so that
    the slice cuts across the measured micro-batches. Warm-up runs on it:
    the one-time costs of a fresh JVM and its Python workers (code
    generation, JIT, worker start) hardly depend on the input's size."""
    from pyspark.sql import functions as F

    return turns.filter(F.pmod(F.xxhash64("conv_id", F.lit(7)), F.lit(10)) == 0)
