"""Salted fan-out layout: the shared shape behind every bounded
many-to-many scoring stage in the engine (VERDICT r11 ask #6).

The trap this layout exists for (root-caused in SCALE.md round 11):
AQE sizes a stage's layout by its join INPUT bytes, and a
many-to-many join — an IVF cell's vectors × its probing queries, an
LSH bucket's members × themselves — is precisely the operator whose
OUTPUT is orders of magnitude larger than its inputs. At the
2M-vector replica the float ANN arm's 3.21B-pair fan-out inherited a
22-partition AQE-coalesced layout and sorted as 22 single-threaded
~146M-row spilling slabs; no executor count can widen a layout that
is fixed before the fan-out exists.

The fix is value-neutral and comes in one shape with two knobs:

* the BIG side carries ``__salt = crc32(salt_key) % n_salt`` — each
  row lands in exactly one salt bucket;
* the PROBE side replicates to every salt value (probe-sized × salt,
  cheap by construction — the probe side is the small one);
* joining / cogrouping on ``(key..., __salt)`` therefore matches
  every (big, probe) pair EXACTLY ONCE, while the per-group slab
  shrinks to ~1/n_salt — the quant cogroup rule
  (suite/similarity.py, SCALE.md round 9's 2 GB-Arrow-batch fix);
* when the fan-out feeds a JOIN (not a cogroup), the big side is
  additionally repartitioned on ``(key..., __salt)`` with an
  EXPLICIT partition count: ``repartition(n, cols)`` plans as
  REPARTITION_BY_NUM, the one shuffle origin AQE never coalesces,
  so the fan-out and any sort fused after it run ``parts`` wide.
  Cogroups don't need it — ``applyInPandas`` already shuffles on
  the full grouping key.

Adopted call sites, both in ``operators/ivf.py`` (each pinned
value-neutral by tests/test_ann_recall.py / tests/test_fanout.py):
``score_float`` (join + repartition: every ``q_ann_ivf_cosine`` build,
and ``q_rag_retrieval_ivf`` past its probe-broadcast bound) and
``score_e6`` (cogroup: ``q_ann_ivf_quant``,
``q_rag_retrieval_ivf_quant``).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_fanout(
    big: DataFrame,
    probe: DataFrame,
    salt_key: Column,
    n_salt: int,
    parts: int | None = None,
    partition_keys: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Return ``(big_salted, probe_replicated)``, each carrying
    ``__salt``; join or cogroup them on ``(*keys, "__salt")``.

    ``salt_key`` is the STRING column to crc32 on the big side — pass
    the exact expression the value history used (e.g.
    ``F.col("vec_id").cast("string")``,
    ``F.concat_ws("_", "doc_id", "chunk_idx")``) so adopting the
    helper is bit-neutral. ``parts``/``partition_keys`` add the
    REPARTITION_BY_NUM exchange that AQE can never coalesce. Two
    consumer shapes use it (ADVICE r12 — the old guidance predated
    the second): JOIN-shaped fan-outs, where the fused join+sort must
    run ``parts`` wide (module docstring), and COGROUPS, where the
    per-GROUP Python latency is invisible to AQE's byte-based sizing
    — pass ``parts=cogroup_parts(spark)`` there (round 12's fix,
    now in operators.ivf.score_e6). Leave them unset only
    when the downstream layout genuinely doesn't matter."""
    big_s = big.withColumn(
        SALT_COL, (F.crc32(salt_key) % n_salt).cast("int")
    )
    if parts is not None:
        big_s = big_s.repartition(parts, *partition_keys, SALT_COL)
    probe_s = probe.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias(SALT_COL),
    )
    return big_s, probe_s


def fanout_layout(
    est_pairs: float,
    nlist: int,
    target_slab: int = 8_000_000,
    min_salt: int = 4,
    max_salt: int = 64,
    min_parts: int = 32,
    max_parts: int = 2048,
) -> tuple[int, int]:
    """Derive ``(n_salt, parts)`` from an estimated fan-out size
    (VERDICT r11 ask #2 — the 2M-vector point was hand-sized from
    docstring prose; this is that prose as code).

    ``parts`` targets ``target_slab`` fan-out pairs per task
    (parts ≈ est_pairs / target_slab — at the measured ~0.6 µs/pair
    float cost an 8M-pair slab is a ~5 s task, comfortably inside
    straggler tolerance and far below spill size at ~24 B/scored
    row); ``n_salt`` is the power of two that splits the ~nlist hot
    groups into at least that many ``(key, salt)`` slabs, so the
    LARGEST slab stays bounded even under group skew. Floors are the
    r10 fixture defaults (salt 4 / parts 32) so small corpora keep
    the proven fixture layout and plans; ceilings bound the probe
    replication (× salt) and the task count.

    Sanity anchor: at the round-11 2M-vector replica (est pairs
    ≈ 3.1B, nlist 64) this returns (8, 391) — the hand-derived
    salt 8 / parts 256 decade that re-measured 1,993 s cold where
    the unsalted layout DNF'd (SCALE.md round 11); pinned by
    tests/test_fanout.py."""
    est_pairs = max(float(est_pairs), 1.0)
    parts = min(max(min_parts, math.ceil(est_pairs / target_slab)), max_parts)
    ratio = parts / max(nlist, 1)
    salt = 2 ** math.ceil(math.log2(ratio)) if ratio > 1 else 1
    salt = min(max(min_salt, salt), max_salt)
    return salt, parts


def shuffle_width(spark) -> int:
    """The session's configured shuffle width (never below
    ``defaultParallelism``) — the partition count for pinning an
    exchange layout with REPARTITION_BY_NUM where AQE's byte-based
    coalescing would mis-size it: exactly the layout a non-coalesced
    exchange would have had, scale-adaptive through deployment
    configuration rather than a local constant."""
    conf = spark.conf.get("spark.sql.shuffle.partitions", None)
    cores = spark.sparkContext.defaultParallelism
    try:
        return max(cores, int(conf))
    except (TypeError, ValueError):
        return cores


def cogroup_parts(spark) -> int:
    """Partition count for pinning a cogroup's exchange layout
    (round 12). AQE sizes post-shuffle layouts by BYTES, but an
    ``applyInPandas`` cogroup stage's real cost is per-GROUP Python
    latency plus per-row Arrow transfer — invisible to byte-based
    sizing. Measured on the quant RAG serving path at sf0.1: the
    (cent_id, salt) cogroup shuffle is ~2 MB, AQE coalesced it to 2
    partitions, and the 512 Python groups ran serialized on 2 cores —
    2.15 s of a 4.6 s warm wall for what is sub-second work 32-wide.

    Per-group Arrow batch size stays bounded by the SALT knob
    independently of this."""
    return shuffle_width(spark)


def parquet_rows(sf_dir: str, table: str) -> int | None:
    """Row count of a fixture table from parquet FOOTER metadata —
    driver-side, no Spark job, no scan. This is the corpus stat the
    plan-time layout sizing reads (a real deployment would use table
    statistics / catalog row counts the same way). None when the
    footprint isn't readable (layout sizing then falls back to its
    floors)."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isdir(path):
            files = glob.glob(os.path.join(path, "*.parquet"))
            if not files:
                return None
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if os.path.exists(path):
            return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None
    return None
