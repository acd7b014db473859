"""Seeded input generator for the benchmark workloads.

Each workload's inputs are derived from ``--seed`` alone (the same seed
always gives byte-identical parquet files) and written under the run's
work directory, together with the ground truth the output checks use
and the stated input properties. The engine only ever reads the
generated files. The tables keep the fixture schemas (TPC-H-shaped
``lineitem``, the ``documents``/``embeddings`` corpus) so every public
entry point runs unmodified.

Generation uses NumPy and PyArrow only — no Spark — and is cached per
(workload, seed, sizes) on disk; its time is logged, never measured.
"""

from __future__ import annotations

import difflib
import hashlib
import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when a generator changes shape, so stale caches are not reused.
GEN_VERSION = 1

#: The fixture corpus vocabulary (TESTDATA sf0.1 ``documents``).
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

#: Row counts per workload (``generate(scale=...)`` multiplies them).
SIZES = {
    "recon_migrate": {"lineitem": 100_000},
    "curate_corpus": {"docs": 500},
}

#: Share of ``recon_migrate`` rows dropped per side / near-miss edited /
#: really replaced.
MIGRATE_DROP = 0.01
MIGRATE_NEAR = 0.01
MIGRATE_REPLACE = 0.01
#: The threshold the migration validation runs at.
MIGRATE_THRESHOLD = 0.9
#: Spark's default ``spark.sql.autoBroadcastJoinThreshold`` (10 MiB).
BROADCAST_THRESHOLD = 10 * 1024 * 1024


@dataclass
class Inputs:
    """A generated workload: where its files live and its ground truth."""

    workload: str
    seed: int
    root: str
    truth: dict
    gen_s: float


def _rng(workload: str, seed: int) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, tag])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    day0 = np.datetime64("1992-01-01", "D")
    return (day0 + rng.integers(0, 3650, n)).astype("datetime64[us]")


def _sentences(rng: np.random.Generator, lengths: np.ndarray) -> list[str]:
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]


def _ratio(a: str, b: str) -> float:
    # the engine's fuzzy compare: SequenceMatcher(None, db1, db2).ratio()
    return difflib.SequenceMatcher(None, a, b).ratio()


# --- recon_migrate: two large lineitem copies, fuzzy compare ------------


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    # 1..7 lines per order; (l_orderkey, l_linenumber) unique by construction
    per = rng.integers(1, 8, n // 2 + 8)
    per = per[: np.searchsorted(np.cumsum(per), n) + 1]
    order_idx = np.repeat(np.arange(len(per), dtype=np.int64), per)[:n]
    starts = np.repeat(np.cumsum(per) - per, per)[:n]
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    orderkey = order_idx * 4 + np.repeat(rng.integers(0, 4, len(per)), per)[:n]
    perm = rng.permutation(n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": orderkey[perm],
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": linenumber[perm],
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
            "l_shipdate": _dates(rng, n),
            "l_comment": _sentences(rng, rng.integers(5, 9, n)),
        }
    )


def _near_miss(rng: np.random.Generator, text: str) -> str:
    # one character substituted: ratio ≈ 1 - 1/len, far above 0.9
    i = int(rng.integers(0, len(text)))
    c = "xyz"[int(rng.integers(0, 3))]
    return text[:i] + (c if text[i] != c else "q") + text[i + 1 :]


def gen_recon_migrate(rng: np.random.Generator, root: str, sizes: dict) -> dict:
    n = sizes["lineitem"]
    base = _lineitem(rng, n)
    ids = np.char.add(
        np.char.add(base.column("l_orderkey").to_numpy().astype(str), "_"),
        base.column("l_linenumber").to_numpy().astype(str),
    )
    n_drop, n_near, n_repl = (int(n * s) for s in (MIGRATE_DROP, MIGRATE_NEAR, MIGRATE_REPLACE))
    roles = rng.permutation(n)
    drop_a = roles[:n_drop]
    drop_b = roles[n_drop : 2 * n_drop]
    near = roles[2 * n_drop : 2 * n_drop + n_near]
    repl = roles[2 * n_drop + n_near : 2 * n_drop + n_near + n_repl]

    comments_a = base.column("l_comment").to_pylist()
    comments_b = list(comments_a)
    for i in near:
        comments_b[i] = _near_miss(rng, comments_a[i])
        if _ratio(comments_a[i], comments_b[i]) < MIGRATE_THRESHOLD:
            raise ValueError(f"near-miss edit of row {i} falls below the threshold")
    repl_text = _sentences(rng, rng.integers(5, 9, len(repl)))
    for j, i in enumerate(repl):
        # a different sentence; redraw the rare one that reads as a near-miss
        text = repl_text[j]
        while text == comments_a[i] or _ratio(comments_a[i], text) >= MIGRATE_THRESHOLD:
            text = _sentences(rng, rng.integers(5, 9, 1))[0]
        comments_b[i] = text

    keep_a = np.ones(n, bool)
    keep_a[drop_a] = False
    keep_b = np.ones(n, bool)
    keep_b[drop_b] = False
    side_a = base.filter(pa.array(keep_a))
    side_b = base.set_column(
        base.schema.get_field_index("l_comment"), "l_comment", pa.array(comments_b)
    ).filter(pa.array(keep_b))
    _write(side_a, os.path.join(root, "src", "lineitem.parquet"))
    _write(side_b, os.path.join(root, "tgt", "lineitem.parquet"))
    sizes_b = [os.path.getsize(os.path.join(root, s, "lineitem.parquet")) for s in ("src", "tgt")]
    return {
        # db1 = src (side a), db2 = tgt (side b)
        "missing_in_src": {"count": n_drop, "ids": sorted(ids[drop_a].tolist())},
        "missing_in_tgt": {"count": n_drop, "ids": sorted(ids[drop_b].tolist())},
        "differing": {"count": n_repl, "ids": sorted(ids[repl].tolist())},
        "near_misses": sorted(ids[near].tolist()),
        "properties": {
            "rows": {"src": int(keep_a.sum()), "tgt": int(keep_b.sum())},
            "duplicate_id_share": 0.0,
            "differing_share": n_repl / n,
            "near_miss_share": n_near / n,
            "build_side_bytes": min(sizes_b),
            "broadcast_expected": min(sizes_b) < BROADCAST_THRESHOLD,
        },
    }


# --- corpus: documents + embeddings with injected duplicates ------------


def gen_corpus(rng: np.random.Generator, root: str, sizes: dict) -> dict:
    """``documents`` + aligned ``embeddings`` (``vec_id == doc_id``).

    About 2% of the docs are exact copies of an earlier doc (groups of
    two or three, the fixture's ``... dup`` convention) and 2% are
    near copies (one word replaced), each copy carrying its
    original's embedding (near copies with a small perturbation)."""
    n = sizes["docs"]
    n_exact_groups = n // 100
    n_near = n // 50
    lengths = rng.integers(8, 100, n)
    texts = _sentences(rng, lengths)
    order = rng.permutation(n)
    exact_groups: list[list[int]] = []
    pos = 0
    for _ in range(n_exact_groups):
        size = int(rng.integers(2, 4))
        group = sorted(int(x) for x in order[pos : pos + size])
        pos += size
        texts[group[0]] = texts[group[0]] + " dup"
        for d in group[1:]:
            texts[d] = texts[group[0]]
        exact_groups.append(group)
    near_pairs: list[list[int]] = []
    for _ in range(n_near):
        a, b = (int(x) for x in order[pos : pos + 2])
        pos += 2
        words = texts[a].split()
        words[int(rng.integers(0, len(words)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
        texts[b] = " ".join(words)
        near_pairs.append([a, b])

    emb = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    for group in exact_groups:
        emb[group[1:]] = emb[group[0]]
    for a, b in near_pairs:
        emb[b] = emb[a] + 0.05 * rng.standard_normal(EMB_DIM).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)

    doc_ids = np.arange(n, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": np.char.add("src", (doc_ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": doc_ids,
            "embedding": pa.FixedSizeListArray.from_arrays(emb.reshape(-1), EMB_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    _write(docs, os.path.join(root, "corpus", "documents.parquet"))
    _write(embeddings, os.path.join(root, "corpus", "embeddings.parquet"))
    return {
        "exact_dup_groups": exact_groups,
        "near_dup_pairs": near_pairs,
        "properties": {
            "rows": {"documents": n, "embeddings": n},
            "duplicate_doc_share": (sum(len(g) - 1 for g in exact_groups) + n_near) / n,
            "vec_id_eq_doc_id": True,
        },
    }


GENERATORS = {
    "recon_migrate": gen_recon_migrate,
    "curate_corpus": gen_corpus,
}


def generate(workload: str, seed: int, work_dir: str, scale: float = 1.0) -> Inputs:
    """Generate (or reuse the cached) inputs of ``workload`` at ``seed``."""
    sizes = {k: max(1, int(v * scale)) for k, v in SIZES[workload].items()}
    tag = f"{workload}-s{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    root = os.path.join(work_dir, "inputs", f"v{GEN_VERSION}", tag)
    truth_path = os.path.join(root, "truth.json")
    t0 = time.perf_counter()
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            truth = json.load(f)
    else:
        truth = GENERATORS[workload](_rng(workload, seed), root, sizes)
        truth["sizes"] = sizes
        tmp = truth_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(truth, f)
        os.replace(tmp, truth_path)
    return Inputs(workload, seed, root, truth, time.perf_counter() - t0)
