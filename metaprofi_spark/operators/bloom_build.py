"""Bloom-filter matrix build — the A1 aggregation of SURVEY.md §2.4.

Semantics preserved from the reference's fused Cython build loop
(/root/reference/metaprofi/lib/bloomfilter_cython.pyx:63-200): every
k-gram of every text of a sample sets h bits (seeds 0..h-1, position =
mmh2_64 % m, little-endian packed); inserts are idempotent ORs.

Spark-first execution, NOT the reference's shared-memory fan-out:

* ``build_matrix`` — sample == row (the reference's sequence-level mode,
  zarrstore_seq.py:34-46).  This is a pure **map**: each row's filter is
  computed from that row alone inside ``mapInPandas``, so the build has
  ZERO shuffles and scales linearly with input splits.
* ``build_matrix_grouped`` — sample == group of rows (file-level mode,
  zarrstore.py:37-48).  Spark's ``applyInPandas`` would shuffle raw text;
  instead we do an explicit partial+final aggregation: a map stage folds
  each task's rows into per-(group, chunk) partial bitmaps (the map-side
  combine Catalyst can't inject into a pandas UDAF), and only those small
  packed bitmaps are shuffled for the final OR-merge.

Filters wider than ``cfg.chunk_bits`` are stored as independent chunks
(`chunk_id = position // chunk_bits`), and all-zero chunks are never
materialized — the m-dimension chunking that replaces the reference's
memory-budgeted planner (utilities.py:131-179) and keeps a single task's
state bounded even at m=4e10 (a 5 GB filter in the reference's Tara
config).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from metaprofi_spark.config import SketchConfig
from metaprofi_spark.kernels import or_reduce, set_bits, shingle_positions

MATRIX_SCHEMA = "sample_idx long, chunk_id int, bf binary"
GROUPED_SCHEMA = "group_key string, chunk_id int, bf binary"


def _positions(texts, cfg: SketchConfig):
    """Fused shingle+hash for one Arrow batch -> flat (doc, chunk, offset)."""
    doc_idx, pos = shingle_positions(texts, cfg.k, cfg.seeds, cfg.m_padded, cfg.normalize)
    if len(doc_idx) == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e, np.empty(0, dtype=np.uint64)
    flat_doc = np.repeat(doc_idx, len(cfg.seeds))
    flat_pos = pos.reshape(-1)
    chunk = (flat_pos // np.uint64(cfg.chunk_bits)).astype(np.int64)
    offset = flat_pos % np.uint64(cfg.chunk_bits)
    return flat_doc, chunk, offset


def _doc_bit_runs(texts, cfg: SketchConfig):
    """Fused shingle+hash for one Arrow batch, as one bit run per doc.

    Returns ``(docs, flat, starts, ends)``: ``docs`` are the batch row
    indices with at least one window, and doc ``docs[i]``'s bit
    positions are ``flat[starts[i]:ends[i]]``.  The kernel emits windows
    grouped by doc, so run bounds come from per-doc counts, not a sort.
    """
    doc_idx, pos = shingle_positions(texts, cfg.k, cfg.seeds, cfg.m_padded, cfg.normalize)
    counts = np.bincount(doc_idx, minlength=len(texts)) * len(cfg.seeds)
    docs = np.nonzero(counts)[0]
    ends = np.cumsum(counts[docs])
    return docs, pos.reshape(-1), ends - counts[docs], ends


def _runs(primary: np.ndarray, secondary: np.ndarray):
    """Sort by (primary, secondary) and yield run boundaries."""
    order = np.lexsort((secondary, primary))
    p, s = primary[order], secondary[order]
    if len(p) == 0:
        return p, s, order, np.empty(0, np.int64), np.empty(0, np.int64)
    change = np.nonzero((p[1:] != p[:-1]) | (s[1:] != s[:-1]))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(p)]))
    return p, s, order, starts, ends


def build_matrix(
    df: DataFrame,
    cfg: SketchConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One Bloom filter per row -> DataFrame(sample_idx, chunk_id, bf).

    Map-only: no shuffle.  ``id_col`` must be a dense non-negative long
    (use :func:`densify_samples` otherwise).
    """
    chunk_bytes = cfg.chunk_bytes

    single_chunk = cfg.n_chunks == 1

    def fn(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            texts = pdf[text_col].tolist()
            if single_chunk:
                # fast path: no chunk dimension => no lexsort at all
                nzdocs, off_sorted, run_starts, run_ends = _doc_bit_runs(texts, cfg)
                out_id = ids[nzdocs].astype(np.int64)
                out_chunk = np.zeros(len(nzdocs), dtype=np.int32)
            else:
                flat_doc, chunk, offset = _positions(texts, cfg)
                p, s, order, run_starts, run_ends = _runs(flat_doc, chunk)
                off_sorted = offset[order]
                out_id = ids[p[run_starts]].astype(np.int64)
                out_chunk = s[run_starts].astype(np.int32)
            n_runs = len(run_starts)
            # per-run scatter into small cache-resident buffers (6x
            # faster than one flat scatter across a giant arena)
            arena = np.zeros((n_runs, chunk_bytes), dtype=np.uint8)
            for r in range(n_runs):
                set_bits(arena[r], off_sorted[run_starts[r] : run_ends[r]])
            # emit in bounded slices: wide filters would otherwise form
            # one giant Arrow record batch
            step = max(1, (64 << 20) // max(chunk_bytes, 1))
            for lo in range(0, n_runs, step):
                hi = min(lo + step, n_runs)
                yield pd.DataFrame(
                    {
                        "sample_idx": out_id[lo:hi],
                        "chunk_id": out_chunk[lo:hi],
                        "bf": [arena[r].tobytes() for r in range(lo, hi)],
                    }
                )

    # early prune (F3/F4 analog, zarrstore.py:137-145): rows that cannot
    # produce a window.  octet_length of the normalized text is the byte
    # length the kernel shingles.
    text_len = (
        F.octet_length(F.lower(F.col(text_col)))
        if cfg.normalize == "lower"
        else F.octet_length(F.col(text_col))
    )
    return (
        df.select(id_col, text_col)
        .filter(text_len >= cfg.k)
        .mapInPandas(fn, MATRIX_SCHEMA)
    )


def build_matrix_grouped(
    df: DataFrame,
    cfg: SketchConfig,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """One Bloom filter per group of rows (explicit partial+final agg).

    Stage 1 (map): fold each task's rows into per-(group, chunk) partial
    bitmaps — only these packed bitmaps cross the shuffle, never text.
    Stage 2 (reduce): OR-merge partials per key.  OR is associative and
    commutative, so the result is independent of row placement — the
    merge-associativity property the tests pin.
    """
    chunk_bytes = cfg.chunk_bytes

    def partial(batches):
        acc: dict[tuple[str, int], np.ndarray] = {}
        for pdf in batches:
            groups = pdf[group_col].astype(str).to_numpy()
            flat_doc, chunk, offset = _positions(pdf[text_col].tolist(), cfg)
            p, s, order, starts, ends = _runs(flat_doc, chunk)
            off_sorted = offset[order]
            for b, e in zip(starts, ends):
                key = (groups[p[b]], int(s[b]))
                buf = acc.get(key)
                if buf is None:
                    buf = acc[key] = np.zeros(chunk_bytes, dtype=np.uint8)
                set_bits(buf, off_sorted[b:e])
        yield pd.DataFrame(
            {
                "group_key": [k[0] for k in acc],
                "chunk_id": pd.array([k[1] for k in acc], dtype="int32"),
                "bf": [v.tobytes() for v in acc.values()],
            }
        )

    def merge(key, pdf):
        return pd.DataFrame(
            {
                "group_key": [key[0]],
                "chunk_id": pd.array([key[1]], dtype="int32"),
                "bf": [or_reduce(list(pdf["bf"]), chunk_bytes)],
            }
        )

    partials = df.select(group_col, text_col).mapInPandas(partial, GROUPED_SCHEMA)
    return partials.groupBy("group_key", "chunk_id").applyInPandas(
        merge, GROUPED_SCHEMA
    )


def persist_matrix(
    bf_df: DataFrame, path: str, cfg: SketchConfig, n_samples: int,
    mode: str = "overwrite",
) -> None:
    """Matrix-store sink (S6/A2 analog of the Zarr matrix store,
    zarrstore.py:217-291): partitioned by chunk_id so an index (re)build
    prunes to the chunks it needs; manifest carries the config."""
    import json as _json
    import os as _os

    bf_df.write.mode(mode).partitionBy("chunk_id").parquet(
        _os.path.join(path, "matrix")
    )
    manifest = {
        "config": _json.loads(cfg.to_json()),
        "n_samples": int(n_samples),
        "format_version": 1,
    }
    with open(_os.path.join(path, "manifest.json"), "w") as f:
        _json.dump(manifest, f, indent=2, sort_keys=True)


def load_matrix(spark, path: str, cfg: SketchConfig | None = None):
    """Load a matrix store; refuse on config mismatch (F8 guard)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "manifest.json")) as f:
        manifest = _json.load(f)
    stored = SketchConfig(**manifest["config"])
    if cfg is not None:
        cfg.require_compatible(stored)
    return spark.read.parquet(_os.path.join(path, "matrix")), stored, manifest


def densify_samples(df: DataFrame, id_col: str, num_partitions: int | None = None) -> DataFrame:
    """Assign a dense, deterministic sample_idx (0..n-1) ordered by id.

    The analog of the reference's row-aligned metadata dataset
    (zarrstore.py:243-272).

    Scale shape (zipWithIndex-style, NOT a global-sort window): split
    the id domain into ``num_partitions`` ordered range buckets, count
    rows per bucket (a tiny driver list), then rank within each bucket
    and add the bucket's cumulative offset.  No single-task exchange —
    every stage runs at full parallelism.

    Determinism: the bucket id is a PURE FUNCTION OF THE ROW, never of
    physical partitioning.  Range boundaries are computed once on the
    driver from a fixed-seed sample (global top-S rows ordered by
    ``xxhash64(id)`` — a uniform pseudo-random sample, deterministic
    because the hash ordering is data-defined), and ``__pid`` is the
    count of boundaries <= id evaluated JVM-side per row.  Every job
    over the plan therefore sees the identical id -> bucket mapping —
    unlike ``repartitionByRange`` + ``spark_partition_id()``, whose
    range sampler is seeded per-execution and silently reassigns rows
    between the counting pass and the ranking pass at scale.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    P = max(int(num_partitions), 1)
    # bounded deterministic sample: S rows to the driver, one full-
    # parallelism TakeOrdered job.  64 samples/bucket keeps boundary
    # error ~a few % — balance, not correctness (any split is correct).
    S = P * 64
    samp = sorted(
        r["__id"]
        for r in df.select(F.col(id_col).alias("__id"))
        .withColumn("__h", F.xxhash64("__id"))
        .orderBy("__h", "__id")
        .limit(S)
        .select("__id")
        .collect()
    )
    bounds: list = []
    if P > 1 and len(samp) >= 2:
        step = len(samp) / P
        bounds = sorted({samp[int(i * step)] for i in range(1, P)})
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        pid = F.aggregate(
            barr,
            F.lit(0),
            lambda acc, b: acc + F.when(F.col(id_col) >= b, 1).otherwise(0),
        )
    else:
        pid = F.lit(0)
    bucketed = df.withColumn("__pid", pid)
    counts = sorted(
        (r["__pid"], r["n"])
        for r in bucketed.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid_val, n in counts:
        offsets.append((pid_val, acc))
        acc += n
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __offset long")
    # buckets are ordered by id range, so offset + within-bucket rank is
    # the global id order; the window's hash exchange on __pid is a
    # balanced per-bucket shuffle, not a global sort
    w = Window.partitionBy("__pid").orderBy(F.col(id_col))
    return (
        bucketed.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "sample_idx", F.col("__offset") + F.row_number().over(w) - F.lit(1)
        )
        .drop("__pid", "__offset")
    )


def matrix_summary(bf_df: DataFrame, cfg: SketchConfig) -> dict:
    """Store summary — A9 analog (utilities.py:598-638): fill ratio and
    the FPR the configured geometry implies for the observed load."""
    def stats(batches):
        for pdf in batches:
            bits = sum(
                int(np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum())
                for b in pdf["bf"]
            )
            yield pd.DataFrame(
                {"rows": [len(pdf)], "set_bits": [bits], "bytes": [int(pdf["bf"].map(len).sum())]}
            )

    agg = (
        bf_df.mapInPandas(stats, "rows long, set_bits long, bytes long")
        .agg(
            F.sum("rows").alias("rows"),
            F.sum("set_bits").alias("set_bits"),
            F.sum("bytes").alias("bytes"),
        )
        .first()
    )
    n_samples = bf_df.select(F.countDistinct("sample_idx")).first()[0] if "sample_idx" in bf_df.columns else None
    out = {
        "chunk_rows": agg["rows"] or 0,
        "set_bits": agg["set_bits"] or 0,
        "packed_bytes": agg["bytes"] or 0,
        "m": cfg.m,
        "h": cfg.h,
        "k": cfg.k,
    }
    if n_samples:
        fill = (agg["set_bits"] or 0) / (n_samples * cfg.m_padded)
        out["n_samples"] = n_samples
        out["fill_ratio"] = fill
        # fill = 1-(1-1/m)^(hn)  =>  per-filter FPR estimate = fill^h
        out["fpr_estimate"] = fill ** cfg.h
        out["n_items_estimate"] = (
            -cfg.m_padded / cfg.h * math.log(max(1.0 - fill, 1e-300))
        )
    return out
