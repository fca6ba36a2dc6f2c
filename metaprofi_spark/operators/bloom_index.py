"""Bit-sliced Bloom index — the A3 transpose of SURVEY.md §2.4.

The reference materializes slice r (one bit per sample at position r) by
unpacking matrix row-chunks in shared memory and writing zstd-compressed
slices to a 1-D Zarr dataset (/root/reference/metaprofi/lib/
build_index_zarr.py:35-214, :433-484).  Here the transpose is a single
explicit shuffle keyed by (chunk_id, sample_bucket):

    bf_matrix(sample_idx, chunk_id, bf)
      -> groupBy(chunk_id, sample_bucket)        # the ONE shuffle
      -> applyInPandas(transpose)                # SWAR packed-bit transpose
      -> index(slice_id, sample_bucket, slice_bucket, bits)

* ``sample_bucket`` bounds the width of one index cell (bits of
  ``sample_bucket_size`` samples ⇒ cells stay small even at 10^12 docs).
* ``slice_bucket`` is a RANGE bucket of slice_id (analog of
  calculate_index_chunksize, utilities.py:182-211); the index is
  persisted ``partitionBy(slice_bucket)`` so membership queries prune to
  exactly the partitions holding their hash positions.
* all-zero slices are never stored (sparse), which is why the search
  layer treats a missing (slice, bucket) cell as an all-zero vector.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from metaprofi_spark.config import SketchConfig
from metaprofi_spark.kernels import set_bits
from metaprofi_spark.kernels.bits import bit_matrix_transpose
from metaprofi_spark.operators.bloom_build import _doc_bit_runs

INDEX_SCHEMA = "range_id long, sample_bucket int, bits binary"


def slice_bucket_size(cfg: SketchConfig) -> int:
    """Slices per partition bucket, rounded up so every slab (range)
    falls entirely inside one bucket."""
    raw = (cfg.m_padded + cfg.slice_buckets - 1) // cfg.slice_buckets
    r = cfg.slice_range_size
    return (raw + r - 1) // r * r


def plan_index_geometry(
    cfg: SketchConfig, task_budget_bytes: int = 256 << 20, sample_bucket_size: int | None = None
) -> int:
    """Pick sample_bucket_size so one transpose task's packed input
    (bucket_size × chunk_bytes) fits the budget — the Spark analog of the
    reference's memory-budgeted chunk planner (utilities.py:131-179)."""
    if sample_bucket_size is not None:
        return sample_bucket_size
    n = max(task_budget_bytes // max(cfg.chunk_bytes, 1), 64)
    # round down to a power of two for stable bucket arithmetic
    return 1 << (int(n).bit_length() - 1)


# slices per SWAR-transpose call: bounds one call's output to
# _SLICE_BLOCK x bucket/8 bytes (rounded to whole slabs and bytes)
_SLICE_BLOCK = 1 << 13


def _slab_frame(chunks, sbucket: int, cfg: SketchConfig, width_bytes: int) -> pd.DataFrame:
    """Slabs of one sample bucket, the last step of both index builds.

    ``chunks`` yields ``(chunk_id, mat)``: a dense packed matrix whose
    row i is local sample i's filter chunk (at most ``chunk_bytes``
    wide).  Each block of slices is SWAR-transposed, split into slabs
    of ``slice_range_size`` slices, and only non-zero slabs are kept.
    """
    rsize = cfg.slice_range_size
    unit = math.lcm(rsize, 8)  # block edges on slab AND byte boundaries
    block = max(_SLICE_BLOCK // unit, 1) * unit
    out_rid: list[int] = []
    out_bits: list[bytes] = []
    for chunk_id, mat in chunks:
        base_range = chunk_id * cfg.chunk_bits // rsize
        # a narrower last chunk ends at the filter's edge, rounded up to
        # a whole slab (the bits past m are zero)
        nbits = min(cfg.chunk_bits, -(-mat.shape[1] * 8 // rsize) * rsize)
        for blk in range(0, nbits, block):
            bend = min(blk + block, nbits)
            sub = mat[:, blk // 8 : (bend + 7) // 8]
            packed = bit_matrix_transpose(sub, out_width_bytes=width_bytes)[: bend - blk]
            if len(packed) < bend - blk:  # the filter ends mid-slab
                packed = np.pad(packed, ((0, bend - blk - len(packed)), (0, 0)))
            slabs = packed.reshape(-1, rsize * width_bytes)
            nz = np.nonzero(slabs.any(axis=1))[0]
            out_rid.extend((base_range + blk // rsize + nz).tolist())
            out_bits.extend(slabs[r].tobytes() for r in nz)
    return pd.DataFrame(
        {
            "range_id": pd.array(out_rid, dtype="int64"),
            "sample_bucket": pd.array([sbucket] * len(out_rid), dtype="int32"),
            "bits": out_bits,
        }
    )


def _with_slice_bucket(idx: DataFrame, cfg: SketchConfig) -> DataFrame:
    return idx.withColumn(
        "slice_bucket",
        (F.col("range_id") * F.lit(cfg.slice_range_size) / F.lit(slice_bucket_size(cfg))).cast("int"),
    )


def build_index(
    bf_df: DataFrame,
    cfg: SketchConfig,
    sample_bucket_size: int | None = None,
) -> DataFrame:
    """Transpose the filter matrix into slice-range slabs.

    ``bf_df`` is the output of ``build_matrix`` (sample_idx, chunk_id, bf).
    Returns DataFrame(range_id, sample_bucket, slice_bucket, bits) where
    ``bits`` is a slab of ``slice_range_size`` consecutive slices
    (row-major: slice, then packed sample bytes of width bucket/8).
    All-zero slabs are omitted (sparse).
    """
    bucket = plan_index_geometry(cfg, sample_bucket_size=sample_bucket_size)
    width_bytes = (bucket + 7) // 8
    chunk_bytes = cfg.chunk_bytes

    def transpose(key, pdf):
        chunk_id, sbucket = int(key[0]), int(key[1])
        local = (pdf["sample_idx"].to_numpy() - sbucket * bucket).astype(np.int64)
        # scatter rows by local id into a dense matrix; absent ids stay
        # zero.  Several rows per sample_idx (duplicate doc ids, or a doc
        # split across rows) must OR together — a last-writer-wins
        # scatter would drop bits and break zero false negatives
        mat = np.zeros((int(local.max()) + 1, chunk_bytes), dtype=np.uint8)
        for i, b in zip(local, pdf["bf"]):
            a = np.frombuffer(b, dtype=np.uint8)
            mat[i, : len(a)] |= a
        return _slab_frame([(chunk_id, mat)], sbucket, cfg, width_bytes)

    assert width_bytes > 0
    with_bucket = bf_df.withColumn(
        "sample_bucket", (F.col("sample_idx") / F.lit(bucket)).cast("int")
    )
    idx = with_bucket.groupBy("chunk_id", "sample_bucket").applyInPandas(
        transpose, INDEX_SCHEMA
    )
    return _with_slice_bucket(idx, cfg)


def build_index_fused(
    docs: DataFrame,
    cfg: SketchConfig,
    sample_bucket_size: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """One-shuffle build straight from docs: same slabs as
    ``build_matrix |> build_index`` (tested).

    Two paths exist because each wins somewhere.  This one shuffles
    raw text keyed by sample_bucket (smaller than the m/8-byte packed
    matrix) and never materializes per-doc filter rows, so it is the
    faster build.  The two-stage path is the only one that can index a
    persisted matrix store, a grouped (``build_matrix_grouped``) build
    or an ``update_store`` batch, and it parallelizes across input
    splits where this one is bounded by the bucket count.
    """
    bucket = plan_index_geometry(cfg, sample_bucket_size=sample_bucket_size)
    width_bytes = (bucket + 7) // 8
    chunk_bytes = cfg.chunk_bytes

    def fn(batches):
        # bucket -> dense packed filter matrix, row = local sample id
        mats: dict[int, np.ndarray] = {}
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            rows, flat, starts, ends = _doc_bit_runs(pdf[text_col].tolist(), cfg)
            for d, s, e in zip(rows, starts, ends):
                gid = int(ids[d])
                b = gid // bucket
                m = mats.get(b)
                if m is None:
                    m = mats[b] = np.zeros((bucket, cfg.packed_bytes), dtype=np.uint8)
                set_bits(m[gid - b * bucket], flat[s:e])
        for b, m in mats.items():
            yield _slab_frame(
                (
                    (c, m[:, c * chunk_bytes : (c + 1) * chunk_bytes])
                    for c in range(cfg.n_chunks)
                ),
                b, cfg, width_bytes,
            )

    # Every sample_bucket must land WHOLLY in one task (fn accumulates a
    # full per-bucket matrix), so the shuffle keys on the bucket id.
    # The partition count is a balance knob: measured A/B on this box,
    # ~n_buckets partitions beats far more (per-task Arrow/worker
    # overhead dominates empties) and far fewer (multi-bucket straggler
    # tasks become the wall-clock).  Default to the session's shuffle
    # parallelism; callers that know their bucket count can pass it.
    if shuffle_partitions is None:
        shuffle_partitions = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    shuffled = docs.select(id_col, text_col).repartition(
        shuffle_partitions, F.floor(F.col(id_col) / F.lit(bucket))
    )
    return _with_slice_bucket(shuffled.mapInPandas(fn, INDEX_SCHEMA), cfg)


# ---------------------------------------------------------------------------
# persistence: snapshot-segment parquet layout + atomic manifest commit
# ---------------------------------------------------------------------------
#
# Layout (format_version 2):
#     path/index/seg=u0/slice_bucket=N/...   base build
#     path/index/seg=u1/slice_bucket=N/...   update snapshot 1
#     path/manifest.json                     {segments: ["u0","u1",...]}
#
# The manifest's segment list is the COMMIT POINT (written tmp+rename,
# atomic on POSIX — the analog of the reference's transactional attrs
# bump, build_index_zarr.py:286-301).  An update writes its whole
# segment dir with mode=overwrite first (idempotent on retry), then
# commits by rewriting the manifest; a crash in between leaves an
# orphan seg dir that the loader never reads and a retry overwrites.
# `seg` doubles as a parquet partition column, so readers prune
# uncommitted segments for free.


def _write_manifest(path: str, manifest: dict, reset_chain: bool = False) -> None:
    """Atomic manifest commit + snapshot history.

    Every commit gets a monotonically increasing ``snapshot_id`` and is
    archived under ``snapshots/v{id}.json`` BEFORE the atomic rename,
    so ``load_index(snapshot=N)`` can time-travel to any committed
    state whose segment dirs still exist (Iceberg snapshot semantics:
    vacuum/compact expire old snapshots by reclaiming their segments —
    readers get a clear error, never partial data)."""
    p = os.path.join(path, "manifest.json")
    snap_dir = os.path.join(path, "snapshots")
    prev_id = -1
    prev_manifest = None
    if not reset_chain:
        try:
            with open(p) as f:
                prev_manifest = json.load(f)
            prev_id = int(prev_manifest.get("snapshot_id", -1))
        except FileNotFoundError:
            pass
    os.makedirs(snap_dir, exist_ok=True)
    if prev_manifest is not None and prev_id >= 0:
        # backfill: if the previous commit crashed between its manifest
        # rename and its archive write, its snapshot file is missing —
        # restore it from manifest.json so the id isn't silently burned
        prev_path = os.path.join(snap_dir, f"v{prev_id}.json")
        if not os.path.exists(prev_path):
            with open(prev_path + ".tmp", "w") as f:
                json.dump(prev_manifest, f, indent=2, sort_keys=True)
            os.replace(prev_path + ".tmp", prev_path)
    manifest = dict(manifest, snapshot_id=prev_id + 1)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, p)  # atomic commit: readers see old or new, never half
    # archive AFTER the commit (a crash in between loses only the
    # history entry — backfilled by the NEXT commit above — and never
    # exposes an uncommitted segment via time travel), and atomically
    # (tmp+rename: a truncated vN.json would wedge readers)
    spath = os.path.join(snap_dir, f"v{manifest['snapshot_id']}.json")
    with open(spath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(spath + ".tmp", spath)


def persist_index(
    index_df: DataFrame,
    path: str,
    cfg: SketchConfig,
    n_samples: int,
    sample_bucket_size: int | None = None,
    extra_meta: dict | None = None,
    mode: str = "overwrite",
    fail_before_commit: bool = False,
) -> None:
    """Write the index partitioned by slice_bucket + a JSON manifest.

    The manifest is the analog of the reference's store attrs
    (zarrstore.py:243-272): config, sample count, segment list — the
    contract checked on load (F8 guard).

    ``mode="overwrite"`` into an existing store path is a NEW store.
    The rebuild is crash-safe and lock-protected (r3 advice: rewriting
    seg=u0 in place while the old manifest referenced it meant a crash
    mid-write left the manifest pointing at partial data, and a
    concurrent update could interleave with the swap):

      * the rebuilt index is written to a FRESH generation-suffixed
        segment (``b{N}``) the old manifest never references — the old
        store stays fully readable until the final atomic rename;
      * the whole rebuild runs under :func:`store_lock`, so
        update/compact/vacuum can never interleave with the swap;
      * snapshot history is wiped before the commit (stale snapshots
        would otherwise time-travel to the OLD generation's leftover
        segment dirs); a crash in the window loses only history, never
        current-state consistency;
      * old segment dirs become orphans, reclaimable via vacuum_store;
      * the exactly-once ledger SURVIVES the rebuild: committed_segments
        unions the old generation's names and the u/c/d counters carry
        forward, so an at-least-once caller replaying a pre-rebuild
        named segment stays a no-op and a fresh auto-named update never
        collides with an old committed name (r4 advice).

    Any other ``mode`` into an EXISTING store is refused: appending
    rows into a live segment under old snapshots is exactly the
    corruption this path guards against — incremental growth is
    :func:`update_store`'s job.  ``fail_before_commit`` injects a
    crash between data write and manifest swap for the recovery test.
    """
    existing = os.path.exists(os.path.join(path, "manifest.json"))
    if existing and mode != "overwrite":
        raise ValueError(
            f"persist_index(mode={mode!r}) into an existing store would "
            "mutate segments that snapshot history references; use "
            "update_store to append, or mode='overwrite' to rebuild"
        )

    def _manifest(seg: str, rebuild_count: int) -> dict:
        m = {
            "config": json.loads(cfg.to_json()),
            "n_samples": int(n_samples),
            "sample_bucket_size": plan_index_geometry(
                cfg, sample_bucket_size=sample_bucket_size
            ),
            "update_count": 0,
            "segments": [seg],
            "committed_segments": [seg],
            "format_version": 2,
        }
        if rebuild_count:
            m["rebuild_count"] = rebuild_count
        m.update(extra_meta or {})
        return m

    if not existing:
        index_df.write.mode(mode).partitionBy("slice_bucket").parquet(
            os.path.join(path, "index", "seg=u0")
        )
        _write_manifest(path, _manifest("u0", 0))
        return

    import shutil

    from metaprofi_spark.operators.bloom_update import store_lock

    with store_lock(path):
        with open(os.path.join(path, "manifest.json")) as f:
            old = json.load(f)
        gen = int(old.get("rebuild_count", 0)) + 1
        seg = f"b{gen}"  # monotone across rebuilds: never a live name
        index_df.write.mode("overwrite").partitionBy("slice_bucket").parquet(
            os.path.join(path, "index", f"seg={seg}")
        )
        if fail_before_commit:
            raise RuntimeError("injected crash between rebuild write and commit")
        new = _manifest(seg, gen)
        # The ledger must never forget (r4 advice): an at-least-once
        # caller (e.g. a streaming checkpoint) replaying a segment name
        # it committed BEFORE the rebuild must stay a no-op after it,
        # and a fresh auto-named update must not collide with — and be
        # silently skipped by — an old committed u{k}.  So
        # committed_segments is the UNION of everything the old
        # generation ever committed, and the name counters carry
        # forward (rollback_store's rule; names can't collide with the
        # new chain because b{N} is generation-suffixed and u{k}/c*/d*
        # continue from the carried counters).
        from metaprofi_spark.plans.lineage import read_lineage

        new["committed_segments"] = sorted(
            {seg}
            | set(old.get("committed_segments") or [])
            | set(old.get("segments") or [])
            | set(read_lineage(path).get("updates", {}))
        )
        for key in ("update_count", "compactions", "delete_count"):
            if int(old.get(key, 0)):
                new[key] = int(old.get(key, 0))
        shutil.rmtree(os.path.join(path, "snapshots"), ignore_errors=True)
        _write_manifest(path, new, reset_chain=True)


def store_summary(
    spark: SparkSession, path: str, count_set_bits: bool = False
) -> dict:
    """A9 analog of get_summary_from_index_store
    (/root/reference/metaprofi/lib/utilities.py:598-638): manifest
    metadata + logical vs stored bytes (the compression ratio the
    reference reports via nbytes / nbytes_stored).

    ``count_set_bits=True`` adds a ``set_bits`` popcount over every
    slab — a full store scan through a Pandas UDF, so opt-in (it is how
    the tombstone-reclaim test observes compaction zeroing deleted
    columns)."""
    df, cfg, manifest = load_index(spark, path)
    agg = df.agg(
        F.count("*").alias("slabs"),
        F.sum(F.octet_length("bits")).alias("logical_bytes"),
        F.countDistinct("slice_bucket").alias("buckets"),
    ).first()
    set_bits = None
    if count_set_bits:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # hint-less on purpose (future-annotations stringifies hints)
        @pandas_udf("long")
        def _pop(bits):
            return pd.Series(
                [
                    int(np.unpackbits(np.frombuffer(b, dtype=np.uint8)).sum())
                    for b in bits
                ]
            )

        set_bits = int(df.select(F.sum(_pop("bits"))).first()[0] or 0)
    stored = 0
    idx_dir = os.path.join(path, "index")
    seg_dirs = [
        os.path.join(idx_dir, f"seg={s}") for s in manifest.get("segments", [])
    ] or [idx_dir]
    for seg_dir in seg_dirs:  # committed segments only, orphans excluded
        for root, _dirs, files in os.walk(seg_dir):
            stored += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    logical = int(agg["logical_bytes"] or 0)
    n_tomb = 0
    if manifest.get("tombstones"):
        from metaprofi_spark.operators.bloom_update import load_tombstones

        tomb = load_tombstones(spark, path, manifest)
        n_tomb = tomb.count() if tomb is not None else 0
    out = {
        "config": json.loads(cfg.to_json()),
        "n_samples": manifest["n_samples"],
        "tombstoned_samples": n_tomb,
        "update_count": manifest.get("update_count", 0),
        "slabs": int(agg["slabs"]),
        "slice_buckets_present": int(agg["buckets"]),
        "logical_bytes": logical,
        "stored_bytes": stored,
        "compression_ratio": round(logical / stored, 3) if stored else None,
    }
    if set_bits is not None:
        out["set_bits"] = set_bits
    return out


def load_index(
    spark: SparkSession,
    path: str,
    cfg: SketchConfig | None = None,
    snapshot: int | None = None,
) -> tuple[DataFrame, SketchConfig, dict]:
    """Load an index store; refuse on config mismatch (search_index.py:77-97).

    Only the manifest's COMMITTED segments are read — an orphan segment
    dir left by a crashed update is invisible until its commit lands.

    ``snapshot=N`` TIME-TRAVELS to the N-th committed manifest
    (``snapshots/v{N}.json``) — the Iceberg-snapshot read path over the
    append-only segment layout.  Valid until a vacuum/compact reclaims
    the snapshot's segments, at which point the read fails with a clear
    'expired' error instead of partial data."""
    if snapshot is None:
        mpath = os.path.join(path, "manifest.json")
    else:
        mpath = os.path.join(path, "snapshots", f"v{int(snapshot)}.json")
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"snapshot {snapshot} does not exist in {path}/snapshots "
                "(store predates snapshot history, or id out of range)"
            )
    with open(mpath) as f:
        manifest = json.load(f)
    stored = SketchConfig(**manifest["config"])
    if cfg is not None:
        cfg.require_compatible(stored)
    idx_dir = os.path.join(path, "index")
    segments = manifest.get("segments")
    if segments:
        seg_paths = [os.path.join(idx_dir, f"seg={s}") for s in segments]
        if snapshot is not None:
            missing = [p for p in seg_paths if not os.path.isdir(p)]
            if missing:
                raise FileNotFoundError(
                    f"snapshot {snapshot} expired: segment dirs reclaimed by "
                    f"vacuum/compact: {missing}"
                )
        df = spark.read.option("basePath", idx_dir).parquet(*seg_paths)
    else:  # format_version 1 stores (flat layout)
        df = spark.read.parquet(idx_dir)
    return df, stored, manifest
