"""Membership search over the bit-sliced index — A5/A6/A7 + J1/J2 of
SURVEY.md §2.

Reference semantics (/root/reference/metaprofi/lib/search_index.py):
  * each query text is shingled into k-grams; each k-gram needs its h
    slices ANDed (:420-423) — a sample contains the k-gram iff all h of
    its bits are set (zero false negatives by construction);
  * exact search (threshold=100): a sample matches iff EVERY k-gram
    hits (:556-575);
  * threshold search: count per sample how many k-gram occurrences hit,
    keep counts >= ceil(n_kgrams * t / 100) (:518-553, cut at :532).

Spark-first plan (replaces the reference's LMDB scratch store + process
fan-out, search_index.py:312-391):

  query texts --driver/numpy--> distinct (kgram, slice_id) rows
      -> broadcast hash join against index(slice_id)     [J1]
         (slice_bucket filter first => partition pruning: only the
          parquet partitions holding query positions are read)
      -> groupBy(query, kgram, sample_bucket) AND-reduce  [A5]
      -> groupBy(query, sample_bucket) weighted bit-count [A6/A7]
      -> threshold filter + broadcast join to samples dim [J2]

Missing (slice_id, sample_bucket) cells are all-zero vectors (the index
is sparse), so an AND group with fewer than n_slices rows yields no
matches — handled by construction, never materialized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from metaprofi_spark.config import SketchConfig
from metaprofi_spark.kernels import mmh2_64_windows, shingle_windows
from metaprofi_spark.operators.bloom_index import plan_index_geometry, slice_bucket_size

HASH_SCHEMA = "query_id string, kgram_idx int, weight int, n_slices int, slice_id long"
RESULT_SCHEMA = "query_id string, sample_idx long, kgram_hits long, n_kgrams long, pct double"


def format_results(rows, threshold: int) -> str:
    """S9 results sink: the reference's report layout
    (search_index.py:614-660) — one block per query, exact matches as a
    bare sample list, thresholded matches annotated with counts."""
    by_q: dict[str, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"] if isinstance(r, dict) else r.query_id, []).append(r)
    out = []
    for qid in sorted(by_q):
        out.append(f"Query: {qid}")
        for r in sorted(by_q[qid], key=lambda x: x.sample_idx):
            if threshold == 100:
                out.append(f"\t{r.sample_idx}")
            else:
                out.append(
                    f"\t{r.sample_idx}, Number of kmers found: "
                    f"{r.kgram_hits} ({r.pct:.2f}%)"
                )
    return "\n".join(out) + ("\n" if out else "")


def write_results_stream(res: DataFrame, path: str, threshold: int) -> None:
    """S9 results sink, STREAMED: identical layout to
    :func:`format_results` but written via ``toLocalIterator`` so the
    driver never holds the full result set (the reference writes one
    report file too, search_index.py:614-660 — at corpus scale the
    report is the only full materialization left, so it is streamed)."""
    with open(path, "w") as f:
        current = None
        for r in res.orderBy("query_id", "sample_idx").toLocalIterator():
            if r.query_id != current:
                current = r.query_id
                f.write(f"Query: {current}\n")
            if threshold == 100:
                f.write(f"\t{r.sample_idx}\n")
            else:
                f.write(
                    f"\t{r.sample_idx}, Number of kmers found: "
                    f"{r.kgram_hits} ({r.pct:.2f}%)\n"
                )


def parse_results(text: str, with_stats: bool = False):
    """S10 results parser (utilities.py:655-733): report -> dict.

    ``with_stats=True`` additionally returns the reference parser's
    summary stats (utilities.py:706-733): total queries, total matched
    samples, and distinct matched samples — as (results, stats)."""
    out: dict[str, list[dict]] = {}
    current = None
    for line in text.splitlines():
        if line.startswith("Query: "):
            current = line[len("Query: "):]
            out[current] = []
        elif line.startswith("\t") and current is not None:
            body = line.strip()
            if ", Number of kmers found: " in body:
                sid, rest = body.split(", Number of kmers found: ")
                hits, pct = rest.rstrip(")").split(" (")
                out[current].append(
                    {"sample": int(sid), "hits": int(hits), "pct": float(pct.rstrip('%'))}
                )
            else:
                out[current].append({"sample": int(body)})
    if not with_stats:
        return out
    stats = {
        "n_queries": len(out),
        "n_samples": sum(len(v) for v in out.values()),
        "n_unique_samples": len(
            {m["sample"] for v in out.values() for m in v}
        ),
    }
    return out, stats


def hash_queries(
    queries: list[tuple[str, str]], cfg: SketchConfig
) -> tuple[pd.DataFrame, dict[str, int]]:
    """Shingle+hash query texts, fully vectorized over the batch (T8
    analog — this also runs inside ``mapInPandas`` for query FILES, so
    no per-query python is allowed here).

    Identical k-grams within a query are deduplicated with a ``weight``
    (the reference counts every occurrence, search_index.py:535 — the
    weight preserves that); duplicate positions within one k-gram's h
    hashes collapse into ``n_slices`` so the AND stage knows how many
    index rows constitute a full hit.

    Returns (hash rows pdf, {query_id: total k-gram occurrences}).
    """
    qids = [q for q, _ in queries]
    texts = [t for _, t in queries]
    empty = pd.DataFrame(
        {
            "query_id": pd.array([], dtype="string"),
            "kgram_idx": pd.array([], dtype="int32"),
            "weight": pd.array([], dtype="int32"),
            "n_slices": pd.array([], dtype="int32"),
            "slice_id": pd.array([], dtype="int64"),
        }
    )
    doc_idx, windows = shingle_windows(texts, cfg.k, cfg.normalize)
    counts_per_q = np.bincount(doc_idx, minlength=len(queries))
    n_kgrams = {qid: int(c) for qid, c in zip(qids, counts_per_q)}
    if len(doc_idx) == 0:
        return empty, n_kgrams
    # unique (query, window) rows with occurrence counts — one sort for
    # the whole batch.  np.unique(axis=0) sorts lexicographically with
    # the query index leading, so within each query the unique windows
    # come out in the same sorted order np.unique would give per query.
    qbytes = doc_idx.astype(">i8").view(np.uint8).reshape(len(doc_idx), 8)
    rows = np.concatenate([qbytes, windows], axis=1)
    uniq, ucounts = np.unique(rows, axis=0, return_counts=True)
    uq = uniq[:, :8].copy().view(">i8").reshape(-1)  # query index per unique row
    uwindows = np.ascontiguousarray(uniq[:, 8:])
    # per-query kgram_idx = rank within the query's unique-window run
    qstarts = np.concatenate(([0], np.nonzero(uq[1:] != uq[:-1])[0] + 1))
    kgram_idx = np.arange(len(uq)) - np.repeat(
        qstarts, np.diff(np.concatenate((qstarts, [len(uq)])))
    )
    pos = mmh2_64_windows(uwindows, np.asarray(cfg.seeds, dtype=np.uint64)) % np.uint64(
        cfg.m_padded
    )
    # distinct slices per k-gram: sort the h values per row, keep firsts
    sortpos = np.sort(pos.astype(np.int64), axis=1)
    keep = np.ones(sortpos.shape, dtype=bool)
    keep[:, 1:] = sortpos[:, 1:] != sortpos[:, :-1]
    n_slices_row = keep.sum(axis=1).astype(np.int32)
    reps = n_slices_row.astype(np.int64)
    qid_arr = np.asarray(qids, dtype=object)
    pdf = pd.DataFrame(
        {
            "query_id": pd.array(np.repeat(qid_arr[uq], reps), dtype="string"),
            "kgram_idx": pd.array(np.repeat(kgram_idx, reps).astype(np.int32), dtype="int32"),
            "weight": pd.array(np.repeat(ucounts, reps).astype(np.int32), dtype="int32"),
            "n_slices": pd.array(np.repeat(n_slices_row, reps), dtype="int32"),
            "slice_id": pd.array(sortpos[keep], dtype="int64"),
        }
    )
    return pdf, n_kgrams


def hash_queries_df(queries_df: DataFrame, cfg: SketchConfig) -> DataFrame:
    """Distributed analog of :func:`hash_queries` for large query files
    (the reference's parallel hash phase, search_index.py:277-297):
    queries_df(query_id string, query_text string) ->
    (query_id, kgram_idx, weight, n_slices, slice_id, n_kgrams).

    Runs the same numpy kernel inside ``mapInPandas`` so a
    million-query batch hashes across the cluster.
    """
    import pandas as pd

    schema = HASH_SCHEMA + ", n_kgrams long"

    def fn(batches):
        for pdf in batches:
            qpdf, n_kgrams = hash_queries(
                list(zip(pdf["query_id"], pdf["query_text"])), cfg
            )
            qpdf = qpdf.assign(
                n_kgrams=qpdf["query_id"].map(n_kgrams).astype("int64")
            )
            yield qpdf

    return queries_df.select("query_id", "query_text").mapInPandas(fn, schema)


def search_df(
    spark: SparkSession,
    index_df: DataFrame,
    queries_df: DataFrame,
    cfg: SketchConfig,
    threshold: int = 100,
    sample_bucket_size: int | None = None,
    broadcast_queries: bool = True,
    sample_ids: list[int] | None = None,
) -> DataFrame:
    """File-of-queries search (§3.3 of SURVEY.md): distributed hashing,
    then the same plan family as :func:`search`.

    ``broadcast_queries=True`` (bounded query sets): the hash rows are
    pulled once to the driver (the identical byte movement an
    ``F.broadcast`` performs — every broadcast relation is built
    driver-side) and shipped to tasks as a Spark broadcast.
    ``broadcast_queries=False`` (reference-shape million-read files,
    search_index.py:277-297): the hash rows stay a DataFrame
    end-to-end and meet the index in a cogrouped shuffle — no
    driver materialization beyond the bounded slice-bucket list.
    """
    if not 0 < threshold <= 100:
        raise ValueError("threshold must be in (0, 100]")
    bucket = plan_index_geometry(cfg, sample_bucket_size=sample_bucket_size)
    sb_size = slice_bucket_size(cfg)
    if broadcast_queries:
        # the query set is broadcast-bounded by contract, so pulling the
        # TEXTS costs no more than pulling the (wider) hash-row set the
        # broadcast needs anyway; below ~16k queries the numpy hash
        # kernel runs faster on the driver than a 32-task hashing job
        # (A/B: 0.21 s vs 0.37 s for the 1000-query workbook)
        qp = queries_df.select("query_id", "query_text").toPandas()
        if len(qp) <= 16384:
            qpdf, n_kgrams = hash_queries(
                list(zip(qp["query_id"], qp["query_text"])), cfg
            )
            qpdf = qpdf.assign(
                n_kgrams=qpdf["query_id"].map(n_kgrams).astype("int64")
            )
        else:  # large (but still broadcastable) sets: hash distributed
            qpdf = hash_queries_df(queries_df, cfg).toPandas()
        if len(qpdf) == 0:
            return spark.createDataFrame([], RESULT_SCHEMA)
        buckets = sorted(
            {int(s) // sb_size for s in qpdf["slice_id"].to_numpy()}
        )
        return _search_from_hashes(
            spark, index_df, qpdf, cfg, threshold, bucket,
            slice_buckets=buckets, sample_ids=sample_ids,
        )
    # the hash rows are read twice (bucket-prune list + index join).
    # NOT .persist(): the CacheManager pins cached plans for the session
    # lifetime, so repeated searches would accumulate blocks (r2
    # advice).  Eager localCheckpoint materializes the hashing once,
    # EXECUTOR-side (per-row data never crosses the driver — only the
    # bounded bucket list below does); its blocks are
    # reference-counted by the ContextCleaner and freed when this
    # DataFrame is GC'd, so nothing outlives the search.
    hashes = hash_queries_df(queries_df, cfg).localCheckpoint(eager=True)
    buckets = sorted(
        r["b"]
        for r in hashes.select(
            (F.col("slice_id") / F.lit(sb_size)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    if not buckets:
        return spark.createDataFrame([], RESULT_SCHEMA)
    return _search_from_hashes(
        spark, index_df, hashes, cfg, threshold, bucket,
        slice_buckets=buckets, broadcast_queries=False,
        sample_ids=sample_ids,
    )


def search(
    spark: SparkSession,
    index_df: DataFrame,
    queries: list[tuple[str, str]],
    cfg: SketchConfig,
    threshold: int = 100,
    sample_bucket_size: int | None = None,
    sample_ids: list[int] | None = None,
    seq_type: str | None = None,
) -> DataFrame:
    """Run exact (t=100) or thresholded membership search.

    Returns DataFrame(query_id, sample_idx, kgram_hits, n_kgrams, pct).
    ``kgram_hits`` counts k-gram OCCURRENCES whose h bits are all set —
    Bloom semantics: no false negatives; false positives bounded by
    (1-e^(-hn/m))^h.

    ``sample_ids`` scopes results to a sample-id list (the reference's
    sample-restricted lookup, search_index.py:549-553): index cells are
    pruned by sample_bucket BEFORE the AND stage, then results are
    filtered exactly.

    ``seq_type="nucleotide"`` against an ``aminoacid`` store six-frame
    translates every query (search_index.py:107-141): each reading
    frame >= k becomes its own query named
    ``{qid}_{forward|reverse}_reading_frame_{i}`` and is searched
    independently, matching the reference's per-frame result blocks.
    """
    if not 0 < threshold <= 100:
        raise ValueError("threshold must be in (0, 100]")  # metaprofi_main.py:251-253
    if seq_type == "nucleotide" and cfg.sequence_type == "aminoacid":
        from metaprofi_spark.kernels.bio import six_frame_frames

        translated: list[tuple[str, str]] = []
        for qid, text in queries:
            translated.extend(six_frame_frames(text, qid, cfg.k).items())
        queries = translated
    bucket = plan_index_geometry(cfg, sample_bucket_size=sample_bucket_size)
    sb_size = slice_bucket_size(cfg)
    qpdf, n_kgrams = hash_queries(queries, cfg)
    if len(qpdf) == 0:
        return spark.createDataFrame([], RESULT_SCHEMA)
    qpdf = qpdf.assign(n_kgrams=qpdf["query_id"].map(n_kgrams).astype("int64"))
    buckets = sorted({int(s) // sb_size for s in qpdf["slice_id"]})
    return _search_from_hashes(
        spark, index_df, qpdf, cfg, threshold, bucket,
        slice_buckets=buckets, sample_ids=sample_ids,
    )


def _prep_hash_struct(pdf: pd.DataFrame) -> dict:
    """Reorganize hash rows into flat numpy arrays the bucket kernel
    consumes: rows sorted by (query, kgram), with per-kgram-segment and
    per-query-segment boundaries precomputed ONCE (driver-side for the
    broadcast path; once per cogroup otherwise) instead of per task."""
    qcodes, quniq = pd.factorize(pdf["query_id"], sort=False)
    kg = pdf["kgram_idx"].to_numpy().astype(np.int64)
    order = np.lexsort((kg, qcodes))
    qc = qcodes[order]
    kg = kg[order]
    sl = pdf["slice_id"].to_numpy().astype(np.int64)[order]
    w = pdf["weight"].to_numpy().astype(np.int64)[order]
    nk = pdf["n_kgrams"].to_numpy().astype(np.int64)[order]
    change = (qc[1:] != qc[:-1]) | (kg[1:] != kg[:-1])
    kstart = np.concatenate(([0], np.nonzero(change)[0] + 1))
    kend = np.concatenate((kstart[1:], [len(qc)]))
    kq = qc[kstart]           # query code per kgram segment
    kw = w[kstart]            # occurrence weight per kgram
    qchange = np.nonzero(kq[1:] != kq[:-1])[0] + 1
    qstart = np.concatenate(([0], qchange))   # kgram-segment index space
    qend = np.concatenate((qchange, [len(kq)]))
    return {
        "quniq": np.asarray(quniq, dtype=object),
        "sl": sl,
        "kstart": kstart,
        "kend": kend,
        "kw": kw,
        "qstart": qstart,
        "qend": qend,
        "q_code": kq[qstart],
        "q_nk": nk[kstart][qstart],
    }


def _bucket_search(
    S: dict,
    threshold: int,
    bucket: int,
    rsize: int,
    width_bytes: int,
    sbucket: int,
    range_arr: np.ndarray,
    slab_idx: np.ndarray,
    Mr: np.ndarray,
):
    """Complete search for ONE sample_bucket: gather the needed slices
    from the bucket's slabs (missing slab/slice == all-zero row — the
    sparse-index rule), AND per k-gram, count per query, threshold.

    ``Mr`` is the TASK-level slab matrix viewed as
    (n_task_slabs * rsize, width_bytes) slice rows; ``slab_idx`` maps
    this bucket's slabs (whose range ids are ``range_arr``) to their
    slab number in ``Mr`` — no per-bucket matrix copy.

    All numpy: one fancy-index gather, segment AND by run length,
    ``bitwise_and``/``bitwise_or.reduceat`` for the per-query fold.
    Exactly the semantics of the joined-row kernel (search_index.py:
    518-575 counts, :532 cutoff), pinned equal by the e2e tests.
    Returns (query_id obj array, sample_idx, kgram_hits, n_kgrams)
    or None."""
    n_slab = len(range_arr)
    order = np.argsort(range_arr, kind="stable")
    rsorted = range_arr[order]
    slab_sorted = slab_idx[order]        # Mr-row base per sorted range
    sl = S["sl"]
    rid = sl // rsize
    pos = np.searchsorted(rsorted, rid)
    posc = np.minimum(pos, n_slab - 1)
    found = rsorted[posc] == rid
    row_idx = np.where(found, slab_sorted[posc] * rsize + sl % rsize, 0)
    G = Mr[row_idx]                      # (n_hash_rows, width)
    G[~found] = 0                        # missing slice == all-zero row
    kstart, kend = S["kstart"], S["kend"]
    anded = G[kstart].copy()
    seg_len = kend - kstart
    for L in np.unique(seg_len):         # lengths are <= h
        if L == 1:
            continue
        idx = np.nonzero(seg_len == L)[0]
        for j in range(1, int(L)):
            anded[idx] &= G[kstart[idx] + j]
    qstart, qend = S["qstart"], S["qend"]
    q_nk = S["q_nk"]
    base = sbucket * bucket
    if threshold == 100:
        # exact search == AND over every k-gram row (cut == n_total ⟺
        # all rows set); padding bits are never set, so they drop out
        qa = np.bitwise_and.reduceat(anded, qstart, axis=0)
        nzq = np.nonzero(qa.any(axis=1))[0]
        if len(nzq) == 0:
            return None
        bits = np.unpackbits(qa[nzq], axis=1, bitorder="little")
        rows, cols = np.nonzero(bits)
        qidx = nzq[rows]
        hits = q_nk[qidx]
    else:
        t_int = int(threshold)
        out_r: list[int] = []
        out_c: list[np.ndarray] = []
        out_h: list[np.ndarray] = []
        kw = S["kw"]
        # candidate prefilter: a sample can only count where at least
        # one k-gram's AND bit is set, and Bloom AND rows are ~0.1%
        # dense — so OR per query first, then count ONLY the candidate
        # columns via packed-byte shifts (no 8x unpack of every row)
        qor = np.bitwise_or.reduceat(anded, qstart, axis=0)
        for qi in np.nonzero(qor.any(axis=1))[0]:
            cand = np.nonzero(
                np.unpackbits(qor[qi], bitorder="little")
            )[0]
            rows = anded[qstart[qi]:qend[qi]]
            vals = (rows[:, cand >> 3] >> (cand & 7).astype(np.uint8)) & 1
            w = kw[qstart[qi]:qend[qi]]
            counts = (vals.astype(np.int64) * w[:, None]).sum(axis=0)
            cut = (int(q_nk[qi]) * t_int + 99) // 100
            keep = counts >= cut
            if keep.any():
                out_r.append(qi)
                out_c.append(cand[keep])
                out_h.append(counts[keep])
        if not out_r:
            return None
        qidx = np.repeat(
            np.asarray(out_r, dtype=np.intp),
            [len(c) for c in out_c],
        )
        cols = np.concatenate(out_c)
        hits = np.concatenate(out_h)
    return (
        S["quniq"][S["q_code"][qidx]],
        base + cols.astype(np.int64),
        hits.astype(np.int64),
        S["q_nk"][qidx],
    )


_COUNT_SCHEMA = "query_id string, sample_idx long, kgram_hits long, n_kgrams long"

# cogrouped fused plan cap: each bucket group materializes the full
# replicated hash set in its python worker (~150 B/row as pandas), so
# past this the memory-bounded streaming joined plan wins.
_COGROUP_MAX_HASH_ROWS = 600_000


def _fused_bucket_counted(
    spark: SparkSession,
    pruned: DataFrame,
    hashes,
    threshold: int,
    bucket: int,
    rsize: int,
    width_bytes: int,
) -> DataFrame:
    """The per-bucket fused plan: ONE shuffle of the (pruned) index
    slabs keyed by sample_bucket, then a single numpy kernel finishes
    each bucket completely against the (broadcast) hash rows.

    Replaces the hash-row × sample_bucket JVM join of the small-query
    plan: the join materialized n_hash_rows × n_buckets 256-byte rows
    (5M rows / ~9 s for the 1000-query workbook) where the slab shuffle
    moves the same payload as ~12k whole slabs with zero per-row
    amplification.  ``hashes`` is a pandas DataFrame (shipped via
    ``sc.broadcast``) or a Spark DataFrame (cogrouped — the million-
    read path, which never touches the driver)."""
    slabs = pruned.select("sample_bucket", "range_id", "bits")
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    slab_bytes = rsize * width_bytes
    if isinstance(hashes, pd.DataFrame):
        bc = spark.sparkContext.broadcast(_prep_hash_struct(hashes))

        def fn(batches):
            import pyarrow as pa

            S = bc.value
            sbs: list[np.ndarray] = []
            rids: list[np.ndarray] = []
            mats: list[np.ndarray] = []
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                sbs.append(rb.column(0).to_numpy())
                rids.append(rb.column(1).to_numpy())
                arr = rb.column(2)
                # zero-copy view of the batch's slab payload: Arrow
                # binary = one data buffer + offsets (pyarrow 16: get
                # offsets from buffers()[1], there is no .offsets)
                off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
                offs = np.frombuffer(arr.buffers()[1], dtype=off_dt)[
                    arr.offset : arr.offset + n + 1
                ]
                data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
                if len(np.unique(np.diff(offs))) == 1 and offs[1] - offs[0] == slab_bytes:
                    mats.append(
                        data[offs[0] : offs[-1]].reshape(n, slab_bytes)
                    )
                else:  # ragged slabs cannot occur by construction; be safe
                    m = np.zeros((n, slab_bytes), np.uint8)
                    for i in range(n):
                        row = data[offs[i] : offs[i + 1]]
                        m[i, : len(row)] = row
                    mats.append(m)
            if not mats:
                return
            sb = np.concatenate(sbs)
            rid = np.concatenate(rids).astype(np.int64)
            Mr = np.concatenate(mats).reshape(-1, width_bytes)
            for b in np.unique(sb):
                sel = np.nonzero(sb == b)[0]
                out = _bucket_search(
                    S, threshold, bucket, rsize, width_bytes, int(b),
                    rid[sel], sel.astype(np.int64), Mr,
                )
                if out is not None:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(out[0], pa.string()),
                            pa.array(out[1], pa.int64()),
                            pa.array(out[2], pa.int64()),
                            pa.array(out[3], pa.int64()),
                        ],
                        names=["query_id", "sample_idx", "kgram_hits", "n_kgrams"],
                    )

        return slabs.repartition(shuffle_p, "sample_bucket").mapInArrow(
            fn, _COUNT_SCHEMA
        )
    # distributed hash rows: replicate the NARROW hash rows (no slab
    # payload) to every present bucket and cogroup — slabs and hash
    # rows each cross the shuffle exactly once
    # alias through a projection: the bucket list derives from the same
    # plan as the slab leg, and cogroup's analyzer rejects the shared
    # attribute id as an ambiguous self-join
    buckets_df = (
        slabs.select(F.col("sample_bucket").alias("__sb")).distinct()
        .select(F.col("__sb").alias("sample_bucket"))
    )
    hrep = hashes.crossJoin(F.broadcast(buckets_df))

    def cg(key, left, right):
        empty = pd.DataFrame(
            {"query_id": [], "sample_idx": [], "kgram_hits": [], "n_kgrams": []}
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        S = _prep_hash_struct(right)
        blobs = list(left["bits"])
        Mr = np.zeros((len(blobs) * rsize, width_bytes), np.uint8)
        flat = Mr.reshape(len(blobs), rsize * width_bytes)
        for i, b in enumerate(blobs):
            row = np.frombuffer(b, np.uint8)
            flat[i, : len(row)] = row
        out = _bucket_search(
            S, threshold, bucket, rsize, width_bytes, int(key[0]),
            left["range_id"].to_numpy().astype(np.int64),
            np.arange(len(blobs), dtype=np.int64), Mr,
        )
        if out is None:
            return empty
        return pd.DataFrame(
            {
                "query_id": out[0],
                "sample_idx": pd.array(out[1], dtype="int64"),
                "kgram_hits": pd.array(out[2], dtype="int64"),
                "n_kgrams": pd.array(out[3], dtype="int64"),
            }
        )

    return (
        slabs.groupBy("sample_bucket")
        .cogroup(hrep.groupBy("sample_bucket"))
        .applyInPandas(cg, _COUNT_SCHEMA)
    )


def _search_from_hashes(
    spark: SparkSession,
    index_df: DataFrame,
    hashes,
    cfg: SketchConfig,
    threshold: int,
    bucket: int,
    slice_buckets: list[int],
    broadcast_queries: bool = True,
    sample_ids: list[int] | None = None,
) -> DataFrame:
    """Dispatch between the two physical plans (both: one shuffle).

    ``hashes`` is a pandas DataFrame (bounded query set — the broadcast
    path) or a Spark DataFrame (million-read path).

    SMALL query sets (a handful of probes): broadcast join of the hash
    rows against the slabs, slab cut to the one needed slice JVM-side,
    shuffle the 256-byte sliced rows by (query, sample_bucket), fused
    numpy kernel.  Join output is n_hash × n_buckets rows — cheap when
    n_hash is tiny, and the only slab bytes shuffled are the slices
    actually probed.

    LARGE query sets (the 1000-query workbook and up): the join-row
    amplification dominates, so flip to :func:`_fused_bucket_counted`
    — shuffle whole (range-pruned) slabs once by sample_bucket and
    finish each bucket in one numpy kernel.  Crossover rule: fused iff
    touched_ranges × rsize <= 4 × n_hash_rows (slab bytes shuffled
    within 4x of the sliced-row bytes — row-count cost, not payload,
    is what the fused plan removes).
    """
    rsize = cfg.slice_range_size
    width_bytes = (bucket + 7) // 8
    # partition pruning: touch only the slice_buckets the query needs
    # (the binning optimization, search_index.py:578-592, for free via
    # parquet partition filters)
    pruned = index_df.filter(F.col("slice_bucket").isin(slice_buckets))
    if sample_ids is not None:
        # sample scoping, stage 1 (coarse): prune whole index cells by
        # sample_bucket BEFORE the join/AND — the reference's sample-id
        # restriction (search_index.py:549-553) lifted to the scan
        scope_buckets = sorted({int(s) // bucket for s in sample_ids})
        pruned = pruned.filter(F.col("sample_bucket").isin(scope_buckets))

    counted = None
    if isinstance(hashes, pd.DataFrame):
        ranges = np.unique(hashes["slice_id"].to_numpy().astype(np.int64) // rsize)
        if len(ranges) * rsize <= 4 * len(hashes):
            # range pruning: only slabs some query touches are shuffled
            # (bounded ISIN — len(ranges) <= n_hash_rows, broadcast-sized)
            if len(ranges) <= 8192:
                pruned = pruned.filter(
                    F.col("range_id").isin([int(r) for r in ranges])
                )
            counted = _fused_bucket_counted(
                spark, pruned, hashes, threshold, bucket, rsize, width_bytes
            )
        else:
            n_hash = len(hashes)
            hashes = spark.createDataFrame(hashes)
    else:
        # distributed hash rows: the cogrouped fused plan materializes
        # the WHOLE hash set per bucket group in each python worker, so
        # it is capped — beyond the cap (a truly million-read file) the
        # streaming joined plan below takes over: it holds only Arrow
        # batches, never the full query set, at the cost of the
        # n_hash x n_buckets row amplification.
        n_hash = hashes.count()  # hashes is localCheckpointed: ~free
        if n_hash <= _COGROUP_MAX_HASH_ROWS:
            counted = _fused_bucket_counted(
                spark, pruned, hashes, threshold, bucket, rsize, width_bytes
            )
    if counted is not None:
        result = counted.withColumn(
            "pct", F.col("kgram_hits") * F.lit(100.0) / F.col("n_kgrams")
        ).select("query_id", "sample_idx", "kgram_hits", "n_kgrams", "pct")
        if sample_ids is not None:
            result = result.filter(
                F.col("sample_idx").isin([int(s) for s in sample_ids])
            )
        return result

    hashes_df = hashes.withColumn(
        "range_id", F.expr(f"slice_id div {rsize}")
    )
    # pdf path (small probe sets): broadcast the hash rows; DF path
    # (million-read fallback past the cogroup cap): shuffle join on
    # range_id — hash rows stay distributed end-to-end
    qside = F.broadcast(hashes_df) if broadcast_queries else hashes_df
    joined = (
        pruned.join(qside, "range_id")
        .withColumn(
            "bits",
            F.expr(
                f"substring(bits, cast((slice_id % {rsize}) * {width_bytes} + 1 as int), {width_bytes})"
            ),
        )
        .select(
            "query_id", "kgram_idx", "sample_bucket", "weight", "n_slices",
            "n_kgrams", "bits",
        )
    )

    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if broadcast_queries:
        # SMALL probe sets: 64 near-empty python-kernel tasks cost more
        # in worker roundtrips than one task over a few hundred rows
        shuffle_p = max(1, min(shuffle_p, n_hash // 256 + 1))
    else:
        # million-read fallback: the kernel materializes its partition
        # in pandas, so bound per-task state by scaling partitions UP
        # with the hash-row count (§5 "more partitions, smaller
        # per-task state"; the joined rows are n_hash x n_buckets)
        shuffle_p = max(shuffle_p, min(8192, n_hash // 2000))
    # NO Spark sort here: Catalyst reorders Project(substring) above a
    # Sort (the sort keys don't need `bits`), which would make the sort
    # carry whole 64KB slabs (observed 19 GB spill).  The kernel sorts
    # its partition in numpy instead — trivial at partition size.
    arranged = joined.repartition(shuffle_p, "query_id", "sample_bucket")

    # threshold applied INSIDE the kernel: a sample lives in exactly one
    # bucket, so per-bucket counts are final — emitting sub-threshold
    # rows would leak every Bloom false positive (~fpr × n_kgrams ×
    # corpus rows of output at scale).  The cutoff ceil(n*t/100) is
    # computed per segment from the n_kgrams COLUMN (search_index.py:532
    # semantics) — no driver-side per-query dict, so the plan is
    # identical for 4 probes or a million-read query file.
    t_int = int(threshold)

    count_schema = "query_id string, sample_idx long, kgram_hits long, n_kgrams long"

    def fused(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if len(pdf) == 0:
            return
        qcodes, quniq = pd.factorize(pdf["query_id"], sort=False)
        order = np.lexsort(
            (pdf["kgram_idx"].to_numpy(), pdf["sample_bucket"].to_numpy(), qcodes)
        )
        pdf = pdf.iloc[order].reset_index(drop=True)
        qids = pdf["query_id"].to_numpy()
        sbuckets = pdf["sample_bucket"].to_numpy()
        kgrams = pdf["kgram_idx"].to_numpy()
        weights = pdf["weight"].to_numpy().astype(np.int64)
        n_slices = pdf["n_slices"].to_numpy().astype(np.int64)
        nk = pdf["n_kgrams"].to_numpy().astype(np.int64)
        mats = np.frombuffer(b"".join(pdf["bits"]), dtype=np.uint8).reshape(
            len(pdf), width_bytes
        )
        # segment boundaries at (query, sample_bucket, kgram) changes —
        # rows were just sorted above
        change = np.nonzero(
            (qids[1:] != qids[:-1])
            | (sbuckets[1:] != sbuckets[:-1])
            | (kgrams[1:] != kgrams[:-1])
        )[0] + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        # a k-gram hits only when ALL its distinct slices are present
        valid = (ends - starts) == n_slices[starts]
        vstarts, vends = starts[valid], ends[valid]
        if len(vstarts) == 0:
            return
        # AND each valid segment, vectorized by segment length (lengths
        # are tiny — at most h distinct slice rows per k-gram)
        seg_len = vends - vstarts
        anded = mats[vstarts].copy()
        for L in np.unique(seg_len):
            if L == 1:
                continue
            idx = np.nonzero(seg_len == L)[0]
            for j in range(1, int(L)):
                anded[idx] &= mats[vstarts[idx] + j]
        kweights = weights[vstarts]
        seg_nk = nk[vstarts]
        # outer grouping: (query, sample_bucket) runs over valid segments
        gq = qids[vstarts]
        gb = sbuckets[vstarts]
        gchange = np.nonzero((gq[1:] != gq[:-1]) | (gb[1:] != gb[:-1]))[0] + 1
        gstarts = np.concatenate(([0], gchange))
        gends = np.concatenate((gchange, [len(vstarts)]))
        out_q: list[str] = []
        out_s: list[int] = []
        out_h: list[int] = []
        out_n: list[int] = []
        for s, e in zip(gstarts, gends):
            n_total = int(seg_nk[s])
            cut = (n_total * t_int + 99) // 100
            if t_int == 100:
                # exact-search fast path: counts[j] = Σ w_seg·bit_seg[j]
                # with cut = n_total = Σ w_seg (w_seg >= 1), so
                # counts >= cut  ⟺  every k-gram row has bit j set —
                # one byte-level AND reduce instead of unpack + int64
                # multiply-sum (~64x less memory traffic; this box is
                # RAM-bandwidth-bound).  Store padding bits are never
                # set, so they AND to 0 exactly like counts < cut.
                row = (
                    anded[s]
                    if e - s == 1
                    else np.bitwise_and.reduce(anded[s:e], axis=0)
                )
                nz = np.nonzero(np.unpackbits(row, bitorder="little"))[0]
                if len(nz) == 0:
                    continue
                hits = [n_total] * len(nz)  # all-hit by definition
            else:
                bits = np.unpackbits(anded[s:e], axis=1, bitorder="little")
                counts = (bits.astype(np.int64) * kweights[s:e, None]).sum(axis=0)
                nz = np.nonzero(counts >= cut)[0]
                if len(nz) == 0:
                    continue
                hits = counts[nz].tolist()
            base = int(gb[s]) * bucket
            out_q.extend([gq[s]] * len(nz))
            out_s.extend((base + nz).tolist())
            out_h.extend(hits)
            out_n.extend([n_total] * len(nz))
        yield pd.DataFrame(
            {
                "query_id": out_q,
                "sample_idx": pd.array(out_s, dtype="int64"),
                "kgram_hits": pd.array(out_h, dtype="int64"),
                "n_kgrams": pd.array(out_n, dtype="int64"),
            }
        )

    counted = arranged.mapInPandas(fused, count_schema)

    # threshold already enforced in the kernel (exact integer
    # ceil(n*t/100), search_index.py:532); n_kgrams rode along with the
    # hash rows so there is no totals join at all
    result = counted.withColumn(
        "pct", F.col("kgram_hits") * F.lit(100.0) / F.col("n_kgrams")
    ).select("query_id", "sample_idx", "kgram_hits", "n_kgrams", "pct")
    if sample_ids is not None:
        # sample scoping, stage 2 (exact): bucket pruning above is
        # coarse — trim to the exact id set
        result = result.filter(
            F.col("sample_idx").isin([int(s) for s in sample_ids])
        )
    return result


