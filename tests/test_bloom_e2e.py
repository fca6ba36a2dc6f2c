"""End-to-end Bloom pipeline tests: build -> index -> search on Spark."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from metaprofi_spark import SketchConfig
from metaprofi_spark.operators import (
    build_index,
    build_matrix,
    build_matrix_grouped,
    load_index,
    matrix_summary,
    persist_index,
    search,
)
from tests.conftest import SF_DIR

CFG = SketchConfig(k=8, h=2, m=1 << 16, chunk_bits=1 << 13, slice_buckets=16)
BUCKET = 64  # small sample_bucket_size to exercise multi-bucket paths


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def index(spark, docs):
    bf = build_matrix(docs, CFG, id_col="doc_id", text_col="text")
    idx = build_index(bf, CFG, sample_bucket_size=BUCKET).cache()
    idx.count()
    return idx


def test_matrix_shape(spark, docs):
    bf = build_matrix(docs, CFG)
    rows = bf.collect()
    assert rows, "matrix should not be empty"
    n_docs = docs.count()
    assert len({r.sample_idx for r in rows}) == n_docs
    for r in rows[:20]:
        assert 0 <= r.chunk_id < CFG.n_chunks
        assert len(r.bf) == CFG.chunk_bytes


def test_index_sparse_and_bucketed(index):
    from metaprofi_spark.operators.bloom_index import slice_bucket_size

    rows = index.limit(200).collect()
    assert rows
    sb_size = slice_bucket_size(CFG)
    rsize = CFG.slice_range_size
    width = (BUCKET + 7) // 8
    for r in rows:
        assert 0 <= r.range_id * rsize < CFG.m_padded
        assert r.slice_bucket == (r.range_id * rsize) // sb_size
        assert len(r.bits) == rsize * width  # fixed-size slab
        # sparse: stored slabs are nonzero
        assert any(b for b in r.bits)


def test_zero_false_negatives(spark, docs, index):
    """Every substring of an indexed doc MUST be found (exact search)."""
    sample = docs.orderBy("doc_id").limit(5).collect()
    queries = [
        (f"q{r.doc_id}", r.text[3 : 3 + 4 * CFG.k]) for r in sample if len(r.text) > 5 * CFG.k
    ]
    assert queries
    res = search(spark, index, queries, CFG, threshold=100, sample_bucket_size=BUCKET)
    got = {(r.query_id, r.sample_idx) for r in res.collect()}
    for qid, _ in queries:
        assert (qid, int(qid[1:])) in got, f"false negative for {qid}"


def test_exact_search_full_text(spark, docs, index):
    """A whole document as query must match (at least) its own doc."""
    r0 = docs.orderBy("doc_id").first()
    res = search(spark, index, [("full", r0.text)], CFG, 100, BUCKET).collect()
    assert any(row.sample_idx == r0.doc_id for row in res)
    for row in res:
        assert row.kgram_hits == row.n_kgrams
        assert row.pct == 100.0


def test_absent_kgram_fpr_bound(spark, docs, index):
    """Decoy k-grams (chars outside the corpus alphabet) must rarely hit:
    measured FPR <= 1.2 x (1 - e^(-hn/m))^h with n = per-doc k-grams."""
    rng = np.random.default_rng(7)
    alphabet = np.frombuffer(b"@#%&*+=~^|<>{}[]", dtype=np.uint8)
    decoys = [
        ("d%d" % i, bytes(rng.choice(alphabet, CFG.k)).decode())
        for i in range(200)
    ]
    res = search(spark, index, decoys, CFG, 100, BUCKET)
    n_docs = docs.count()
    hits = res.count()
    # bound per (decoy, doc) trial; per-doc n is ~300 kgrams at sf0.001
    texts = [r.text for r in docs.select("text").collect()]
    avg_n = float(np.mean([max(len(t.encode()) - CFG.k + 1, 0) for t in texts]))
    fpr_bound = CFG.fpr(int(avg_n))
    measured = hits / (len(decoys) * n_docs)
    assert measured <= 1.2 * fpr_bound + 1e-9, (measured, fpr_bound)


def test_threshold_monotonicity(spark, docs, index):
    """Lowering t can only grow the result set (search_index.py:532)."""
    r0 = docs.orderBy("doc_id").first()
    # half-real half-garbage query => partial hit percentage
    q = [("mix", r0.text[: 6 * CFG.k] + "@@@@@@@@@@@@@@@@@@@@@@@@")]
    sizes = {}
    for t in (100, 75, 40, 10):
        sizes[t] = search(spark, index, q, CFG, t, BUCKET).count()
    assert sizes[100] <= sizes[75] <= sizes[40] <= sizes[10]
    assert sizes[10] >= 1  # its own doc passes a low threshold


def test_grouped_build_equals_merged_singles(spark, docs):
    """bf(group) == OR of per-row filters — merge associativity on Spark."""
    from metaprofi_spark.kernels import or_reduce

    grouped = build_matrix_grouped(docs, CFG, group_col="lang").collect()
    singles = build_matrix(docs, CFG).collect()
    id_lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    merged = {}
    for r in singles:
        key = (id_lang[r.sample_idx], r.chunk_id)
        merged.setdefault(key, []).append(r.bf)
    expect = {k: or_reduce(v, CFG.chunk_bytes) for k, v in merged.items()}
    got = {(r.group_key, r.chunk_id): r.bf for r in grouped}
    assert got == expect


def test_persist_load_roundtrip(spark, docs, index, tmp_path):
    path = str(tmp_path / "store")
    persist_index(index, path, CFG, n_samples=docs.count(), sample_bucket_size=BUCKET)
    loaded, stored_cfg, manifest = load_index(spark, path, CFG)
    assert stored_cfg == CFG
    assert manifest["n_samples"] == docs.count()
    assert loaded.count() == index.count()
    # partition pruning is real: parquet layout has seg=/slice_bucket= dirs
    import os

    seg_dir = os.path.join(path, "index", "seg=u0")
    assert any("slice_bucket=" in d for d in os.listdir(seg_dir))
    # config mismatch refused
    with pytest.raises(ValueError):
        load_index(spark, path, SketchConfig(k=9))


def test_summary(spark, docs):
    bf = build_matrix(docs, CFG)
    s = matrix_summary(bf, CFG)
    assert s["n_samples"] == docs.count()
    assert 0 < s["fill_ratio"] < 1
    assert s["set_bits"] > 0


def test_search_df_equals_search(spark, docs, index):
    """Distributed-hash file-query path == driver-hash path."""
    from metaprofi_spark.operators import search_df

    sample = docs.orderBy("doc_id").limit(4).collect()
    qlist = [(f"q{r.doc_id}", r.text[: 6 * CFG.k]) for r in sample]
    qdf = spark.createDataFrame(qlist, "query_id string, query_text string")
    a = {(r.query_id, r.sample_idx, r.kgram_hits)
         for r in search(spark, index, qlist, CFG, 75, BUCKET).collect()}
    b = {(r.query_id, r.sample_idx, r.kgram_hits)
         for r in search_df(spark, index, qdf, CFG, 75, BUCKET).collect()}
    assert a == b and a


def test_search_plan_prunes_partitions_and_columns(spark, docs, tmp_path):
    """Scale properties pinned in the PHYSICAL PLAN: a search over a
    persisted store must (a) prune parquet partitions to the
    slice_buckets its hash positions live in, and (b) scan only the
    columns it needs (column pruning through the whole plan)."""
    path = str(tmp_path / "planstore")
    persist_index(
        build_index(build_matrix(docs, CFG), CFG, sample_bucket_size=BUCKET),
        path, CFG, n_samples=docs.count(), sample_bucket_size=BUCKET,
    )
    from metaprofi_spark.operators import load_index

    loaded, _, manifest = load_index(spark, path, CFG)
    r0 = docs.orderBy("doc_id").first()
    res = search(spark, loaded, [("q", r0.text[: 3 * CFG.k])],
                 CFG, 100, manifest["sample_bucket_size"])
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "slice_bucket" in plan, plan
    # column pruning: the parquet scan reads exactly the data columns
    assert "ReadSchema: struct<range_id:bigint,sample_bucket:int,bits:binary>" in plan, plan


def test_build_matrix_plan_prunes_columns(spark, docs, tmp_path):
    """The build scan reads ONLY (doc_id, text) — lang/source/n_chars
    are pruned at the parquet reader.  (Needs a path no fixture has
    .cache()'d: the cache manager substitutes any same-path read, and a
    cache-population scan always reads every column.)"""
    path = str(tmp_path / "plaindocs.parquet")
    docs.write.mode("overwrite").parquet(path)
    bf = build_matrix(spark.read.parquet(path), CFG)
    plan = bf._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan


def test_index_duplicate_sample_rows_or_merged(spark):
    """Two matrix rows with the SAME sample_idx must OR into the index
    (last-writer-wins would drop bits => false negatives)."""
    t1 = "abcdefghijklmnopqrstuvwxyz012345"
    t2 = "zyxwvutsrqponmlkjihgfedcba987650"
    df1 = spark.createDataFrame([(5, t1)], "doc_id long, text string")
    df2 = spark.createDataFrame([(5, t2)], "doc_id long, text string")
    bf = build_matrix(df1, CFG).unionByName(build_matrix(df2, CFG))
    idx = build_index(bf, CFG, sample_bucket_size=BUCKET)
    res = search(
        spark, idx,
        [("a", t1[: 3 * CFG.k]), ("b", t2[: 3 * CFG.k])],
        CFG, 100, BUCKET,
    )
    got = {(r.query_id, r.sample_idx) for r in res.collect()}
    assert ("a", 5) in got and ("b", 5) in got


def test_config_rejects_non_byte_m():
    with pytest.raises(ValueError):
        SketchConfig(m=1 << 16 | 4)


def test_densify_samples_dense_and_parallel(spark):
    """sample_idx is 0..n-1 in id order, computed WITHOUT a global-sort
    single-partition exchange."""
    from metaprofi_spark.operators import densify_samples

    rows = [(i * 7 + 3, f"t{i}") for i in range(501)]  # sparse, shuffled ids
    import random

    random.Random(5).shuffle(rows)
    df = spark.createDataFrame(rows, "uid long, text string").repartition(8)
    out = densify_samples(df, "uid", num_partitions=8)
    got = {r.uid: r.sample_idx for r in out.collect()}
    expect = {uid: i for i, (uid, _) in enumerate(sorted(rows))}
    assert got == expect
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_densify_samples_deterministic_at_scale(spark):
    """Regression (r2 advice): with repartitionByRange +
    spark_partition_id, the range sampler's per-execution seed assigned
    rows to DIFFERENT buckets in the counting pass vs the ranking pass
    once partitions exceeded the sample — 400k rows yielded only ~386k
    distinct sample_idx (silent index corruption).  The bucket id is now
    a pure function of the id, so every evaluation of the lazy plan must
    produce the same dense 0..n-1 assignment."""
    from metaprofi_spark.operators import densify_samples

    n = 400_000
    df = spark.range(n).select((F.col("id") * 2654435761 % 1_000_000_007).alias("uid"))
    out = densify_samples(df, "uid", num_partitions=64)
    # evaluation 1: dense, no duplicates
    agg = out.agg(
        F.countDistinct("sample_idx").alias("nd"),
        F.min("sample_idx").alias("lo"),
        F.max("sample_idx").alias("hi"),
        F.count("*").alias("n"),
    ).first()
    assert (agg["nd"], agg["lo"], agg["hi"], agg["n"]) == (n, 0, n - 1, n)
    # evaluation 2 (fresh jobs over the same lazy plan): identical map
    rehash = out.agg(
        F.bit_xor(F.xxhash64("uid", "sample_idx")).alias("s")
    ).first()["s"]
    rehash2 = out.agg(
        F.bit_xor(F.xxhash64("uid", "sample_idx")).alias("s")
    ).first()["s"]
    assert rehash == rehash2


def test_search_df_shuffle_join_equals_broadcast(spark, docs, index):
    """broadcast_queries=False (the million-read shape) == broadcast plan."""
    from metaprofi_spark.operators import search_df

    sample = docs.orderBy("doc_id").limit(4).collect()
    qlist = [(f"q{r.doc_id}", r.text[: 6 * CFG.k]) for r in sample]
    qdf = spark.createDataFrame(qlist, "query_id string, query_text string")
    a = {(r.query_id, r.sample_idx, r.kgram_hits, r.n_kgrams)
         for r in search_df(spark, index, qdf, CFG, 75, BUCKET).collect()}
    b = {(r.query_id, r.sample_idx, r.kgram_hits, r.n_kgrams)
         for r in search_df(spark, index, qdf, CFG, 75, BUCKET,
                            broadcast_queries=False).collect()}
    assert a == b and a


def test_search_df_joined_fallback_equals_broadcast(spark, docs, index, monkeypatch):
    """The streaming joined plan (the non-broadcast tier past the
    cogroup hash-row cap) == the broadcast plan.  The cap is forced to
    0 so the fallback runs on a small query set."""
    from metaprofi_spark.operators import bloom_search, search_df

    monkeypatch.setattr(bloom_search, "_COGROUP_MAX_HASH_ROWS", 0)
    sample = docs.orderBy("doc_id").limit(4).collect()
    qlist = [(f"q{r.doc_id}", r.text[: 6 * CFG.k]) for r in sample]
    qdf = spark.createDataFrame(qlist, "query_id string, query_text string")
    a = {(r.query_id, r.sample_idx, r.kgram_hits, r.n_kgrams)
         for r in search_df(spark, index, qdf, CFG, 75, BUCKET).collect()}
    b = {(r.query_id, r.sample_idx, r.kgram_hits, r.n_kgrams)
         for r in search_df(spark, index, qdf, CFG, 75, BUCKET,
                            broadcast_queries=False).collect()}
    assert a == b and a


def test_sample_scoped_search(spark, docs, index):
    """Scoped search == unscoped results post-filtered to the id set,
    AND the scoped plan prunes sample_buckets before the AND stage."""
    r0 = docs.orderBy("doc_id").first()
    q = [("s", r0.text[: 8 * CFG.k])]
    full = search(spark, index, q, CFG, 40, BUCKET)
    all_ids = sorted(r.sample_idx for r in full.collect())
    assert all_ids
    scope = all_ids[: max(len(all_ids) // 2, 1)] + [10**9]  # + absent id
    scoped = search(spark, index, q, CFG, 40, BUCKET, sample_ids=scope)
    got = sorted(r.sample_idx for r in scoped.collect())
    assert got == sorted(set(all_ids) & set(scope))
    # coarse pruning is in the plan: sample_bucket filter before the join
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "sample_bucket" in plan


def test_fused_build_equals_two_stage(spark, docs):
    """build_index_fused == build_matrix |> build_index (slab-exact)."""
    from metaprofi_spark.operators import build_index_fused

    def slabs(d, cfg=CFG):
        fused = build_index_fused(d, cfg, sample_bucket_size=BUCKET)
        two = build_index(build_matrix(d, cfg), cfg, sample_bucket_size=BUCKET)
        a = {(r.range_id, r.sample_bucket, bytes(r.bits), r.slice_bucket) for r in fused.collect()}
        b = {(r.range_id, r.sample_bucket, bytes(r.bits), r.slice_bucket) for r in two.collect()}
        assert a == b and a
        return a

    full = slabs(docs)
    # gappy ids (every third dropped) plus one id carried by two docs:
    # the two-stage build scatters them into a dense matrix and ORs the
    # repeat, the fused build sets both docs' bits in one row
    gappy = docs.select("doc_id", "text").filter(F.col("doc_id") % 3 != 0)
    first, other = gappy.orderBy("doc_id").limit(2).collect()
    dup = spark.createDataFrame([(first.doc_id, other.text)], gappy.schema)
    assert slabs(gappy.unionByName(dup)) != full
    # m not a multiple of chunk_bits: the last chunk is narrower than
    # chunk_bits, and its top slab still comes out
    cfg = SketchConfig(k=8, h=2, m=3 * 8192 + 800, chunk_bits=8192, slice_buckets=8)
    tail = slabs(docs.filter(F.col("doc_id") < 120), cfg)
    assert max(r[0] for r in tail) == (cfg.m - 1) // cfg.slice_range_size


def test_hash_queries_vectorized_semantics():
    """Batch-vectorized hash_queries: weights count k-gram OCCURRENCES,
    n_slices counts DISTINCT positions per k-gram, kgram_idx is the
    per-query sorted-unique rank, zero-window queries still appear in
    the totals dict."""
    from metaprofi_spark.operators.bloom_search import hash_queries

    cfg = SketchConfig(k=3, h=2, m=1 << 16, chunk_bits=1 << 13, slice_buckets=4)
    pdf, n_kgrams = hash_queries(
        [("dup", "abcabcabc"), ("tiny", "ab"), ("one", "xyz")], cfg
    )
    assert n_kgrams == {"dup": 7, "tiny": 0, "one": 1}
    dup = pdf[pdf["query_id"] == "dup"]
    # unique windows of "abcabcabc": abc(x3), bca(x2), cab(x2), sorted
    w = {int(k): int(v) for k, v in zip(dup["kgram_idx"], dup["weight"])}
    assert w == {0: 3, 1: 2, 2: 2}
    for _, row in dup.iterrows():
        grp = dup[dup["kgram_idx"] == row["kgram_idx"]]
        assert (grp["n_slices"] == len(grp)).all()
        assert grp["slice_id"].is_unique
    assert set(pdf["query_id"]) == {"dup", "one"}


def test_search_df_degenerate_queries(spark, index):
    """Query files with empty/too-short texts: no rows, no crashes."""
    from metaprofi_spark.operators import search_df

    qdf = spark.createDataFrame(
        [("e", ""), ("s", "ab"), ("n", None)],
        "query_id string, query_text string",
    )
    assert search_df(spark, index, qdf, CFG, 100, BUCKET).count() == 0
