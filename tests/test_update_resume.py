"""Incremental append, checkpoint-resume, streaming, sources, report IO."""

import os

import pytest
from pyspark.sql import functions as F

from metaprofi_spark import SketchConfig
from metaprofi_spark.operators import build_index, build_matrix, persist_index, search
from metaprofi_spark.operators.bloom_search import format_results, parse_results
from metaprofi_spark.operators.bloom_update import update_index, update_store
from metaprofi_spark.plans.lineage import (
    build_index_resumable,
    read_lineage,
    read_resumable_index,
)
from tests.conftest import SF_DIR

CFG = SketchConfig(k=8, h=2, m=1 << 16, chunk_bits=1 << 14, slice_buckets=8)
BUCKET = 256  # divides 500-doc corpus into 2 buckets


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def _results_set(spark, idx, queries, t=100):
    res = search(spark, idx, queries, CFG, t, BUCKET)
    return {(r.query_id, r.sample_idx, r.kgram_hits) for r in res.collect()}


def test_update_index_equals_full_build(spark, docs):
    """Aligned append: build on first 256 docs + update with the rest
    must answer queries identically to a one-shot full build."""
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = (
        docs.filter(F.col("doc_id") >= BUCKET)
        .withColumn("doc_id", F.col("doc_id") - BUCKET)  # dense 0..n-1
    )
    idx1 = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    idx2, dim, n_total = update_index(idx1, rest, CFG, BUCKET, BUCKET)
    assert n_total == docs.count()

    full = build_index(build_matrix(docs, CFG), CFG, sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").limit(3).collect()
    queries = [(f"q{r.doc_id}", r.text[: 5 * CFG.k]) for r in probe]
    assert _results_set(spark, idx2, queries) == _results_set(spark, full, queries)
    # dim maps appended global idx back to original ids
    m = {r.sample_idx: r.sample_id for r in dim.collect()}
    assert m[BUCKET] == 0 and len(m) == docs.count() - BUCKET


def test_update_store_bumps_manifest(spark, docs, tmp_path):
    path = str(tmp_path / "store")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    manifest = update_store(spark, path, rest, CFG, BUCKET)
    assert manifest["update_count"] == 1
    assert manifest["n_samples"] == docs.count()
    # config mismatch refused
    with pytest.raises(ValueError):
        update_store(spark, path, rest, SketchConfig(k=9), BUCKET)


def test_update_store_crash_between_write_and_commit(spark, docs, tmp_path):
    """Kill-between-steps: a crash after the segment lands but before
    the manifest commit leaves the store readable at the OLD snapshot;
    a retry produces exactly the clean-update result (no duplicates)."""
    import json

    from metaprofi_spark.operators import load_index

    path = str(tmp_path / "crashstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    old_rows = load_index(spark, path)[0].count()
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        update_store(spark, path, rest, CFG, BUCKET, fail_before_commit=True)
    # orphan segment exists on disk but the store still reads OLD state
    assert os.path.isdir(os.path.join(path, "index", "seg=u1"))
    df_after_crash, _, m_after_crash = load_index(spark, path)
    assert m_after_crash["segments"] == ["u0"]
    assert m_after_crash["n_samples"] == BUCKET
    assert df_after_crash.count() == old_rows
    # retry commits; result equals a never-crashed update
    manifest = update_store(spark, path, rest, CFG, BUCKET)
    assert manifest["segments"] == ["u0", "u1"]
    assert manifest["n_samples"] == docs.count()
    clean = str(tmp_path / "cleanstore")
    persist_index(idx, clean, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    update_store(spark, clean, rest, CFG, BUCKET)
    a = {(r.range_id, r.sample_bucket, bytes(r.bits))
         for r in load_index(spark, path)[0].collect()}
    b = {(r.range_id, r.sample_bucket, bytes(r.bits))
         for r in load_index(spark, clean)[0].collect()}
    assert a == b
    # no duplicate slabs after the retry
    dup = load_index(spark, path)[0].count()
    assert dup == len(a)
    # update recorded in lineage with metrics
    with open(os.path.join(path, "lineage.json")) as f:
        lineage = json.load(f)
    assert lineage["updates"]["u1"]["n_new_samples"] == docs.count() - BUCKET


def test_resumable_build_recovers_from_crash(spark, docs, tmp_path):
    path = str(tmp_path / "resumable")
    bf = build_matrix(docs, CFG).cache()
    bf.count()
    # crash after 1 of 4 chunks
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(
            spark, bf, CFG, path, sample_bucket_size=BUCKET, fail_after_chunks=1
        )
    partial = read_lineage(path)
    assert len(partial["completed"]) == 1
    # resume: completes only the remaining chunks
    lineage = build_index_resumable(spark, bf, CFG, path, sample_bucket_size=BUCKET)
    assert len(lineage["completed"]) == CFG.n_chunks
    resumed = read_resumable_index(spark, path)
    oneshot = build_index(bf, CFG, sample_bucket_size=BUCKET)
    a = {(r.range_id, r.sample_bucket, bytes(r.bits)) for r in resumed.collect()}
    b = {(r.range_id, r.sample_bucket, bytes(r.bits)) for r in oneshot.collect()}
    assert a == b
    bf.unpersist()


def test_streaming_append(spark, docs, tmp_path):
    from metaprofi_spark.streaming.append import stream_append

    src_dir = str(tmp_path / "incoming")
    store = str(tmp_path / "stream_store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    # store seeded with the first bucket
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, store, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    # stream in the rest as one file
    docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    ).write.parquet(src_dir + "/batch1", mode="overwrite")
    stream = (
        spark.readStream.schema(docs.schema).parquet(src_dir + "/*")
    )
    q = stream_append(stream, store, CFG, ckpt)
    q.processAllAvailable()
    q.stop()
    import json

    with open(os.path.join(store, "manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["n_samples"] == docs.count()
    assert manifest["update_count"] == 1


def test_manifest_scan(spark, tmp_path):
    from metaprofi_spark.sources.manifest import parse_manifest, sniff_format

    p = tmp_path / "input.txt"
    p.write_text(
        "# comment\n\nsampleA: /x/a1.fa; /x/a2.fa\nsampleB: /x/b.fq\n"
    )
    rows = {r.sample_id: r.paths for r in parse_manifest(spark, str(p)).collect()}
    assert rows == {"sampleA": ["/x/a1.fa", "/x/a2.fa"], "sampleB": ["/x/b.fq"]}
    bad = tmp_path / "bad.txt"
    bad.write_text("no colon here\n")
    with pytest.raises(ValueError, match="malformed"):
        parse_manifest(spark, str(bad))
    assert sniff_format(b"\x1f\x8bxx") == "gzip"
    assert sniff_format(b">seq1") == "fasta"
    assert sniff_format(b"@read1") == "fastq"


def test_fasta_fastq_sources(spark, tmp_path):
    from metaprofi_spark.sources.fasta import read_fasta, read_fastq

    fa = tmp_path / "t.fa"
    fa.write_text(">s1 desc\nACGT\nacgt\n>s2\nTTTT\n")
    rows = {r.name: r.seq for r in read_fasta(spark, str(fa)).collect()}
    assert rows == {"s1 desc": "ACGTACGT", "s2": "TTTT"}
    fq = tmp_path / "t.fq"
    fq.write_text("@r1\nacgt\n+\nIIII\n@r2\nGGGG\n+\nJJJJ\n")
    rows = {r.name: (r.seq, r.qual) for r in read_fastq(spark, str(fq)).collect()}
    assert rows == {"r1": ("ACGT", "IIII"), "r2": ("GGGG", "JJJJ")}


def test_compressed_fasta_fastq_sources(spark, tmp_path):
    """gzip FASTA rides the text codec; gzip FASTQ is sniffed by magic
    inside the whole-file parser (the reference reads compressed FASTQ,
    utilities.py:508-523)."""
    import gzip

    from metaprofi_spark.sources.fasta import read_fasta, read_fastq

    fa = tmp_path / "t.fa.gz"
    with gzip.open(fa, "wt") as f:
        f.write(">s1 desc\nACGT\nacgt\n>s2\nTTTT\n")
    rows = {r.name: r.seq for r in read_fasta(spark, str(fa)).collect()}
    assert rows == {"s1 desc": "ACGTACGT", "s2": "TTTT"}
    fq = tmp_path / "t.fq.gz"
    with gzip.open(fq, "wt") as f:
        f.write("@r1\nacgt\n+\nIIII\n@r2\nGGGG\n+\nJJJJ\n")
    rows = {r.name: (r.seq, r.qual) for r in read_fastq(spark, str(fq)).collect()}
    assert rows == {"r1": ("ACGT", "IIII"), "r2": ("GGGG", "JJJJ")}


def test_bio_kernels():
    from metaprofi_spark.kernels.bio import (
        canonical_kmer,
        revcomp,
        six_frame_translation,
    )

    assert revcomp("ACGT") == "ACGT"
    assert revcomp("AACC") == "GGTT"
    assert canonical_kmer("TTGG") == "CCAA"
    frames = six_frame_translation("ATGGCCTAA")
    assert "MA_" in frames and len(frames) == 6


def test_results_roundtrip():
    class R:  # lightweight row
        def __init__(self, q, s, h, n, p):
            self.query_id, self.sample_idx, self.kgram_hits = q, s, h
            self.n_kgrams, self.pct = n, p

        def __getitem__(self, k):
            return getattr(self, k)

    rows = [R("q1", 3, 10, 10, 100.0), R("q1", 7, 10, 10, 100.0), R("q2", 1, 10, 10, 100.0)]
    text = format_results(rows, 100)
    parsed = parse_results(text)
    assert parsed == {"q1": [{"sample": 3}, {"sample": 7}], "q2": [{"sample": 1}]}
    text40 = format_results([R("q1", 3, 4, 10, 40.0)], 40)
    parsed40 = parse_results(text40)
    assert parsed40["q1"][0] == {"sample": 3, "hits": 4, "pct": 40.0}


def test_store_summary(spark, docs, tmp_path):
    from metaprofi_spark.operators import build_index, build_matrix, persist_index, store_summary

    path = str(tmp_path / "sumstore")
    idx = build_index(build_matrix(docs, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=docs.count(), sample_bucket_size=BUCKET)
    s = store_summary(spark, path)
    assert s["n_samples"] == docs.count()
    assert s["slabs"] > 0 and s["logical_bytes"] > 0 and s["stored_bytes"] > 0
    assert s["compression_ratio"] is not None


def test_api_facade_lifecycle(spark, docs, tmp_path):
    """build -> summary -> update -> query (list + DataFrame + report)."""
    from metaprofi_spark import api

    path = str(tmp_path / "apistore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    s = api.build(spark, first, CFG, path, sample_bucket_size=BUCKET)
    assert s["n_samples"] == BUCKET
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    m = api.update(spark, path, rest, CFG)
    assert m["n_samples"] == docs.count() and m["update_count"] == 1
    r0 = docs.orderBy("doc_id").first()
    report = str(tmp_path / "report.txt")
    res = api.query(spark, path, [("q0", r0.text[:40])], 100, CFG, write_to_file=report)
    assert any(r.sample_idx == r0.doc_id for r in res.collect())
    from metaprofi_spark.operators import parse_results
    parsed = parse_results(open(report).read())
    assert 0 in [d["sample"] for d in parsed["q0"]]
    # DataFrame query path through the same facade
    qdf = spark.createDataFrame([("q0", r0.text[:40])], "query_id string, query_text string")
    res2 = api.query(spark, path, qdf, 100, CFG)
    assert {r.sample_idx for r in res2.collect()} == {r.sample_idx for r in res.collect()}
    # config mismatch refused at the facade too
    with pytest.raises(ValueError):
        api.query(spark, path, [("q", "x" * 30)], 100, SketchConfig(k=9))


def test_matrix_store_roundtrip(spark, docs, tmp_path):
    from metaprofi_spark.operators import (
        build_index, build_matrix, load_matrix, persist_matrix,
    )

    path = str(tmp_path / "mstore")
    bf = build_matrix(docs, CFG)
    persist_matrix(bf, path, CFG, n_samples=docs.count())
    loaded, stored_cfg, manifest = load_matrix(spark, path, CFG)
    assert stored_cfg == CFG and manifest["n_samples"] == docs.count()
    # index built from the persisted matrix == index from the live one
    a = {(r.range_id, r.sample_bucket, bytes(r.bits))
         for r in build_index(loaded, CFG, sample_bucket_size=BUCKET).collect()}
    b = {(r.range_id, r.sample_bucket, bytes(r.bits))
         for r in build_index(bf, CFG, sample_bucket_size=BUCKET).collect()}
    assert a == b
    with pytest.raises(ValueError):
        load_matrix(spark, path, SketchConfig(k=9))


def test_api_build_grouped_lifecycle(spark, docs, tmp_path):
    """File-level sample mode (the reference's `build`): one sample per
    lang group, dim table persisted, group-scoped search works."""
    from metaprofi_spark import api
    from metaprofi_spark.kernels import or_reduce
    from metaprofi_spark.operators import build_matrix

    path = str(tmp_path / "groupstore")
    s = api.build_grouped(spark, docs, CFG, path, group_col="lang",
                          sample_bucket_size=BUCKET)
    langs = sorted(r.lang for r in docs.select("lang").distinct().collect())
    assert s["n_samples"] == len(langs)
    dim = {r.group_key: r.sample_idx for r in api.samples_dim(spark, path).collect()}
    assert sorted(dim) == langs and sorted(dim.values()) == list(range(len(langs)))
    # a substring of a doc must hit (at least) its lang's sample
    r0 = docs.orderBy("doc_id").first()
    res = api.query(spark, path, [("q", r0.text[: 5 * CFG.k])], 100, CFG)
    assert dim[r0.lang] in {r.sample_idx for r in res.collect()}


def test_cli_grouped_build_and_search(spark, docs, tmp_path, capsys):
    from metaprofi_spark.__main__ import main

    inp = str(tmp_path / "docs.parquet")
    docs.limit(100).write.mode("overwrite").parquet(inp)
    store = str(tmp_path / "clistore")
    rc = main([
        "build", "--input", inp, "--store", store, "--group-col", "lang",
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ])
    assert rc == 0
    import json as _json

    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_samples"] >= 1
    assert os.path.isdir(os.path.join(store, "samples"))


def test_cli_search_with_scoping(spark, docs, tmp_path, capsys):
    from metaprofi_spark.__main__ import main

    inp = str(tmp_path / "docs2.parquet")
    docs.limit(60).write.mode("overwrite").parquet(inp)
    store = str(tmp_path / "clistore2")
    rc = main([
        "build", "--input", inp, "--store", store,
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ])
    assert rc == 0
    capsys.readouterr()
    probe = docs.orderBy("doc_id").first().text[:40]
    rc = main([
        "search", "--store", store, "-s", probe, "-t", "100",
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("q0\t")]
    hits = {int(l.split("\t")[1]) for l in lines}
    assert 0 in hits
    # scoped to an id set excluding doc 0 -> doc 0 disappears
    rc = main([
        "search", "--store", store, "-s", probe, "-t", "100",
        "--sample-ids", "1,2,3",
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ])
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("q0\t")]
    scoped = {int(l.split("\t")[1]) for l in lines}
    assert 0 not in scoped and scoped <= {1, 2, 3}


def test_streamed_report_equals_format_results(spark, docs, tmp_path):
    """write_results_stream output must be byte-identical to the
    collected format_results layout (and parse back)."""
    from metaprofi_spark.operators import parse_results
    from metaprofi_spark.operators.bloom_search import (
        format_results,
        write_results_stream,
    )

    idx = build_index(build_matrix(docs, CFG), CFG, sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").limit(2).collect()
    queries = [(f"q{r.doc_id}", r.text[: 5 * CFG.k]) for r in probe]
    for t in (100, 40):
        res = search(spark, idx, queries, CFG, t, BUCKET)
        path = str(tmp_path / f"report{t}.txt")
        write_results_stream(res, path, t)
        streamed = open(path).read()
        collected = format_results(res.collect(), t)
        assert streamed == collected
        assert parse_results(streamed) == parse_results(collected)


def test_cli_search_fasta_query_file(spark, docs, tmp_path, capsys):
    """Reference interface shape: search_index with a FASTA query file."""
    from metaprofi_spark.__main__ import main

    inp = str(tmp_path / "docs3.parquet")
    # FASTA sequences are whitespace-free: build over space-stripped text
    seqdocs = docs.limit(40).withColumn("text", F.regexp_replace("text", r"\s+", ""))
    seqdocs.write.mode("overwrite").parquet(inp)
    store = str(tmp_path / "clistore3")
    assert main([
        "build", "--input", inp, "--store", store,
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ]) == 0
    capsys.readouterr()
    probe = seqdocs.orderBy("doc_id").first().text[:40]
    qf = tmp_path / "queries.fa"
    qf.write_text(f">probe0 from doc 0\n{probe}\n")
    assert main([
        "search", "--store", store, "-f", str(qf), "-t", "100",
        "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8",
    ]) == 0
    out = capsys.readouterr().out
    hits = {int(l.split("\t")[1]) for l in out.splitlines() if l.startswith("probe0")}
    assert 0 in hits


def test_update_store_named_segment_idempotent(spark, docs, tmp_path):
    """At-least-once caller retries a COMMITTED named segment: no-op."""
    from metaprofi_spark.operators import load_index

    path = str(tmp_path / "idemstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    m1 = update_store(spark, path, rest, CFG, BUCKET, segment_name="batch7")
    rows1 = load_index(spark, path)[0].count()
    # retry of the SAME batch: manifest and data unchanged
    m2 = update_store(spark, path, rest, CFG, BUCKET, segment_name="batch7")
    assert m2["segments"] == m1["segments"] == ["u0", "batch7"]
    assert m2["n_samples"] == m1["n_samples"]
    assert load_index(spark, path)[0].count() == rows1


def test_compact_and_vacuum_store(spark, docs, tmp_path):
    """Compaction collapses all segments into one (same rows, same
    search answers); vacuum reclaims the orphaned dirs; further updates
    keep working on the compacted store."""
    from metaprofi_spark.operators import (
        compact_store, load_index, vacuum_store,
    )

    path = str(tmp_path / "compactstore")
    third = docs.count() // 3
    d0 = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(d0, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    r1 = rest.filter(F.col("doc_id") < third)
    r2 = rest.filter(F.col("doc_id") >= third).withColumn(
        "doc_id", F.col("doc_id") - third
    )
    update_store(spark, path, r1, CFG, BUCKET)
    update_store(spark, path, r2, CFG, BUCKET)
    before, _, m_before = load_index(spark, path)
    rows_before = {(r.range_id, r.sample_bucket, bytes(r.bits))
                   for r in before.collect()}
    assert len(m_before["segments"]) == 3
    probe = docs.orderBy("doc_id").first()
    res_before = {(r.query_id, r.sample_idx) for r in search(
        spark, before, [("q", probe.text[: 5 * CFG.k])], CFG, 100, BUCKET
    ).collect()}

    manifest = compact_store(spark, path)
    assert len(manifest["segments"]) == 1
    assert manifest["n_samples"] == m_before["n_samples"]
    after, _, _ = load_index(spark, path)
    rows_after = {(r.range_id, r.sample_bucket, bytes(r.bits))
                  for r in after.collect()}
    assert rows_after == rows_before
    res_after = {(r.query_id, r.sample_idx) for r in search(
        spark, after, [("q", probe.text[: 5 * CFG.k])], CFG, 100, BUCKET
    ).collect()}
    assert res_after == res_before
    removed = vacuum_store(path)
    assert sorted(removed) == ["u0", "u1", "u2"]
    assert load_index(spark, path)[0].count() == len(rows_before)
    # the compacted store still accepts updates
    extra = spark.createDataFrame(
        [(0, "freshly appended text " * 5)], "doc_id long, text string"
    )
    m2 = update_store(spark, path, extra, CFG, BUCKET)
    assert len(m2["segments"]) == 2


def test_update_index_on_store_loaded_frame(spark, docs, tmp_path):
    """update_index must accept a store-LOADED index (which carries the
    seg partition column) — regression for the segmented layout."""
    from metaprofi_spark.operators import load_index

    path = str(tmp_path / "segloadstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    loaded, _, _ = load_index(spark, path, CFG)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    merged, dim, n_total = update_index(loaded, rest, CFG, BUCKET, BUCKET)
    assert n_total == docs.count()
    r0 = docs.orderBy("doc_id").first()
    res = search(spark, merged, [("q", r0.text[: 5 * CFG.k])], CFG, 100, BUCKET)
    assert any(r.sample_idx == r0.doc_id for r in res.collect())


def test_store_lock_mutual_exclusion_and_stale_takeover(tmp_path):
    """Single-writer lock (r2 advice): a held lock blocks a second
    writer; a lock left by a dead process is broken and reacquired."""
    import json

    from metaprofi_spark.operators import store_lock

    p = str(tmp_path)
    with store_lock(p):
        with pytest.raises(TimeoutError):
            with store_lock(p, timeout=0.4, poll=0.05):
                pass
    # released on exit
    assert not (tmp_path / "manifest.lock").exists()
    # stale lock: nonexistent owner pid -> broken and acquired
    (tmp_path / "manifest.lock").write_text(
        json.dumps({"pid": 2**22 + 12345, "ts": 0})
    )
    with store_lock(p, timeout=2.0, poll=0.05):
        assert (tmp_path / "manifest.lock").exists()
    assert not (tmp_path / "manifest.lock").exists()


def test_vacuum_never_deletes_midflight_segment(spark, docs, tmp_path):
    """vacuum_store acquires the writer lock, so a segment that an
    in-progress update has written but not yet committed (writer holds
    the lock) can never be swept; once the lock is free, true orphans
    go."""
    import os
    import threading

    from metaprofi_spark import api
    from metaprofi_spark.operators import store_lock, vacuum_store

    path = str(tmp_path / "store")
    api.build(spark, docs.limit(50), CFG, path)
    # fake an uncommitted in-flight segment while the writer lock is held
    orphan = os.path.join(path, "index", "seg=u99")
    os.makedirs(orphan)
    results: list = []
    with store_lock(path):
        t = threading.Thread(
            target=lambda: results.append(vacuum_store(path))
        )
        t.start()
        t.join(timeout=0.5)
        # vacuum is blocked while the writer holds the lock
        assert t.is_alive() and os.path.isdir(orphan)
    t.join(timeout=30)
    assert not t.is_alive()
    # after the writer released (segment never committed -> orphan), swept
    assert results == [["u99"]]
    assert not os.path.isdir(orphan)


def test_cli_staged_build_matrix_index_update(spark, docs, tmp_path, capsys):
    """Staged build-matrix -> build-index -> update-index subcommands
    (reference metaprofi_main.py:216-247) must yield a store whose
    search results equal the one-shot full build."""
    import json as _json

    from metaprofi_spark.__main__ import main
    from metaprofi_spark import api

    d = docs.limit(120).select("doc_id", "text")
    first = d.filter(F.col("doc_id") < 60)
    second = (
        d.filter(F.col("doc_id") >= 60)
        .select((F.col("doc_id") - 60).alias("doc_id"), "text")
    )
    p_first = str(tmp_path / "first.parquet")
    p_second = str(tmp_path / "second.parquet")
    first.write.parquet(p_first)
    second.write.parquet(p_second)
    m1 = str(tmp_path / "m1")
    m2 = str(tmp_path / "m2")
    store = str(tmp_path / "staged_store")
    args_cfg = ["--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8"]
    assert main(["build-matrix", "--input", p_first, "--matrix-store", m1] + args_cfg) == 0
    assert main(["build-index", "--matrix-store", m1, "--store", store,
                 "--sample-bucket-size", "64", "--cores", "8"]) == 0
    assert main(["build-matrix", "--input", p_second, "--matrix-store", m2] + args_cfg) == 0
    assert main(["update-index", "--matrix-store", m2, "--store", store,
                 "--cores", "8"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_samples"] == 64 + 60  # bucket-aligned base + n_new

    # staged store search == one-shot full build search
    cfg = SketchConfig(k=8, h=2, m=1 << 16, chunk_bits=1 << 16, slice_buckets=8)
    probe = [r.text[:40] for r in d.filter(F.col("doc_id") == 3).collect()][0]
    res_staged = api.query(spark, store, [("q", probe)], 100)
    full_store = str(tmp_path / "full_store")
    # full build with the same bucket-aligned layout: ids >= 60 shifted to 64+
    full_docs = first.unionByName(
        second.select((F.col("doc_id") + 64).alias("doc_id"), "text")
    )
    api.build(spark, full_docs, cfg, full_store, sample_bucket_size=64)
    res_full = api.query(spark, full_store, [("q", probe)], 100)
    got = {(r.query_id, r.sample_idx) for r in res_staged.collect()}
    want = {(r.query_id, r.sample_idx) for r in res_full.collect()}
    assert got == want and got


def test_parse_results_with_stats():
    from metaprofi_spark.operators.bloom_search import parse_results

    text = (
        "Query: a\n\t3\n\t5\nQuery: b\n\t5\n"
    )
    res, stats = parse_results(text, with_stats=True)
    assert res == {"a": [{"sample": 3}, {"sample": 5}], "b": [{"sample": 5}]}
    assert stats == {"n_queries": 2, "n_samples": 3, "n_unique_samples": 2}


def test_query_scoped_by_sample_names(spark, docs, tmp_path):
    """Name-based scoping (the reference's user-facing restriction,
    search_index.py:549-553) == id-based scoping through the grouped
    store's samples dim; unknown names raise."""
    from metaprofi_spark import api

    path = str(tmp_path / "grouped")
    d = docs.limit(200).select("doc_id", "lang", "text")
    api.build_grouped(spark, d, CFG, path, group_col="lang",
                      sample_bucket_size=64)
    dim = {r.group_key: r.sample_idx for r in api.samples_dim(spark, path).collect()}
    langs = sorted(dim)[:2]
    probe = [r.text[:40] for r in d.limit(1).collect()]
    by_name = api.query(spark, path, [("q", probe[0])], 60,
                        sample_names=langs)
    by_id = api.query(spark, path, [("q", probe[0])], 60,
                      sample_ids=[dim[x] for x in langs])
    a = {(r.query_id, r.sample_idx) for r in by_name.collect()}
    b = {(r.query_id, r.sample_idx) for r in by_id.collect()}
    assert a == b
    with pytest.raises(KeyError, match="unknown sample names"):
        api.query(spark, path, [("q", probe[0])], 60,
                  sample_names=["nope"])


def test_store_lock_review_hardening(tmp_path):
    """r3 review regressions: (1) an unreadable/empty lock file honors
    the timeout instead of busy-spinning; (2) an OLD empty lock (its
    writer died between open and write) is broken; (3) a LIVE owner is
    never broken no matter how old its ts is."""
    import json
    import os
    import time

    from metaprofi_spark.operators import store_lock

    p = str(tmp_path)
    lock = tmp_path / "manifest.lock"

    # (1) fresh empty lock: timeout fires, promptly and without a spin
    lock.write_text("")
    t0 = time.time()
    with pytest.raises(TimeoutError):
        with store_lock(p, timeout=0.6, poll=0.05):
            pass
    assert 0.3 < time.time() - t0 < 5.0
    # (2) the same empty lock, aged past the unreadable grace: broken
    os.utime(lock, (time.time() - 60, time.time() - 60))
    with store_lock(p, timeout=2.0, poll=0.05):
        pass
    assert not lock.exists()
    # (3) live owner with ancient ts: never broken
    lock.write_text(json.dumps({"pid": os.getpid(), "ts": 0}))
    with pytest.raises(TimeoutError):
        with store_lock(p, timeout=0.6, poll=0.05):
            pass
    assert lock.exists() and json.loads(lock.read_text())["pid"] == os.getpid()
    lock.unlink()


def test_cms_estimate_df_null_row_alignment(spark):
    """r3 review regression: a null key row must not crash the batch —
    it estimates as the string "None" and stays row-aligned."""
    from metaprofi_spark.functions.sketch_agg import cms_agg, cms_estimate_df

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "token string"
    )
    blob = cms_agg(df.withColumn("g", F.lit(1)), ["g"], "token", 4, 256).first()["sketch"]
    out = {r.token: r.est for r in cms_estimate_df(df, "token", blob).collect()}
    assert out["a"] >= 2 and out["b"] >= 1
    assert None in out  # the null row came back, aligned


def test_snapshot_time_travel(spark, docs, tmp_path):
    """Iceberg-style snapshot reads over the append-only segment
    layout: every commit is archived; load_index(snapshot=N) reproduces
    the pre-update answers; compact+vacuum expires reclaimed snapshots
    with a clear error, and the current read is never affected."""
    from metaprofi_spark import api
    from metaprofi_spark.operators import (
        compact_store,
        load_index,
        update_store,
        vacuum_store,
    )

    path = str(tmp_path / "ttstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    api.build(spark, first, CFG, path, sample_bucket_size=BUCKET)
    probe = [r.text[:40] for r in first.limit(1).collect()]
    before = {(r.query_id, r.sample_idx)
              for r in api.query(spark, path, [("q", probe[0])], 100).collect()}
    update_store(spark, path, rest, CFG, BUCKET)
    after = {(r.query_id, r.sample_idx)
             for r in api.query(spark, path, [("q", probe[0])], 100).collect()}
    assert after >= before

    # time travel to the pre-update snapshot reproduces `before`
    idx0, _cfg0, m0 = load_index(spark, path, CFG, snapshot=0)
    assert m0["segments"] == ["u0"] and m0["n_samples"] == BUCKET
    got0 = {(r.query_id, r.sample_idx)
            for r in search(spark, idx0, [("q", probe[0])], CFG, 100, BUCKET).collect()}
    assert got0 == before
    # the update's snapshot equals the current read
    idx1, _cfg1, m1 = load_index(spark, path, CFG, snapshot=1)
    assert m1["snapshot_id"] == 1 and len(m1["segments"]) == 2

    # compact orphans the old segments; vacuum reclaims them and
    # expires snapshots 0 and 1; the compacted current read still works
    compact_store(spark, path)
    removed = vacuum_store(path)
    assert set(removed) == {"u0", "u1"}
    with pytest.raises(FileNotFoundError, match="expired|does not exist"):
        load_index(spark, path, CFG, snapshot=0)
    final = {(r.query_id, r.sample_idx)
             for r in api.query(spark, path, [("q", probe[0])], 100).collect()}
    assert final == after


def test_cli_search_snapshot(spark, docs, tmp_path, capsys):
    """CLI --snapshot searches the historical store state."""
    from metaprofi_spark import api
    from metaprofi_spark.__main__ import main
    from metaprofi_spark.operators import update_store

    path = str(tmp_path / "clisnap")
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    api.build(spark, first, CFG, path, sample_bucket_size=BUCKET)
    update_store(spark, path, rest, CFG, BUCKET)
    probe = [r.text[:40] for r in first.limit(1).collect()][0]
    args = ["search", "--store", path, "-s", probe, "-t", "100",
            "--k", "8", "--m", "65536", "--slice-buckets", "8", "--cores", "8"]
    assert main(args + ["--snapshot", "0"]) == 0
    out0 = {l.split("\t")[1] for l in capsys.readouterr().out.strip().splitlines() if "\t" in l}
    assert main(args) == 0
    out_now = {l.split("\t")[1] for l in capsys.readouterr().out.strip().splitlines() if "\t" in l}
    assert out0 <= out_now
    # snapshot 0 must see only first-half samples
    assert all(int(s) < BUCKET for s in out0) and out0


def test_snapshot_history_survives_compact_then_update(tmp_path, spark, docs):
    """r3 review: after compact (without vacuum), a further update must
    NOT reuse a pre-compaction segment name — snapshot v1's segments
    stay untouched and time travel to it remains correct."""
    from metaprofi_spark import api
    from metaprofi_spark.operators import compact_store, update_store

    path = str(tmp_path / "cu_store")
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    api.build(spark, first, CFG, path, sample_bucket_size=BUCKET)        # snap 0
    update_store(spark, path, rest, CFG, BUCKET)                          # snap 1: [u0, u1]
    probe = [r.text[:40] for r in first.limit(1).collect()][0]
    at1 = {(r.query_id, r.sample_idx)
           for r in api.query(spark, path, [("q", probe)], 100, snapshot=1).collect()}
    compact_store(spark, path)                                            # snap 2: [c1_0]
    m = update_store(spark, path, first.limit(10), CFG, BUCKET)           # snap 3
    assert "u1" not in m["segments"][-1:]  # new segment must be u2+
    assert m["segments"][-1] == "u2"
    # snapshot 1 still reads the ORIGINAL u1 bits
    at1_again = {(r.query_id, r.sample_idx)
                 for r in api.query(spark, path, [("q", probe)], 100, snapshot=1).collect()}
    assert at1_again == at1


def test_rebuild_resets_snapshot_history(tmp_path, spark, docs):
    """r3 review: persist_index(mode=overwrite) into an existing store
    is a NEW store — old snapshots are wiped, the id chain restarts at
    0, and time travel can never mix the old manifest with rebuilt
    segment bits."""
    import os

    from metaprofi_spark import api
    from metaprofi_spark.operators import load_index, update_store

    path = str(tmp_path / "rebuild_store")
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    api.build(spark, first, CFG, path, sample_bucket_size=BUCKET)
    update_store(spark, path, rest, CFG, BUCKET)  # snapshots v0, v1
    assert os.path.exists(os.path.join(path, "snapshots", "v1.json"))
    # rebuild over the same path with a different corpus slice
    api.build(spark, docs.limit(50), CFG, path, sample_bucket_size=BUCKET)
    _df, _cfg, m = load_index(spark, path)
    # rebuilds land in a fresh generation segment (b1), never the old u0
    assert m["snapshot_id"] == 0 and m["segments"] == ["b1"]
    assert not os.path.exists(os.path.join(path, "snapshots", "v1.json"))
    idx0, _c, m0 = load_index(spark, path, snapshot=0)
    assert m0["n_samples"] == 50  # the NEW store's snapshot, not the old one


def test_rebuild_crash_keeps_old_store_readable(spark, docs, tmp_path):
    """r3 advice: a rebuild (persist_index overwrite into an existing
    store) that crashes between data write and manifest swap must leave
    the OLD store fully readable — the rebuild writes a fresh b{N}
    segment, never seg=u0 in place."""
    from metaprofi_spark.operators import load_index

    path = str(tmp_path / "rebuildcrash")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    before, _, m_before = load_index(spark, path)
    rows_before = {(r.range_id, r.sample_bucket, bytes(r.bits))
                   for r in before.collect()}

    small = build_index(build_matrix(docs.limit(10), CFG), CFG,
                        sample_bucket_size=BUCKET)
    with pytest.raises(RuntimeError, match="injected crash"):
        persist_index(small, path, CFG, n_samples=10,
                      sample_bucket_size=BUCKET, fail_before_commit=True)
    after, _, m_after = load_index(spark, path)
    assert m_after["segments"] == m_before["segments"] == ["u0"]
    assert m_after["n_samples"] == BUCKET
    rows_after = {(r.range_id, r.sample_bucket, bytes(r.bits))
                  for r in after.collect()}
    assert rows_after == rows_before
    # a retried rebuild then succeeds and supersedes the old store
    persist_index(small, path, CFG, n_samples=10, sample_bucket_size=BUCKET)
    _df, _cfg, m = load_index(spark, path)
    assert m["segments"] == ["b1"] and m["n_samples"] == 10
    # no lock leaked by the crashed attempt (it failed inside store_lock)
    assert not os.path.exists(os.path.join(path, "manifest.lock"))


def test_named_segment_idempotent_across_compaction(spark, docs, tmp_path):
    """r3 advice: the exactly-once skip must SURVIVE compaction — a
    replayed micro-batch after compact_store (streaming restart
    re-running the last committed batch) must stay a no-op even though
    the segment list no longer carries its name."""
    from metaprofi_spark.operators import compact_store, load_index

    path = str(tmp_path / "idemcompact")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    m1 = update_store(spark, path, rest, CFG, BUCKET, segment_name="batch3")
    mc = compact_store(spark, path)
    assert mc["segments"] == ["c1_0"]
    assert "batch3" in mc["committed_segments"]
    rows = load_index(spark, path)[0].count()
    # replay of the committed batch AFTER compaction: still a no-op
    m2 = update_store(spark, path, rest, CFG, BUCKET, segment_name="batch3")
    assert m2["n_samples"] == m1["n_samples"]
    assert m2["segments"] == ["c1_0"]
    assert load_index(spark, path)[0].count() == rows


def test_store_lock_release_checks_ownership(tmp_path):
    """r3 advice: the lock release must verify ownership — if a peer
    broke our lock and acquired its own, our exit must NOT delete the
    peer's live lock file."""
    import json

    from metaprofi_spark.operators.bloom_update import store_lock

    path = str(tmp_path)
    lock = os.path.join(path, "manifest.lock")
    with store_lock(path):
        # simulate a peer breaking our lock and planting its own
        with open(lock, "w") as f:
            json.dump({"pid": 999999999, "ts": 0}, f)
    # our exit must have left the peer's lock untouched
    with open(lock) as f:
        assert json.load(f)["pid"] == 999999999
    os.unlink(lock)
    # normal path still releases
    with store_lock(path):
        pass
    assert not os.path.exists(lock)


def test_update_store_rejects_non_dense_matrix(spark, docs, tmp_path):
    """r3 advice: appending a matrix whose sample_idx is not dense
    0..n-1 would shift samples into wrong buckets — update_store must
    refuse it loudly instead of corrupting the segment."""
    from metaprofi_spark.operators.bloom_build import persist_matrix

    path = str(tmp_path / "densestore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)

    sparse_docs = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", (F.col("doc_id") - BUCKET) * 2  # gaps: 0,2,4,...
    )
    n = sparse_docs.count()
    mpath = str(tmp_path / "sparse_matrix")
    persist_matrix(build_matrix(sparse_docs, CFG), mpath, CFG, n_samples=n)
    with pytest.raises(ValueError, match="non-dense sample_idx"):
        update_store(spark, path, cfg=CFG, matrix_path=mpath,
                     sample_bucket_size=BUCKET)


def test_gzip_fasta_parallelism_is_per_file(spark, tmp_path):
    """The gzip split boundary, demonstrated: N .fa.gz files scan as
    >= N input partitions (per-FILE parallelism), while one .fa.gz is
    a single task however large — the documented read_fasta constraint
    (Hadoop gzip codec non-splittability; the reference works around it
    with indexed_gzip, out of scope)."""
    import gzip

    from metaprofi_spark.sources.fasta import read_fasta

    d = tmp_path / "many"
    d.mkdir()
    for i in range(4):
        with gzip.open(d / f"part{i}.fa.gz", "wt") as f:
            for j in range(50):
                f.write(f">s{i}_{j}\n{'ACGT' * 10}\n")
    many = read_fasta(spark, str(d))
    assert many.count() == 200
    assert many.rdd.getNumPartitions() >= 4  # one task per file minimum
    single = read_fasta(spark, str(d / "part0.fa.gz"))
    assert single.rdd.getNumPartitions() == 1  # gzip member: one task


def test_delete_samples_lifecycle(spark, docs, tmp_path):
    """Tombstone deletes: deleted samples vanish from api.query results
    (and only they do); time travel to the pre-delete snapshot still
    shows them; a second delete stacks; out-of-range/empty inputs
    raise."""
    from metaprofi_spark import api

    path = str(tmp_path / "delstore")
    api.build(spark, docs.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").first()
    q = [("q", probe.text[: 5 * CFG.k])]
    before = {r.sample_idx for r in api.query(spark, path, q).collect()}
    assert probe.doc_id in before
    pre_snapshot = 0  # the build commit

    m = api.delete(spark, path, sample_ids=[int(probe.doc_id)])
    assert m["tombstones"] == ["d1"] and m["delete_count"] == 1
    after = {r.sample_idx for r in api.query(spark, path, q).collect()}
    assert after == before - {probe.doc_id}
    # time travel: the pre-delete snapshot still shows the sample
    historic = {r.sample_idx for r in
                api.query(spark, path, q, snapshot=pre_snapshot).collect()}
    assert historic == before
    # second delete stacks (append-only tombstone list)
    other = sorted(after)[0]
    m2 = api.delete(spark, path, sample_ids=[int(other)])
    assert m2["tombstones"] == ["d1", "d2"]
    after2 = {r.sample_idx for r in api.query(spark, path, q).collect()}
    assert after2 == after - {other}
    with pytest.raises(ValueError, match="out of range"):
        api.delete(spark, path, sample_ids=[10**9])
    with pytest.raises(ValueError, match="empty|needs"):
        api.delete(spark, path, sample_ids=[])


def test_delete_samples_crash_orphan_vacuumed(spark, docs, tmp_path):
    """A tombstone dir without a manifest commit is invisible to readers
    and reclaimed by vacuum (same orphan rule as segments)."""
    import json

    from metaprofi_spark import api
    from metaprofi_spark.operators import vacuum_store
    from metaprofi_spark.operators.bloom_update import load_tombstones

    path = str(tmp_path / "delorphan")
    api.build(spark, docs.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)
    # simulate a crash between tombstone write and manifest commit
    spark.createDataFrame([(0,)], "sample_idx long").write.parquet(
        os.path.join(path, "tombstones", "d1")
    )
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    assert load_tombstones(spark, path, manifest) is None  # invisible
    probe = docs.orderBy("doc_id").first()
    res = {r.sample_idx for r in api.query(
        spark, path, [("q", probe.text[: 5 * CFG.k])]).collect()}
    assert probe.doc_id in res  # uncommitted delete has no effect
    removed = vacuum_store(path)
    assert "tombstones/d1" in removed
    assert not os.path.exists(os.path.join(path, "tombstones", "d1"))
    # a real delete now gets the d1 name cleanly
    m = api.delete(spark, path, sample_ids=[0])
    assert m["tombstones"] == ["d1"]


def test_delete_by_sample_name_grouped_store(spark, docs, tmp_path):
    """Grouped stores delete by sample NAME (resolved via the samples
    dim, like query's name scoping); unknown names raise."""
    from metaprofi_spark import api

    path = str(tmp_path / "delnames")
    api.build_grouped(spark, docs.withColumn("grp", F.col("lang")), CFG,
                      path, group_col="grp", text_col="text",
                      sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").first()
    q = [("q", probe.text[: 5 * CFG.k])]
    dim = {r.sample_idx: r.group_key
           for r in api.samples_dim(spark, path).collect()}
    before = {dim[r.sample_idx] for r in api.query(spark, path, q).collect()}
    victim = sorted(before)[0]
    api.delete(spark, path, sample_names=[victim])
    after = {dim[r.sample_idx] for r in api.query(spark, path, q).collect()}
    assert after == before - {victim}
    with pytest.raises(KeyError, match="unknown sample names"):
        api.delete(spark, path, sample_names=["no-such-lang"])


def test_cli_delete(spark, docs, tmp_path, capsys):
    """CLI: build, delete by id, search excludes the tombstoned sample."""
    import json

    from metaprofi_spark import api
    from metaprofi_spark.__main__ import main as cli

    path = str(tmp_path / "clidelstore")
    api.build(spark, docs.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").first()
    rc = cli(["delete", "--store", path,
              "--sample-ids", str(probe.doc_id)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tombstones"] == ["d1"]
    rc = cli(["search", "--store", path, "--sequence",
              probe.text[: 5 * CFG.k], "--threshold", "100"])
    assert rc == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if "\t" in ln]
    hit_ids = {int(ln.split("\t")[1]) for ln in lines}
    assert probe.doc_id not in hit_ids


def test_rollback_store_restores_state_and_protects_names(spark, docs, tmp_path):
    """rollback(N) restores segments+tombstones+n_samples of snapshot N
    as a NEW commit; rolled-past snapshots stay readable; a later
    update can never reuse a rolled-past segment name (counters carry
    forward)."""
    from metaprofi_spark import api
    from metaprofi_spark.operators import load_index, rollback_store

    path = str(tmp_path / "rbstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    api.build(spark, first.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)                       # v0
    api.update(spark, path, rest.select("doc_id", "text"), CFG)  # v1 (u1)
    probe = docs.orderBy("doc_id").first()
    q = [("q", probe.text[: 5 * CFG.k])]
    api.delete(spark, path, sample_ids=[int(probe.doc_id)])      # v2 (d1)
    gone = {r.sample_idx for r in api.query(spark, path, q).collect()}
    assert probe.doc_id not in gone

    m = rollback_store(path, 0)
    assert m["segments"] == ["u0"] and m["n_samples"] == BUCKET
    assert not m.get("tombstones")
    assert m["snapshot_id"] == 3  # rollback is a NEW commit, not a rewind
    restored = {r.sample_idx for r in api.query(spark, path, q).collect()}
    assert probe.doc_id in restored  # delete undone
    # rolled-past snapshot v1 still time-travels (u1 dir still on disk)
    _df, _c, m1 = load_index(spark, path, snapshot=1)
    assert m1["segments"] == ["u0", "u1"]
    # post-rollback update must NOT reuse the name u1 that v1 references
    m2 = api.update(spark, path, rest.select("doc_id", "text"), CFG)
    assert m2["segments"] == ["u0", "u2"]
    # and v1's data is untouched: snapshot read still sees its rows
    assert load_index(spark, path, snapshot=1)[0].count() > 0
    with pytest.raises(FileNotFoundError, match="does not exist"):
        rollback_store(path, 99)


def test_vacuum_expires_rolled_past_tombstone_snapshots(spark, docs, tmp_path):
    """After a rollback, vacuum reclaims the now-unreferenced tombstone
    file and expires the snapshots that referenced it — a later
    snapshot read fails clearly instead of resurrecting deletes."""
    from metaprofi_spark import api
    from metaprofi_spark.operators import rollback_store, vacuum_store

    path = str(tmp_path / "rbvac")
    api.build(spark, docs.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)                # v0
    api.delete(spark, path, sample_ids=[0])             # v1 (d1)
    rollback_store(path, 0)                             # v2 (no tombstones)
    removed = vacuum_store(path)
    assert "tombstones/d1" in removed
    # v1 referenced d1 -> expired by this vacuum
    assert not os.path.exists(os.path.join(path, "snapshots", "v1.json"))
    # current state unaffected
    probe = docs.orderBy("doc_id").first()
    res = {r.sample_idx for r in api.query(
        spark, path, [("q", probe.text[: 5 * CFG.k])]).collect()}
    assert probe.doc_id in res


def test_update_store_accepts_matrix_with_short_doc_gaps(spark, docs, tmp_path):
    """A doc shorter than k produces no filter rows (min-length
    pruning), leaving a GAP in the matrix's sample_idx — that matrix is
    legitimate (the sample just has zero bits) and must append cleanly
    (r4 review: an exact-density check wrongly rejected it)."""
    from metaprofi_spark.operators import load_index
    from metaprofi_spark.operators.bloom_build import persist_matrix

    path = str(tmp_path / "gapstore")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)

    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    # blank out one mid-range doc: shorter than k => zero filter rows
    gappy = rest.withColumn(
        "text", F.when(F.col("doc_id") == 5, F.lit("x")).otherwise(F.col("text"))
    )
    n = gappy.count()
    mpath = str(tmp_path / "gap_matrix")
    persist_matrix(build_matrix(gappy, CFG), mpath, CFG, n_samples=n)
    m = update_store(spark, path, cfg=CFG, matrix_path=mpath,
                     sample_bucket_size=BUCKET)
    assert m["n_samples"] == BUCKET + n
    # a probe from a NON-gap appended doc still matches
    probe = rest.filter(F.col("doc_id") == 6).first()
    loaded, _, man = load_index(spark, path, CFG)
    res = search(spark, loaded, [("q", probe.text[: 5 * CFG.k])], CFG, 100,
                 man["sample_bucket_size"])
    assert any(r.sample_idx == BUCKET + 6 for r in res.collect())


def test_store_lifecycle_random_sequence_matches_model(spark, docs, tmp_path):
    """Model-based interaction test: a fixed-seed random sequence of
    {update, delete, compact, vacuum} ops against a live store, with a
    driver-side model of (live samples, tombstoned ids).  After every
    op the store's search answers for planted probes must match the
    model — catches op-interaction bugs no single-op test sees
    (e.g. delete→compact→update→vacuum chains)."""
    import random

    from metaprofi_spark import api
    from metaprofi_spark.operators import compact_store, vacuum_store
    from metaprofi_spark.operators.bloom_update import next_sample_base

    rng = random.Random(7)
    path = str(tmp_path / "lifecycle")
    base = docs.orderBy("doc_id").limit(400).collect()
    batches = [base[i * 80:(i + 1) * 80] for i in range(5)]

    def mkdf(rows):
        return spark.createDataFrame(
            [(i, r.text) for i, r in enumerate(rows)],
            "doc_id long, text string",
        )

    api.build(spark, mkdf(batches[0]), CFG, path, sample_bucket_size=BUCKET)
    # model: sample_idx -> text, plus the tombstoned set
    model = {i: r.text for i, r in enumerate(batches[0])}
    deleted: set[int] = set()
    next_batch = 1
    n_samples = len(batches[0])

    def check():
        # probe three random live samples + (if any) one deleted one
        live = [i for i in model if i not in deleted]
        probes = rng.sample(live, min(3, len(live)))
        for sid in probes:
            q = [("q", model[sid][: 5 * CFG.k])]
            got = {r.sample_idx for r in api.query(spark, path, q).collect()}
            assert sid in got, f"live sample {sid} missing"
            assert not (got & deleted), f"tombstoned ids leaked: {got & deleted}"

    ops = ["update", "delete", "compact", "delete", "update", "vacuum",
           "delete", "compact", "update", "vacuum"]
    for op in ops:
        if op == "update" and next_batch < len(batches):
            rows = batches[next_batch]
            m = api.update(spark, path, mkdf(rows), CFG)
            base_idx = next_sample_base(n_samples, BUCKET)
            for i, r in enumerate(rows):
                model[base_idx + i] = r.text
            n_samples = m["n_samples"]
            assert n_samples == base_idx + len(rows)
            next_batch += 1
        elif op == "delete":
            live = sorted(i for i in model if i not in deleted)
            victim = rng.choice(live)
            api.delete(spark, path, sample_ids=[victim])
            deleted.add(victim)
        elif op == "compact":
            m = compact_store(spark, path)
            assert len(m["segments"]) == 1
        elif op == "vacuum":
            vacuum_store(path)
        check()
    assert deleted and next_batch == 4  # 3 updates + 3 deletes + 2 compacts + 2 vacuums ran


def test_rebuild_carries_exactly_once_ledger(spark, docs, tmp_path):
    """r4 advice: a rebuild (persist_index overwrite into an existing
    store) must not forget the exactly-once ledger — an at-least-once
    caller replaying a pre-rebuild NAMED segment stays a no-op, and a
    fresh auto-named update continues the u{k} counter instead of
    colliding with (and being silently skipped by) an old committed
    name."""
    import json

    path = str(tmp_path / "rebuild_ledger")
    first = docs.filter(F.col("doc_id") < BUCKET)
    idx = build_index(build_matrix(first, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(idx, path, CFG, n_samples=BUCKET, sample_bucket_size=BUCKET)
    rest = docs.filter(F.col("doc_id") >= BUCKET).withColumn(
        "doc_id", F.col("doc_id") - BUCKET
    )
    # one auto-named (u1) and one stream-named segment, both committed
    update_store(spark, path, rest, CFG, BUCKET)
    update_store(spark, path, rest, CFG, BUCKET, segment_name="stream_b7")
    # rebuild the store over the full corpus
    full = build_index(build_matrix(docs, CFG), CFG, sample_bucket_size=BUCKET)
    persist_index(
        full, path, CFG, n_samples=docs.count(), sample_bucket_size=BUCKET
    )
    with open(os.path.join(path, "manifest.json")) as f:
        man = json.load(f)
    assert man["segments"] == ["b1"]
    assert {"u0", "u1", "stream_b7", "b1"} <= set(man["committed_segments"])
    assert man["update_count"] == 2  # counter carried forward
    n0 = man["n_samples"]
    # replaying the pre-rebuild named segment: exactly-once no-op
    m2 = update_store(spark, path, rest, CFG, BUCKET, segment_name="stream_b7")
    assert m2["n_samples"] == n0 and m2["segments"] == ["b1"]
    # a fresh auto-named update appends as u3 (never the committed u1)
    m3 = update_store(spark, path, rest, CFG, BUCKET)
    assert m3["segments"] == ["b1", "u3"]
    assert m3["n_samples"] > n0


def test_cli_delete_without_selector_is_usage_error():
    """r4 advice: `delete` with neither --sample-ids nor --sample-names
    must exit as an argparse usage error (SystemExit 2) before any
    Spark work, not reach api.delete's ValueError traceback."""
    from metaprofi_spark.__main__ import main

    with pytest.raises(SystemExit) as e:
        main(["delete", "--store", "/nonexistent"])
    assert e.value.code == 2


def test_compact_reclaims_tombstoned_bits(spark, docs, tmp_path):
    """r4 verdict item 7: compaction physically zeroes tombstoned
    samples' bit COLUMNS (set_bits strictly drops; the victim's column
    reads all-zero in the compacted slabs) while search results through
    api.query are identical before/after — the Iceberg
    rewrite-data-files analog completing the takedown story."""
    import numpy as np

    from metaprofi_spark import api
    from metaprofi_spark.operators import load_index, store_summary
    from metaprofi_spark.operators.bloom_update import (
        compact_store,
        delete_samples,
    )

    path = str(tmp_path / "reclaim")
    api.build(spark, docs.select("doc_id", "text"), CFG, path,
              sample_bucket_size=BUCKET)
    probe = docs.orderBy("doc_id").limit(3).collect()
    queries = [(f"q{r.doc_id}", r.text[: 5 * CFG.k]) for r in probe]
    victims = [int(probe[0].doc_id), 300]
    delete_samples(spark, path, victims)
    before = {
        (r.query_id, r.sample_idx, r.kgram_hits)
        for r in api.query(spark, path, queries, threshold=100, cfg=CFG).collect()
    }
    bits_before = store_summary(spark, path, count_set_bits=True)["set_bits"]
    compact_store(spark, path)
    summary = store_summary(spark, path, count_set_bits=True)
    assert summary["set_bits"] < bits_before
    assert summary["tombstoned_samples"] == len(victims)  # list survives
    # the victim's column is all-zero across every compacted slab
    df, _cfg, manifest = load_index(spark, path)
    w = manifest["sample_bucket_size"] // 8
    for v in victims:
        bkt, pos = divmod(v, manifest["sample_bucket_size"])
        col = 0
        for r in df.filter(F.col("sample_bucket") == bkt).collect():
            slab = np.frombuffer(bytes(r.bits), dtype=np.uint8).reshape(-1, w)
            col |= int((slab[:, pos >> 3] >> (pos & 7) & 1).sum())
        assert col == 0
    # a non-deleted neighbour keeps its bits (the mask is surgical)
    keep = int(probe[1].doc_id)
    bkt, pos = divmod(keep, manifest["sample_bucket_size"])
    alive = 0
    for r in df.filter(F.col("sample_bucket") == bkt).collect():
        slab = np.frombuffer(bytes(r.bits), dtype=np.uint8).reshape(-1, w)
        alive += int((slab[:, pos >> 3] >> (pos & 7) & 1).sum())
    assert alive > 0
    after = {
        (r.query_id, r.sample_idx, r.kgram_hits)
        for r in api.query(spark, path, queries, threshold=100, cfg=CFG).collect()
    }
    assert after == before and after
