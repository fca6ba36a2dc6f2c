"""The two workloads.  Each is a closed loop with one client: it issues
a round of calls, waits for every result, checks it, and starts the next
round.  Every workload times five call kinds, reported as the end-to-end
metrics ``call_a_s`` .. ``call_e_s`` (README.md maps each slot to its
call on each workload).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import inputs as I

SLOTS = ("call_a", "call_b", "call_c", "call_d", "call_e")


class Run:
    """State of one benchmark run: session, inputs, walls and failures."""

    def __init__(self, spark, seed: int, work: str, tracer):
        from metaprofi_spark import SketchConfig

        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.cfg = SketchConfig(k=I.K, h=I.H, m=I.M, chunk_bits=I.M, slice_buckets=32)
        self.samples = {s: [] for s in SLOTS}
        self.attempted = 0
        self.failed = 0
        self.rounds = 0
        self.warmup_rounds = 0
        self.generate_walls = []

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def make_corpus(self):
        t = time.perf_counter()
        corpus = I.make_corpus(self.spark, self.seed)
        self.generate_walls.append(time.perf_counter() - t)
        return corpus

    def to_spark(self, pdf):
        return self.spark.createDataFrame(pdf, "doc_id long, text string, lang string").localCheckpoint(eager=True)

    def timed(self, slot: str, fn, check) -> None:
        """One call: time it, check its result; a raise or a wrong answer
        is a failed op and its wall is not a latency sample, nor is any
        wall of a warm-up round."""
        self.attempted += 1
        op_id = f"r{self.rounds}-{slot}-{self.attempted}"
        try:
            result, wall = self.tracer.call(slot, op_id, fn)
            problem = check(result)
        except Exception:  # a failing op is counted, and the loop goes on
            traceback.print_exc(file=sys.stderr)
            problem = "raised"
        if problem:
            self.failed += 1
            print(f"perfbench: {op_id} failed: {problem}", file=sys.stderr)
        elif self.rounds >= self.warmup_rounds:
            self.samples[slot].append(wall)

    def median(self, slot: str) -> float:
        vals = self.samples[slot]
        return statistics.median(vals) if vals else float("nan")

    def build_store(self, docs_df, n_docs: int, path: str) -> None:
        from metaprofi_spark.operators import build_index_fused, persist_index

        idx = build_index_fused(docs_df, self.cfg, sample_bucket_size=I.SAMPLE_BUCKET,
                                shuffle_partitions=math.ceil(n_docs / I.SAMPLE_BUCKET))
        persist_index(idx, path, self.cfg, n_samples=n_docs, sample_bucket_size=I.SAMPLE_BUCKET)


def found_sources(rows, sources: dict) -> list:
    """Positive query ids whose source doc is missing from the result rows."""
    hits = {(r["query_id"], int(r["sample_idx"])) for r in rows}
    return [q for q, src in sources.items() if (q, src) not in hits]


class BuildAppendSearch:
    """The Bloom store written and read: a fresh fused build + persist, an
    update_store append, small probe batches (t=100, then t=75 on the
    same spans) and a 1000-query file under both broadcast_queries values."""

    name = "build_append_search"
    calls = {"call_a": "build_index_fused + persist_index",
             "call_b": "update_store (append batch)",
             "call_c": "search, 4 spans, t=100 and t=75",
             "call_d": "search_df, 1000 queries, broadcast_queries=True",
             "call_e": "search_df, 1000 queries, broadcast_queries=False"}
    warmup_rounds = 1  # its calls are at steady state from the second round on
    BULK_THRESHOLD = 75
    PROBE_SPANS = 4       # one of them from the appended batch

    def setup(self, run: Run) -> None:
        self.corpus = run.make_corpus()
        self.n_docs = len(self.corpus.docs)
        self.docs_df = run.to_spark(self.corpus.docs)
        self.append_df = run.to_spark(self.corpus.append)
        # update_store places the batch at the next bucket boundary
        self.base = math.ceil(self.n_docs / I.SAMPLE_BUCKET) * I.SAMPLE_BUCKET
        rows, self.bulk_sources = I.bulk_queries(self.corpus.docs, run.rng(2))
        self.qdf = run.spark.createDataFrame(rows, "query_id string, query_text string").localCheckpoint(eager=True)
        self.store = os.path.join(run.work, "store")
        self.probe_rng = run.rng(3)
        self.decoy_hits = []

    def probe_batch(self):
        """PROBE_SPANS fresh seeded spans each round, the same count in every
        round, so every call_c sample is the same operation."""
        old = I.spans(self.corpus.docs, self.probe_rng, self.PROBE_SPANS - 1, "q")
        new = I.spans(self.corpus.append, self.probe_rng, 1, "n")
        return [(q, t) for q, t, _ in old + new], {
            **{q: s for q, _, s in old}, **{q: self.base + s for q, _, s in new}}

    def round(self, run: Run) -> None:
        from metaprofi_spark.operators import load_index, search, search_df, update_store

        shutil.rmtree(self.store, ignore_errors=True)
        manifest = os.path.join(self.store, "manifest.json")
        run.timed("call_a", lambda: run.build_store(self.docs_df, self.n_docs, self.store),
                  lambda _: None if os.path.exists(manifest) else "no manifest committed")
        if not os.path.exists(manifest):
            return
        n_after = self.base + len(self.corpus.append)
        run.timed("call_b", lambda: update_store(run.spark, self.store, self.append_df, run.cfg,
                                                 sample_bucket_size=I.SAMPLE_BUCKET),
                  lambda m: None if m["n_samples"] == n_after else f"n_samples {m['n_samples']} != {n_after}")
        index_df, cfg, _ = load_index(run.spark, self.store)

        queries, sources = self.probe_batch()
        exact = set()

        def check_probe(threshold):
            def check(rows):
                got = {(r["query_id"], int(r["sample_idx"])) for r in rows}
                missing = found_sources(rows, sources)
                if missing:
                    return f"false negatives at t={threshold}: {missing}"
                if threshold == 100:
                    exact.update(got)
                elif not exact <= got:
                    return "t=75 result is not a superset of t=100"
                return None
            return check

        for threshold in (100, 75):
            run.timed("call_c", lambda: search(run.spark, index_df, queries, cfg, threshold,
                                               I.SAMPLE_BUCKET).collect(), check_probe(threshold))

        results = {}

        def check_bulk(broadcast):
            def check(rows):
                got = {(r["query_id"], int(r["sample_idx"]), int(r["kgram_hits"])) for r in rows}
                results[broadcast] = got
                missing = found_sources(rows, self.bulk_sources)
                if missing:
                    return f"false negatives in bulk: {len(missing)}"
                other = results.get(not broadcast)
                if other is not None and other != got:
                    return "broadcast and shuffled bulk results differ"
                if broadcast:
                    self.decoy_hits.append(len({q for q, _, _ in got if q.startswith("d")}))
                return None
            return check

        # alternate which plan goes first so neither always runs second
        order = (True, False) if run.rounds % 2 == 0 else (False, True)
        for broadcast in order:
            run.timed("call_d" if broadcast else "call_e",
                      lambda: search_df(run.spark, index_df, self.qdf, cfg, self.BULK_THRESHOLD,
                                        I.SAMPLE_BUCKET, broadcast_queries=broadcast).collect(),
                      check_bulk(broadcast))

    def named_metrics(self, run: Run) -> dict:
        return {
            "build_kgrams_per_s": self.corpus.kgram_insertions / run.median("call_a"),
            "append_docs_per_s": len(self.corpus.append) / run.median("call_b"),
            "probe_latency_p50_s": run.median("call_c"),
            "query_set_sizes": {"bulk": I.BULK_QUERIES, "probe": self.PROBE_SPANS},
            "bulk_qps_broadcast": I.BULK_QUERIES / run.median("call_d"),
            "bulk_qps_shuffle": I.BULK_QUERIES / run.median("call_e"),
            "decoy_hits": self.decoy_hits,
        }


class SketchDedup:
    """Mergeable sketches grouped by lang, CMS point estimates, and
    MinHash-LSH near-dup candidates."""

    name = "sketch_dedup"
    calls = {"call_a": "hll_agg(tokens by lang)",
             "call_b": "cms_agg(tokens by lang)",
             "call_c": "cms_estimate_df(distinct en tokens)",
             "call_d": "kll_agg(doc lengths by lang)",
             "call_e": "minhash_lsh_candidates"}
    warmup_rounds = 2  # its calls keep getting faster through the second round
    HLL_P = 12
    ESTIMATE_LANG = "en"

    def setup(self, run: Run) -> None:
        from pyspark.sql import functions as F

        self.corpus = run.make_corpus()
        self.docs_df = run.to_spark(self.corpus.docs)
        self.tokens_df = (self.docs_df.select("lang", F.explode(F.split("text", " ")).alias("token"))
                          .filter(F.col("token") != ""))
        self.lengths_df = self.docs_df.select("lang", F.length("text").cast("double").alias("n_chars"))
        self.truth = I.sketch_truth(self.corpus.docs, run.rng(4))

    def round(self, run: Run) -> None:
        from pyspark.sql import functions as F

        from metaprofi_spark.functions.sketch_agg import (cms_agg, cms_estimate_df, cms_query_blob,
                                                          hll_agg, kll_agg)
        from metaprofi_spark.kernels.hll import hll_error_bound
        from metaprofi_spark.kernels.kll import KLLSketch
        from metaprofi_spark.operators import minhash_lsh_candidates

        truth = self.truth
        blobs = {}

        def check_hll(rows):
            tol = 3 * hll_error_bound(self.HLL_P)
            bad = [r["lang"] for r in rows
                   if abs(r["n_distinct_est"] - truth.distinct[r["lang"]]) > tol * truth.distinct[r["lang"]]]
            return f"hll outside 3 sigma for {bad}" if bad or len(rows) != len(truth.distinct) else None

        def check_cms(rows):
            for r in rows:
                if r["n_total"] != truth.token_total[r["lang"]]:
                    return f"cms n_total wrong for {r['lang']}"
                exact = truth.token_counts[r["lang"]]
                est = cms_query_blob(r["sketch"], truth.checked[r["lang"]])
                under = [k for k, e in est.items() if e < exact[k]]
                if under:
                    return f"cms under-counts {under[:3]}"
                blobs[r["lang"]] = r["sketch"]
            return None if len(rows) == len(truth.token_total) else "cms groups missing"

        def check_estimates(rows):
            exact = truth.token_counts[self.ESTIMATE_LANG]
            if len(rows) != len(exact):
                return f"{len(rows)} estimates for {len(exact)} distinct tokens"
            under = [r["token"] for r in rows if r["est"] < exact[r["token"]]]
            return f"cms estimates under-count {under[:3]}" if under else None

        def check_kll(rows):
            for r in rows:
                sk = KLLSketch.deserialize(r["sketch"])
                exact = truth.doc_lengths[r["lang"]]
                n, eps = len(exact), sk.error_bound()
                for q in (0.1, 0.5, 0.9, 0.99):
                    v = sk.quantile(q)
                    lo = np.searchsorted(exact, v, "left") / n
                    hi = np.searchsorted(exact, v, "right") / n
                    if not lo - eps <= q <= hi + eps:
                        return f"kll rank error at q={q} for {r['lang']}"
            return None if len(rows) == len(truth.doc_lengths) else "kll groups missing"

        def check_pairs(rows):
            pairs = {(int(r["id_a"]), int(r["id_b"])) for r in rows}
            self.candidate_pairs = len(pairs)
            missed = [(a, b) for a, b, _ in self.corpus.planted if (min(a, b), max(a, b)) not in pairs]
            return f"planted near-dups missed: {missed[:5]}" if missed else None

        run.timed("call_a", lambda: hll_agg(self.tokens_df, ["lang"], "token", p=self.HLL_P).collect(), check_hll)
        run.timed("call_b", lambda: cms_agg(self.tokens_df, ["lang"], "token").collect(), check_cms)
        if self.ESTIMATE_LANG in blobs:
            keys = self.tokens_df.filter(F.col("lang") == self.ESTIMATE_LANG).select("token").distinct()
            run.timed("call_c", lambda: cms_estimate_df(keys, "token", blobs[self.ESTIMATE_LANG]).collect(),
                      check_estimates)
        run.timed("call_d", lambda: kll_agg(self.lengths_df, ["lang"], "n_chars").collect(), check_kll)
        run.timed("call_e", lambda: minhash_lsh_candidates(self.docs_df).collect(), check_pairs)

    def named_metrics(self, run: Run) -> dict:
        return {"hll_s": run.median("call_a"), "cms_s": run.median("call_b"),
                "cms_estimate_s": run.median("call_c"), "kll_s": run.median("call_d"),
                "neardup_s": run.median("call_e"),
                "candidate_pairs": getattr(self, "candidate_pairs", None)}


WORKLOADS = {w.name: w for w in (BuildAppendSearch, SketchDedup)}
