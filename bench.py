"""Per-round benchmark. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Headline suite:
  * index_build      — full inverted-index build (tokenize -> stats ->
                       salted segments) over a deterministic synthetic
                       pages corpus (BENCH_DOCS docs, FIXTURES.md rules;
                       corpus generation cached in /tmp, excluded from
                       timing) — reported also as docs_per_sec;
  * batch100         — 100-query batched BM25 evaluation (one plan);
  * q_* singles      — interactive-path single-query latencies (p50);
  * minhash_lsh/ann  — pipeline-op throughput on $SPARK_GRAFT_SF_DIR.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_DOCS (default 100000).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from micce_search_engine_spark.corpus import (  # noqa: E402
    gen_pages,
    gen_queries,
    gen_synonyms,
    pages_spark_schema,
)
from micce_search_engine_spark.session import get_spark  # noqa: E402


# default to tmpfs when present: this VM throttles buffered disk writes
# to ~30 MB/s, which would disk-bind every leg (a real cluster's
# aggregate disk bandwidth scales with executors)
WORKDIR = os.environ.get(
    "SPARK_GRAFT_WORKDIR", "/dev/shm/mse" if os.path.isdir("/dev/shm") else "/tmp"
)


def ensure_corpus(spark, n: int) -> str:
    # v2 layout: many small files per chunk — a 10-file corpus caps the
    # scan (and everything chained after it) at ~10 parallel row
    # groups, which silently throttled the 16-core legs; a real
    # Common-Crawl table has thousands of files
    path = f"{WORKDIR}/mse_bench_corpus/v2_n{n}"
    marker = os.path.join(path, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        # generate in chunks to bound driver memory
        chunk = 50_000
        first = True
        for start in range(0, n, chunk):
            m = min(chunk, n - start)
            pdf = gen_pages(m, seed=42 + start, start=start)
            df = spark.createDataFrame(pdf, schema=pages_spark_schema())
            df.repartition(8).write.mode("overwrite" if first else "append").parquet(path)
            first = False
        open(marker, "w").close()
    return path


def run_suite(spark, pages, sf_dir: str, cpus: int, n_docs: int) -> tuple[dict, dict]:
    """One full pass of the headline suite -> (timings, row counts)."""
    from pyspark.sql import functions as F

    from micce_search_engine_spark.operators.ann import (
        brute_force_topk,
        build_ann_index,
        lsh_topk_indexed,
    )
    from micce_search_engine_spark.operators.batch_query import (
        search_batch,
        search_batch_topk,
    )
    from micce_search_engine_spark.operators.dedup import minhash_lsh_pairs
    from micce_search_engine_spark.operators.index_build import build_index
    from micce_search_engine_spark.operators.query import SearchEngine

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    index_dir = f"{WORKDIR}/mse_bench_index/c{cpus}_n{n_docs}"
    shutil.rmtree(index_dir, ignore_errors=True)
    t0 = time.monotonic()
    build_index(spark, pages, index_dir, n_buckets=32, max_postings_per_row=200_000)
    timings["index_build"] = time.monotonic() - t0
    # per-stage decomposition from the build's own manifest — lets the
    # scaling harness normalize each stage against the substrate
    # control matching its bottleneck (S1 tokenize is bandwidth-bound,
    # S3 shuffle+encode is compute-bound)
    from micce_search_engine_spark.plans.manifest import Manifest

    mm = Manifest(index_dir).read()
    mm = mm[mm["partition_id"] == -1]
    last = mm.sort_values("updated_at").groupby("stage").tail(1)
    counts["build_stages_ms"] = {
        r["stage"]: int(r["elapsed_ms"]) for _, r in last.iterrows()
    }

    synonyms = dict(gen_synonyms())
    # preload=True: segments pinned (the offline-evaluation engine) —
    # single-query latencies measure query work, not parquet re-open
    eng = SearchEngine(spark, index_dir, synonyms=synonyms, preload=True)

    qset = gen_queries(seed=42, n=100)
    specs = [
        {
            "query_id": int(r.query_id),
            "query_text": r.query_text,
            "lang_filter": r.lang_filter if isinstance(r.lang_filter, str) else None,
            "limit": int(r.limit),
            "page": int(r.page),
        }
        for r in qset.itertuples()
    ]
    t0 = time.monotonic()
    counts["batch_rows"] = search_batch(eng, specs).count()
    timings["batch100"] = time.monotonic() - t0

    t0 = time.monotonic()
    counts["batch_wand_rows"] = search_batch_topk(eng, specs).count()
    timings["batch100_wand"] = time.monotonic() - t0

    # SPARK_GRAFT_BENCH_ONLY: comma-set of optional leg groups to run
    # ("singles,wand,phrase,pipeline"); empty/unset = all. Build +
    # batch legs always run (the headline metrics). Lets a big-corpus
    # scaling leg fit a bounded time slice.
    only = {
        s
        for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if s
    }

    def _want(group: str) -> bool:
        return not only or group in only

    single_qs = {
        "q_stopword": ("the", None),
        "q_hot_term": ("w000000", None),
        "q_and2": ("w000001 w000003", None),
        "q_synonym": ("alias0", None),
        "q_lang": ("w000002", "ja"),
    }
    if _want("singles"):
        lat = []
        for name, (qt, lf) in single_qs.items():
            t0 = time.monotonic()
            eng.search(qt, lang_filter=lf, limit=10, page=1)
            timings[name] = time.monotonic() - t0
            lat.append(timings[name])
        timings["q_p50"] = statistics.median(lat)

    if _want("wand"):
        t0 = time.monotonic()
        eng.search("the", limit=10, page=1, topk_only=True)
        timings["q_wand_stopword"] = time.monotonic() - t0

        t0 = time.monotonic()
        eng.search("the w000001", limit=10, page=1, topk_only=True)
        timings["q_wand_and2"] = time.monotonic() - t0

    eng._segments.unpersist()
    eng._term_stats.unpersist()

    # phrase legs (round-5): positional index build cost (the opt-in
    # 5th stream's price, VERDICT r4 #6) + bounded-phrase latency with
    # a stopword in the phrase — the shape that was the r4 scale hazard
    if _want("phrase"):
        pos_dir = f"{WORKDIR}/mse_bench_index/c{cpus}_n{n_docs}_pos"
        shutil.rmtree(pos_dir, ignore_errors=True)
        t0 = time.monotonic()
        build_index(
            spark,
            pages,
            pos_dir,
            n_buckets=32,
            max_postings_per_row=200_000,
            with_positions=True,
        )
        timings["index_build_pos"] = time.monotonic() - t0

        def _du(path: str) -> int:
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total

        counts["segments_bytes"] = _du(os.path.join(index_dir, "segments"))
        counts["segments_pos_bytes"] = _du(os.path.join(pos_dir, "segments"))
        eng_pos = SearchEngine(spark, pos_dir, synonyms=synonyms, preload=True)
        # warm the segment cache like the other single-query legs (they
        # ride on an engine the batch pass already warmed)
        eng_pos.search("w000003", limit=10, page=1)
        t0 = time.monotonic()
        counts["phrase_stopword_hits"] = eng_pos.search_phrase(
            "the w000001", limit=10, page=1
        )["total_hits"]
        timings["q_phrase_stopword"] = time.monotonic() - t0
        t0 = time.monotonic()
        counts["phrase_hits"] = eng_pos.search_phrase(
            "w000001 w000002", limit=10, page=1
        )["total_hits"]
        timings["q_phrase"] = time.monotonic() - t0
        eng_pos._segments.unpersist()
        eng_pos._term_stats.unpersist()
        shutil.rmtree(pos_dir, ignore_errors=True)

    if _want("pipeline"):
        # pipeline ops on the driver-provided sf tables
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        t0 = time.monotonic()
        minhash_lsh_pairs(docs, threshold=0.5).count()
        timings["minhash_lsh"] = time.monotonic() - t0

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
        t0 = time.monotonic()
        brute_force_topk(emb.filter(F.col("vec_id") != 0), qv, k=10).collect()
        timings["ann_topk"] = time.monotonic() - t0

        # scale path: persisted LSH index, partition-pruned probe scan
        dim = len(qv)
        ann_dir = f"{WORKDIR}/mse_bench_ann"
        shutil.rmtree(ann_dir, ignore_errors=True)
        build_ann_index(emb.filter(F.col("vec_id") != 0), ann_dir, dim=dim)
        t0 = time.monotonic()
        lsh_topk_indexed(spark, ann_dir, qv, k=10).collect()
        timings["ann_topk_indexed"] = time.monotonic() - t0
    return timings, counts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        # shuffle/spill on the bench workdir (tmpfs for scaling runs —
        # this VM's buffered disk writes are throttled to ~30 MB/s,
        # which would make every leg disk-bound; a real cluster's
        # aggregate disk bandwidth scales with executors)
        extra_conf={"spark.local.dir": os.path.join(WORKDIR, "spark-local")},
    )

    from micce_search_engine_spark.operators.index_build import build_index

    corpus_path = ensure_corpus(spark, n_docs)
    pages = spark.read.parquet(corpus_path)

    # JVM/JIT warmup: an untimed 5k-doc build first. A fresh JVM's
    # first pipeline pays 40-60 s of whole-stage-codegen compilation +
    # JIT + Python worker spin-up — a constant that swamps the timed
    # metric at bench scale and would never appear in a long-lived
    # cluster; measured steady-state build is what scales. (Disclosed
    # in BENCH/BASELINE.md run conditions — Spark legs only.)
    warm_dir = f"{WORKDIR}/mse_bench_index/warmup_c{cpus}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    build_index(
        spark, pages.limit(5000), warm_dir, n_buckets=8, max_postings_per_row=200_000
    )
    shutil.rmtree(warm_dir, ignore_errors=True)

    # min-of-N reps (VERDICT r3 #8): a single rep inherits residual
    # JIT/page-cache noise; per-rep arrays are recorded so readers can
    # see the variance the min discards
    reps: list[dict] = []
    counts: dict[str, int] = {}
    for _ in range(max(n_reps, 1)):
        t, counts = run_suite(spark, pages, sf_dir, cpus, n_docs)
        reps.append({k: round(v, 3) for k, v in t.items()})
    timings = {k: min(r[k] for r in reps) for k in reps[0]}

    total = sum(v for k, v in timings.items() if k != "q_p50")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    result = {
        "metric": "index-build + BM25 query suite (synthetic pages corpus "
        f"n={n_docs}, local[{cpus}], min of {len(reps)} reps)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "reps": reps,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": n_docs,
        "cpus": cpus,
        "docs_per_sec": round(n_docs / timings["index_build"], 1),
        "batch_queries_per_sec": round(100.0 / timings["batch100"], 2),
        "batch_wand_queries_per_sec": round(100.0 / timings["batch100_wand"], 2),
        "batch_rows": int(counts["batch_rows"]),
        "batch_wand_rows": int(counts["batch_wand_rows"]),
        "build_stages_ms": counts.get("build_stages_ms", {}),
        "segments_bytes": counts.get("segments_bytes"),
        "segments_pos_bytes": counts.get("segments_pos_bytes"),
        "phrase_hits": {
            "stopword": counts.get("phrase_stopword_hits"),
            "rare": counts.get("phrase_hits"),
        },
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
