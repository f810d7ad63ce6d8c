"""The two workloads: ``serve`` (interactive and batch reads of a pinned
index) and ``ingest`` (bulk build, upserts, reads after each write).

Both run one client, closed loop, in this process, on a
``local[<cores>]`` session. Input generation and oracle checks happen
outside every timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

from perfbench import checks, inputs, percentiles
from perfbench.eventlog import EventLog, layer_metrics
from perfbench.kernels import kernel_metrics
from perfbench.tracing import Tracer

from micce_search_engine_spark.corpus import pages_spark_schema
from micce_search_engine_spark.functions.tokenize import tokenize_text
from micce_search_engine_spark.operators.batch_query import search_batch
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.operators.upsert import apply_upsert
from micce_search_engine_spark.oracle import BruteForceBM25
from micce_search_engine_spark.plans.manifest import Manifest
from micce_search_engine_spark.session import get_spark

N_DOCS = 10_000
#: segment and url-map partition counts sized for a 10k-doc index (the
#: defaults, 16 and 64, suit far larger ones and add per-file overhead
#: to every build and upsert)
INDEX_KW = dict(n_buckets=4, url_buckets=8, with_positions=True)
BATCH_SIZES = (100, 300)
#: single queries per round: slots 0-8 of the table, three single-term
#: and six multi-term or phrase queries. A round's p50 is then its
#: second-fastest multi-term query, never a mix of the two clusters
#: (single-term plans run fewer Spark jobs and take about half as long).
ROUND = 9
#: batch queries whose id is divisible by this are checked against the
#: oracle (single queries are all checked)
CHECK_EVERY = 20
TRACED_LAYERS = ("index_build", "query", "batch_query", "upsert")
_SPEC_KEYS = ("query_id", "query_text", "lang_filter", "limit", "page")
_UPDATES_SCHEMA = "url string, text string, lang string"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Run:
    """State of one benchmark run: tracer, work dir, Spark session and
    the operation counts that become ``attempted``/``failed``."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tr = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {}
        self.open_s: list[float] = []

    # -- session -------------------------------------------------------

    def start_spark(self):
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tr.span("session.get_spark") as sp:
            self.spark = get_spark(
                f"perfbench-{self.workload}", master=f"local[{_cores()}]", extra_conf=conf
            )
        self.tr.bind(self.spark.sparkContext)
        self.layers["session.start_s"] = sp.seconds
        return self.spark

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024

    def stop_spark(self) -> None:
        """Stop the session, then end the JVM and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = gw.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- operations ----------------------------------------------------

    def write_pages(self, pdf, name: str) -> str:
        path = os.path.join(self.work, name)
        os.makedirs(path)
        table = inputs.pages_table(pdf)
        step = -(-len(pdf) // 8)
        for i in range(8):
            pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
        return path

    def build(self, pages_path: str, index_dir: str) -> float:
        pages = self.spark.read.parquet(pages_path)
        with self.tr.span("index_build.build_index") as sp:
            build_index(self.spark, pages, index_dir, **INDEX_KW)
        self.attempted += 1
        return sp.seconds

    def open(self, index_dir: str, preload: bool) -> SearchEngine:
        with self.tr.span("query.open") as sp:
            eng = SearchEngine(self.spark, index_dir, synonyms=inputs.SYNONYMS, preload=preload)
        self.attempted += 1
        self.open_s.append(sp.seconds)
        return eng

    def query(self, eng: SearchEngine, spec: dict, timed: bool = False):
        """One single query; returns (result or None, seconds). ``timed``
        marks the span as part of a workload's latency sample."""
        phrase = spec["shape"] == "phrase"
        args = (spec["query_text"], spec["lang_filter"], spec["limit"], spec["page"])
        self.attempted += 1
        try:
            with self.tr.span(
                "query.search_phrase" if phrase else "query.search", f"q{spec['query_id']}"
            ) as sp:
                res = eng.search_phrase(*args) if phrase else eng.search(*args)
        except Exception as e:  # counted into error_rate, run goes on
            self._fail(f"query {spec['query_id']}: {e!r}")
            return None, 0.0
        sp.attrs.update(shape=spec["shape"], results=len(res["results"]), timed=timed)
        return res, sp.seconds

    def batch(self, eng: SearchEngine, specs: list[dict]):
        """One ``search_batch`` call; returns (rows or None, seconds)."""
        self.attempted += len(specs)
        plain = [{k: s[k] for k in _SPEC_KEYS} for s in specs]
        try:
            with self.tr.span("batch_query.search_batch", f"b{specs[0]['query_id']}") as sp:
                pdf = search_batch(eng, plain).toPandas()
        except Exception as e:
            self._fail(f"batch of {len(specs)}: {e!r}", n=len(specs))
            return None, 0.0
        sp.attrs.update(queries=len(specs), results=len(pdf))
        return pdf, sp.seconds

    def upsert(self, index_dir: str, state, updates, k: int) -> float:
        old = state[state["url"].isin(updates["url"])]
        old_df = self.spark.createDataFrame(old, schema=pages_spark_schema())
        upd_df = self.spark.createDataFrame(updates, _UPDATES_SCHEMA)
        with self.tr.span("upsert.apply_upsert", f"delta{k}") as sp:
            apply_upsert(self.spark, index_dir, old_df, upd_df)
        self.attempted += 1
        return sp.seconds

    def _fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)
        print("perfbench: FAILED " + msg, file=sys.stderr)

    # -- checks --------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self._fail("oracle mismatch: " + what)

    def check_singles(self, oracle, done, compare) -> None:
        for spec, res in done:
            if res is not None:
                hits = checks.oracle_all(oracle, _oracle_spec(spec), inputs.SYNONYMS)
                self.check(compare(res, hits, spec), f"query {spec}")

    def check_batch(self, oracle, specs, pdf, compare) -> None:
        if pdf is None:
            return
        for spec in specs:
            if spec["query_id"] % CHECK_EVERY:
                continue
            hits = checks.oracle_all(oracle, spec, inputs.SYNONYMS)
            got = checks.batch_results(pdf, spec["query_id"])
            lo = spec["limit"] * (spec["page"] - 1)
            ok = len(hits) <= lo if got is None else compare(got, hits, spec)
            self.check(ok, f"batch query {spec}")

    # -- trace ---------------------------------------------------------

    def finish_trace(self, index_dir: str, texts, lang_ids, terms) -> None:
        """Per-layer metrics that need the event log or the kernels."""
        m = Manifest(index_dir).read()
        m = m[(m["partition_id"] == -1) & (m["status"] == "COMPLETED")]
        for stage, key in (("S1_tokenize", "s1"), ("S2_stats", "s2"), ("S3_segments", "s3")):
            ms = m[m["stage"] == stage].sort_values("updated_at")["elapsed_ms"]
            self.layers[f"index_build.{key}_{stage.split('_', 1)[1]}_s"] = float(ms.iloc[-1]) / 1e3
        self.layers.update(
            kernel_metrics(texts, lang_ids, os.path.join(index_dir, "segments"), terms)
        )
        spans = self.tr.spans
        self.layers["query.open_s"] = statistics.fmean(self.open_s)
        for shape in inputs.SHAPES:
            xs = [s.seconds for s in spans if s.attrs.get("shape") == shape and s.attrs.get("timed")]
            self.layers[f"query.search_ms.{shape}"] = statistics.median(xs) * 1e3
        for b in BATCH_SIZES:
            xs = [s.seconds for s in spans if s.attrs.get("queries") == b]
            self.layers[f"batch_query.batch_s.b{b}"] = statistics.fmean(xs)
        ups = [s for s in spans if s.layer == "upsert"]
        self.layers["upsert.apply_s"] = statistics.fmean(s.seconds for s in ups)
        self.layers["upsert.index_files"] = _tree_stats(index_dir)[1]

    def read_event_log(self) -> dict:
        """After the session stopped: attribute Spark work to spans."""
        log = EventLog.from_dir(os.path.join(self.work, "eventlog"))
        spans = self.tr.spans
        self.layers.update(layer_metrics(log, spans, TRACED_LAYERS))
        qs = [s for s in spans if s.name.startswith("query.search")]
        rows = sum(log.span_metrics(s)["records_read"] for s in qs)
        self.layers["query.rows_per_result"] = rows / max(sum(s.attrs["results"] for s in qs), 1)
        ups = [log.span_metrics(s) for s in spans if s.layer == "upsert"]
        self.layers["upsert.bytes_written_mb"] = statistics.fmean(u["bytes_written_mb"] for u in ups)
        return {
            "spans": self.tr.to_json(),
            "span_spark": {s.sid: log.span_metrics(s) for s in spans},
            "unattributed_jobs": log.unattributed_jobs(spans),
        }


def _oracle_spec(spec: dict) -> dict:
    return dict(spec, phrase=spec["shape"] == "phrase")


def _query_terms(specs) -> list[str]:
    """Every term the specs look up, synonym expansions included."""
    terms = set()
    for s in specs:
        terms.update(tokenize_text(s["query_text"]))
        terms.update(tokenize_text(inputs.SYNONYMS.get(s["query_text"], "")))
    return sorted(terms)


def _kernel_inputs(pdf) -> tuple[list[str], list[int]]:
    """Non-empty texts and their lang ids (build_index numbers langs by
    sorted distinct value)."""
    rows = pdf[pdf["text"].fillna("") != ""]
    langs = sorted(set(pdf["lang"]))
    return list(rows["text"]), [langs.index(l) for l in rows["lang"]]


# ---------------------------------------------------------------------------


def run_serve(run: Run) -> None:
    """Set-up: session, positional build of the corpus, pinned engine
    open and warm-up. Timed: a closed loop of single queries in whole
    rounds (one at least) until ``seconds`` have passed, then one batch
    of 100 and one of 300 queries."""
    seed = run.seed
    corpus = inputs.gen_pages(N_DOCS, seed)
    texts = [t for t in corpus["text"] if t]
    pages_path = run.write_pages(corpus, "pages")
    index_dir = os.path.join(run.work, "index")
    cycle = len(inputs.QUERY_SLOTS)
    stream = [q for q in inputs.gen_queries(400, seed + 1, texts) if q["query_id"] % cycle < ROUND]
    warm = inputs.gen_queries(10, seed + 2, texts)
    batches = {
        b: inputs.gen_queries(b, seed + 3 + i, texts, first_id=1000 * (i + 1))
        for i, b in enumerate(BATCH_SIZES)
    }

    t0 = time.perf_counter()
    run.start_spark()
    build_s = run.build(pages_path, index_dir)
    t_open = time.perf_counter()
    eng = run.open(index_dir, preload=True)
    run.query(eng, warm[1])  # first answer fills the pinned cache
    fresh_s = time.perf_counter() - t_open
    run.batch(eng, warm)  # first batch plan of the session
    # steady state: the engine's term-df cache holds the stream's terms,
    # so a query's latency depends on its shape, not on which of its
    # terms an earlier query happened to look up (a miss is one more
    # Spark job, ~0.3 s). Cold lookups stay in fresh_p50_s.
    eng.idf_map(_query_terms(stream))
    setup_s = time.perf_counter() - t0

    done, lat = [], []
    t_end = time.perf_counter() + run.seconds
    for spec in stream:
        # whole rounds keep the shape mix, and so the median, the same
        if done and len(done) % ROUND == 0 and time.perf_counter() >= t_end:
            break
        res, s = run.query(eng, spec, timed=True)
        done.append((spec, res))
        if res is not None:
            lat.append(s)
    batch_out = {b: run.batch(eng, batches[b]) for b in BATCH_SIZES}
    batch_s = sum(s for _, s in batch_out.values())

    run.e2e = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(lat) * 1e3,
        "batch_qps": sum(BATCH_SIZES) / batch_s,
        "build_docs_per_s": N_DOCS / build_s,
        "fresh_p50_s": fresh_s,
        "index_bytes_per_text_byte": _tree_stats(index_dir)[0] / inputs.text_bytes(corpus),
    }
    run.info.update(
        queries=len(lat),
        query_tail=percentiles.tail([x * 1e3 for x in lat]),
        query_ms=sorted(round(x * 1e3) for x in lat),
        fresh_samples=1,
        batch_s={b: round(s, 3) for b, (_, s) in batch_out.items()},
    )
    run.e2e["peak_rss_mb"] = run.peak_rss_mb()

    if run.trace:
        # serve runs no upsert; one delta after the timed region gives
        # the upsert layer's numbers on this index too
        upd, _ = inputs.gen_delta(corpus, seed, 0, N_DOCS)
        run.upsert(index_dir, corpus, upd, 0)
        run.finish_trace(index_dir, *_kernel_inputs(corpus), _query_terms(stream[: len(done)]))

    oracle = BruteForceBM25(corpus)
    run.check_singles(oracle, done, checks.same_ids)
    for b in BATCH_SIZES:
        run.check_batch(oracle, batches[b], batch_out[b][0], checks.same_ids)


def run_ingest(run: Run) -> None:
    """Set-up: session only. Timed: a positional bulk build, then
    100-doc deltas through ``apply_upsert`` (one at least, more while
    ``seconds`` last). After each delta the engine is reopened without
    pinning and one query looks for the delta's new text; that ends
    the delta's freshness time. One round of single queries (every
    shape) and one batch of 100 follow."""
    seed = run.seed
    corpus = inputs.gen_pages(N_DOCS, seed)
    texts = [t for t in corpus["text"] if t]
    pages_path = run.write_pages(corpus, "pages")
    index_dir = os.path.join(run.work, "index")

    t0 = time.perf_counter()
    run.start_spark()
    setup_s = time.perf_counter() - t0
    build_s = run.build(pages_path, index_dir)
    # untimed warm-up of the query and batch plans, as serve's set-up does
    run.batch(run.open(index_dir, preload=False), inputs.gen_queries(10, seed + 2, texts))

    state, next_i = corpus, N_DOCS
    fresh, lat, bqps, rounds = [], [], [], []
    t_end = time.perf_counter() + run.seconds
    k = 0
    while k == 0 or time.perf_counter() < t_end:
        upd, marker = inputs.gen_delta(state, seed, k, next_i)
        reads = inputs.gen_queries(ROUND, seed + 10 + k, texts, first_id=100_000 * (k + 1))
        vbatch = inputs.gen_queries(100, seed + 20 + k, texts, first_id=100_000 * (k + 1) + 10)
        fq = {"query_id": -1 - k, "query_text": marker, "lang_filter": None,
              "limit": 10, "page": 1, "shape": "single_term"}
        t_submit = time.perf_counter()
        run.upsert(index_dir, state, upd, k)
        eng = run.open(index_dir, preload=False)
        fres, _ = run.query(eng, fq)
        fresh.append(time.perf_counter() - t_submit)
        done = [(fq, fres)]
        eng.idf_map(_query_terms(reads))  # as in serve: latency by shape
        for spec in reads:
            res, s = run.query(eng, spec, timed=True)
            done.append((spec, res))
            if res is not None:
                lat.append(s)
        pdf, s = run.batch(eng, vbatch)
        if pdf is not None:
            bqps.append(len(vbatch) / s)
        state = inputs.merge_omit_nil(state, upd)
        rounds.append((state, done, vbatch, pdf))
        next_i += 40
        k += 1

    run.e2e = {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(lat) * 1e3,
        "batch_qps": statistics.median(bqps),
        "build_docs_per_s": N_DOCS / build_s,
        "fresh_p50_s": statistics.median(fresh),
        "index_bytes_per_text_byte": _tree_stats(index_dir)[0] / inputs.text_bytes(state),
    }
    run.info.update(
        queries=len(lat),
        query_tail=percentiles.tail([x * 1e3 for x in lat]),
        fresh_samples=len(fresh),
        deltas=k,
    )
    run.e2e["peak_rss_mb"] = run.peak_rss_mb()

    if run.trace:
        # the timed loop runs no 300-query batch; one after it gives
        # the batch layer's b300 number on the unpinned engine
        run.batch(eng, inputs.gen_queries(300, seed + 30, texts, first_id=10_000_000))
        terms = _query_terms([s for _, d, _, _ in rounds for s, _ in d])
        run.finish_trace(index_dir, *_kernel_inputs(corpus), terms)

    docs = run.spark.read.parquet(os.path.join(index_dir, "docs")).select("doc_id", "url").toPandas()
    got_url = dict(zip(docs["doc_id"].astype(int), docs["url"]))
    for st, done, vbatch, pdf in rounds:
        oracle = BruteForceBM25(st)
        exp_url = oracle.urls

        def by_url(got, hits, spec):
            return checks.same_urls(got, hits, spec, got_url, exp_url)

        fq, fres = done[0]
        run.check(fres is not None and fres["total_hits"] == 90, f"fresh query {fq}")
        run.check_singles(oracle, done, by_url)
        run.check_batch(oracle, vbatch, pdf, by_url)


WORKLOADS = {"serve": run_serve, "ingest": run_ingest}


def prepare_work(root: str, workload: str, seed: int) -> str:
    work = os.path.join(root, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work
