"""Build-pipeline tests: resume, determinism/invariance, skew salting,
manifest lineage (SURVEY.md §5 items 3-5; FIXTURES.md §4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from micce_search_engine_spark.corpus import gen_pages, pages_spark_schema
from micce_search_engine_spark.operators.index_build import build_index
from micce_search_engine_spark.operators.query import SearchEngine
from micce_search_engine_spark.plans.manifest import Manifest

N = 400


@pytest.fixture(scope="module")
def pages_pdf():
    return gen_pages(N, seed=7)


def _build(spark, pdf, path, **kw):
    df = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(spark, df, str(path), n_buckets=4, max_postings_per_row=50, **kw)


def _segments_canon(spark, path):
    rows = (
        spark.read.parquet(str(path) + "/segments")
        .select("term", "salt", "df", "cf", "doc_blob", "tf_blob", "dl_blob")
        .collect()
    )
    return sorted(
        (r["term"], r["salt"], r["df"], r["cf"], bytes(r["doc_blob"]),
         bytes(r["tf_blob"]), bytes(r["dl_blob"]))
        for r in rows
    )


def test_resume_after_crash_matches_clean_build(spark, pages_pdf, tmp_path):
    clean = tmp_path / "clean"
    crashy = tmp_path / "crashy"
    _build(spark, pages_pdf, clean)
    with pytest.raises(RuntimeError, match="injected"):
        _build(spark, pages_pdf, crashy, fail_after="S1_tokenize")
    # resume: S1 must be skipped (status COMPLETED), rest re-driven
    _build(spark, pages_pdf, crashy)
    assert _segments_canon(spark, crashy) == _segments_canon(spark, clean)
    m = Manifest(str(crashy)).read()
    s1 = m[(m.stage == "S1_tokenize") & (m.partition_id == -1)]
    # one PROCESSING + one COMPLETED from the first attempt only — the
    # resumed run never re-marked S1
    assert list(s1.sort_values("updated_at")["status"]) == ["PROCESSING", "COMPLETED"]


def test_parallelism_invariance(spark, pages_pdf, tmp_path):
    """Same corpus at different shuffle parallelism -> byte-identical
    segment artifacts and identical docIDs (north_rule determinism)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        _build(spark, pages_pdf, tmp_path / "p3")
        spark.conf.set("spark.sql.shuffle.partitions", "11")
        _build(spark, pages_pdf, tmp_path / "p11")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert _segments_canon(spark, tmp_path / "p3") == _segments_canon(
        spark, tmp_path / "p11"
    )
    d3 = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "p3") + "/docs").collect()
    }
    d11 = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "p11") + "/docs").collect()
    }
    assert d3 == d11


def test_skew_salting_structure(spark, pages_pdf, tmp_path):
    """Zipf-head terms split into ceil(df/max) doc-range salts; ranges
    are disjoint and ordered; union re-decodes to the full posting.
    Every bucket's segment file holds its rows (term, salt)-sorted, so
    row-group min/max stats on term can prune lookups."""
    import os

    import pyarrow.parquet as pq

    from micce_search_engine_spark.functions.codec import decode_postings

    path = tmp_path / "salted"
    _build(spark, pages_pdf, path)  # max_postings_per_row=50
    seg = spark.read.parquet(str(path) + "/segments")
    the_rows = seg.filter(F.col("term") == "the").collect()
    ts = spark.read.parquet(str(path) + "/term_stats").filter(
        F.col("term") == "the"
    ).collect()[0]
    df_total = ts["df"]
    assert df_total > 50, "fixture should make 'the' hot"
    expected_salts = -(-df_total // 50)
    assert {r["salt"] for r in the_rows} == set(range(expected_salts))
    # disjoint ascending ranges; union == all docs containing 'the'
    decoded = []
    for r in sorted(the_rows, key=lambda r: r["salt"]):
        d, t, dl = decode_postings(r.asDict())
        decoded.append(d)
    all_docs = np.concatenate(decoded)
    assert np.all(np.diff(all_docs) > 0), "salt ranges must be disjoint+sorted"
    assert all_docs.size == df_total
    assert sum(r["df"] for r in the_rows) == df_total

    seg_root = str(path) + "/segments"
    buckets = [b for b in os.listdir(seg_root) if b.startswith("bucket=")]
    assert len(buckets) == 4
    for b in buckets:
        for f in os.listdir(os.path.join(seg_root, b)):
            if not f.endswith(".parquet"):
                continue
            tbl = pq.read_table(os.path.join(seg_root, b, f), columns=["term", "salt"])
            keys = list(zip(tbl.column("term").to_pylist(), tbl.column("salt").to_pylist()))
            assert keys == sorted(keys), (b, f)


def test_salted_vs_unsalted_results_identical(spark, pages_pdf, tmp_path):
    df = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    a = tmp_path / "unsalted"
    b = tmp_path / "salted2"
    build_index(spark, df, str(a), n_buckets=4, max_postings_per_row=10**9)
    build_index(spark, df, str(b), n_buckets=4, max_postings_per_row=40)
    ea, eb = SearchEngine(spark, str(a)), SearchEngine(spark, str(b))
    for q in ["the", "the w000001", "a of"]:
        ra = ea.search(q, limit=10, page=1)
        rb = eb.search(q, limit=10, page=1)
        assert ra["total_hits"] == rb["total_hits"]
        assert ra["results"] == rb["results"]


def test_manifest_schema_and_metrics(spark, pages_pdf, tmp_path):
    path = tmp_path / "m"
    _build(spark, pages_pdf, path)
    m = Manifest(str(path)).read()
    assert set(m.columns) == {
        "stage", "partition_id", "status", "updated_at",
        "rows_in", "rows_out", "bytes_out", "elapsed_ms",
    }
    done = m[(m.partition_id == -1) & (m.status == "COMPLETED")]
    assert set(done["stage"]) == {"S1_tokenize", "S2_stats", "S3_segments"}
    assert (done["elapsed_ms"] > 0).all()
    # per-partition metric rows exist with real byte counts
    parts = m[(m.partition_id >= 0) & (m.stage == "S3_segments")]
    assert len(parts) > 0 and (parts["bytes_out"] > 0).all()


def test_build_walks_no_directories_to_size_the_encode(spark, pages_pdf, tmp_path, monkeypatch):
    """The segment encoder sizes its partitions from term_stats' Σ df:
    no module under operators/ walks the index's directories. (The
    manifest's per-file metrics, plans/manifest.py, still list each
    stage's output files.)"""
    import os
    import sys

    walk = os.walk

    def guarded(top, *args, **kwargs):
        caller = sys._getframe(1).f_globals.get("__name__", "")
        assert not caller.startswith("micce_search_engine_spark.operators"), caller
        return walk(top, *args, **kwargs)

    monkeypatch.setattr(os, "walk", guarded)
    _build(spark, pages_pdf, tmp_path / "nowalk")
    assert _segments_canon(spark, tmp_path / "nowalk")


def test_encode_partition_count_changes_no_segment(spark, pages_pdf, tmp_path, monkeypatch):
    """A build and an upsert whose encode runs over many wave-aligned
    partitions (ENCODE_ROWS_PER_PARTITION cut to 1000 rows) write the
    same segments as at the default size."""
    import micce_search_engine_spark.operators.index_build as ib
    from micce_search_engine_spark.operators.upsert import apply_upsert

    pages = spark.createDataFrame(pages_pdf, schema=pages_spark_schema())
    updates = spark.createDataFrame(
        [
            (pages_pdf.url[0], "rewritten text the of alpha", None),
            (pages_pdf.url[1], None, "de"),
            ("https://zz.example/sizing", "fresh sizing page the", "en"),
        ],
        "url string, text string, lang string",
    )
    sizes = []
    grouped = ib._grouped_postings

    def spy(df, n_enc, with_positions):
        sizes.append(n_enc)
        return grouped(df, n_enc, with_positions)

    canon = {}
    for name in ("default", "small"):
        if name == "small":
            monkeypatch.setattr(ib, "ENCODE_ROWS_PER_PARTITION", 1000)
            monkeypatch.setattr(ib, "_grouped_postings", spy)
        path = tmp_path / name
        _build(spark, pages_pdf, path, with_positions=True)
        built = _segments_canon(spark, path)
        apply_upsert(spark, str(path), pages, updates)
        canon[name] = (built, _segments_canon(spark, path))
    assert canon["small"] == canon["default"]
    assert canon["default"][0] != canon["default"][1]
    par = spark.sparkContext.defaultParallelism
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(sizes) == 2 and all(n % par == 0 for n in sizes), sizes
    assert sizes[0] > n_shuf, sizes
