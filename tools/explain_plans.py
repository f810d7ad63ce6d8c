"""Dump physical plans of the engine's key operators to BENCH/PLANS.md.

Evidence that the plans are the ones you'd want at 100 TB:
  * parquet scans carry PushedFilters / PartitionFilters and pruned
    ReadSchema (no blob columns in metadata-only scans);
  * small sides broadcast (BroadcastHashJoin / BroadcastExchange);
  * every keyword query runs through one vectorized BM25 evaluator
    (MapInArrow): in one task when the call fits one task
    (``batch_query._one_task_fit``: its sum df within one evaluation
    chunk, or, for a keyword call that would otherwise shuffle, its
    panel, min(sum df, N) x vocabulary, within 8M cells and its sum df
    within 2M postings), a batch of 100 queries included, else with at
    most one doc_id Exchange in front;
  * a multi-field keyword query is one evaluator program too: one
    decode per field, no aggregate, and in one task (Coalesce 1, no
    Exchange) when it fits one task;
  * the LSH ANN indexed path shows bucket partition pruning.

Usage: python tools/explain_plans.py [n_docs]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    import shutil

    from micce_search_engine_spark.corpus import (
        gen_pages,
        gen_queries,
        gen_synonyms,
        pages_spark_schema,
    )
    from micce_search_engine_spark.operators import batch_query as bq
    from micce_search_engine_spark.operators.batch_query import (
        _batch_wand_selection,
        _eval_plan,
    )
    from micce_search_engine_spark.operators.index_build import build_index
    from micce_search_engine_spark.operators.query import SearchEngine
    from micce_search_engine_spark.session import get_spark

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    pdf = gen_pages(n, seed=42)
    idx = "/tmp/mse_plans_idx"
    shutil.rmtree(idx, ignore_errors=True)
    pages = spark.createDataFrame(pdf, schema=pages_spark_schema())
    build_index(
        spark, pages, idx, n_buckets=8, max_postings_per_row=5000,
        with_positions=True,
    )
    syn = dict(gen_synonyms())
    eng = SearchEngine(spark, idx, synonyms=syn)

    sections: list[tuple[str, str, str]] = []

    def spec(qid, text, lang=None, limit=10, page=1):
        return {"query_id": qid, "query_text": text, "lang_filter": lang,
                "limit": limit, "page": page}

    def plan(queries, block_join=None):
        return explain(_eval_plan(eng, queries, 10, block_join=block_join)[0])

    # the one BM25 evaluator, in its three plan shapes
    sections.append(
        (
            "BM25 evaluator, a call that fits one task",
            "Look for: NO Exchange anywhere — the call's postings (sum of "
            "its terms' df) fit one evaluation chunk, so the bucket-pruned "
            "segment scan (PartitionFilters "
            "[bucket IN ...], PushedFilters In(term, ...), ReadSchema "
            "WITHOUT unused blob columns) is read through Coalesce 1 into "
            "ONE MapInArrow that decodes and evaluates the whole task as "
            "one chunk: one task, one Spark job.",
            plan([spec(0, "the w000001", lang="en")]),
        )
    )

    # a batch of 100 queries: its sum df is over one evaluation chunk,
    # but its panel fits, so it runs in one task too
    batch = gen_queries(seed=42, n=100).to_dict("records")
    terms = bq._compile(eng, batch)[2]
    sum_df = sum(eng._df_cache[t] for t in terms)
    sections.append(
        (
            "BM25 evaluator, a batch of 100 queries that fits one task",
            f"The batch has {len(terms)} distinct terms with sum df {sum_df:,} "
            f"(one evaluation chunk holds {bq._chunk_rows(len(terms)):,} "
            f"postings) over N = {eng.N:,} docs: its panel bound "
            f"{min(sum_df, eng.N) * len(terms):,} cells is within 8M and its "
            "sum df within 2M postings. Look for: the same shape as the "
            "single call — Coalesce 1 into ONE MapInArrow that decodes and "
            "evaluates every query of the batch, and NO Exchange.",
            plan(batch),
        )
    )

    # every small call on this index fits one task: push the calls below
    # over the one-task bound to show the shapes larger calls take
    one_task_fit = bq._one_task_fit
    bq._one_task_fit = lambda *args: None
    try:
        sections.append(
            (
                "BM25 evaluator, single-term query over the one-task bound "
                "(shuffle-free)",
                "Look for: NO Exchange and NO Coalesce — a doc holds exactly "
                "one posting of a term, so decode and evaluation run as ONE "
                "MapInArrow per partition of the bucket-pruned segment scan.",
                plan([spec(0, "the")]),
            )
        )
        sections.append(
            (
                "BM25 evaluator, multi-term query over the one-task bound "
                "(one doc_id shuffle)",
                "Look for: the decode MapInArrow, then exactly ONE Exchange "
                "hashpartitioning(doc_id) + Sort, then the evaluator "
                "MapInArrow emitting per-partition top-k + count markers — no "
                "aggregate, no window.",
                plan([spec(0, "the w000001", lang="en")]),
            )
        )

        # phrase plan: the same evaluator, with positions and the
        # rarest-term block bound
        eng.phrase_block_factor = 0  # force block-selection engagement
        sections.append(
            (
                "BM25 evaluator, phrase query over the one-task bound "
                "(positions, rarest-term bound)",
                "Look for: ONE positional scan (ReadSchema WITH pos_blob/"
                "block_pos_off) behind a BroadcastHashJoin against the "
                "rarest-term-derived block selection (term, salt, allowed), "
                "computed and collected before the evaluation, so its side "
                "is a Scan ExistingRDD of the collected rows — "
                "the frequent terms' streams are never fully decoded in ANY "
                "mode (the only unrestricted decode is the rarest term's "
                "cheap score scan feeding the selection); then the same ONE "
                "Exchange hashpartitioning(doc_id) + Sort and evaluator "
                "MapInArrow as any multi-term query, which checks adjacency "
                "per doc — no position explode, no per-doc map aggregate, no "
                "window.",
                plan([dict(spec(0, "the of"), phrase=True)]),
            )
        )
        eng.phrase_block_factor = SearchEngine.phrase_block_factor

        sections.append(
            (
                "BM25 evaluator, batch over the one-task bound (N queries, "
                "one plan)",
                "Look for: the same shape as the multi-term query — ONE "
                "Exchange hashpartitioning(doc_id) of the decoded postings, "
                "no per-query fan-out join — then a single MapInArrow "
                "evaluating every query's candidacy + fixed-point score "
                "vectorized per doc chunk.",
                plan([spec(0, "the w000002", lang="en"), spec(1, "alias0", limit=5, page=2)]),
            )
        )

        # WAND: surviving-block selection joined into the segment scan
        wspec = [spec(0, "the")]
        sel = _batch_wand_selection(eng, wspec, 10)
        if sel is not None:
            sections.append(
                (
                    "WAND surviving-block decode (relational selection)",
                    "Look for: the (term, salt, allowed) selection joined into "
                    "the bucket-pruned segment scan (no driver-side block "
                    "lists; the join side is an aggregate Spark can broadcast "
                    "at runtime); decode restricted by the allowed column.",
                    plan(wspec, block_join=sel),
                )
            )
    finally:
        bq._one_task_fit = one_task_fit

    # multi-field: the same evaluator over a field-qualified vocabulary
    from micce_search_engine_spark.operators.multifield import multifield_scored

    title_idx = "/tmp/mse_plans_title_idx"
    shutil.rmtree(title_idx, ignore_errors=True)
    titles = pdf.assign(text=[" ".join((t or "").split(" ")[:5]) for t in pdf["text"]])
    build_index(
        spark, spark.createDataFrame(titles, schema=pages_spark_schema()), title_idx,
        n_buckets=8, max_postings_per_row=5000, with_positions=True,
    )
    fields = {"text": eng, "title": SearchEngine(spark, title_idx, synonyms=syn)}
    sections.append(
        (
            "Multi-field keyword query (two fields, lang filter)",
            "Look for: one bucket-pruned segment scan + decode MapInArrow per "
            "field, each followed by the Filter on that field's own lang_id and "
            "the Project prefixing term with the field index; a Union; then, "
            "as the call fits one task, Coalesce 1 and "
            "ONE evaluator MapInArrow emitting every matched (doc_id, score) "
            "— no Exchange, no aggregate, no join. Over that bound the Union "
            "is repartitioned by doc_id once (one Exchange + Sort) instead.",
            explain(multifield_scored(fields, "the w000001", syn, lang_filter="en")),
        )
    )
    sections.append(
        (
            "Multi-field phrase query (two fields)",
            "Look for: the same shape, each field's scan reading the position "
            "stream (ReadSchema WITH pos_blob/block_pos_off); adjacency is "
            "checked per field inside the one evaluator MapInArrow.",
            explain(multifield_scored(fields, "the of", syn, phrase=True)),
        )
    )

    # dedup: minhash banding
    from micce_search_engine_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        pdf.head(2000)[["text"]].assign(doc_id=range(2000))[["doc_id", "text"]]
    )
    sections.append(
        (
            "MinHash-LSH near-dup pairs",
            "Look for (round-6): signatures from one codegen explode + "
            "partial-min HashAggregate (no distinct); band-bucket self-join "
            "(never CartesianProduct); verification as array_intersect over "
            "candidate docs' shingle arrays — NO shingle-keyed join anywhere.",
            explain(minhash_lsh_pairs(docs, threshold=0.5)),
        )
    )

    # ANN indexed probe scan
    from micce_search_engine_spark.operators.ann import build_ann_index, lsh_topk_indexed

    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) for j in range(16)]) for i in range(1, 400)],
        "vec_id long, embedding array<float>",
    )
    ann_dir = "/tmp/mse_plans_ann"
    shutil.rmtree(ann_dir, ignore_errors=True)
    build_ann_index(emb, ann_dir, dim=16)
    q = [0.5] * 16
    sections.append(
        (
            "Persisted LSH ANN probe scan",
            "Look for: PartitionFilters [bucket IN (...)] — only probe "
            "partitions read; TakeOrderedAndProject for top-k.",
            explain(lsh_topk_indexed(spark, ann_dir, q)),
        )
    )

    # IVF: trained centroids, persisted list-partitioned index
    from micce_search_engine_spark.operators.ann import (
        build_ivf_index,
        ivf_topk_indexed,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, dim=16, k=4, iters=2)
    ivf_dir = "/tmp/mse_plans_ivf"
    shutil.rmtree(ivf_dir, ignore_errors=True)
    build_ivf_index(emb, ivf_dir, cents)
    sections.append(
        (
            "Persisted IVF probe scan (trained centroids)",
            "Look for: PartitionFilters [ivf_list IN (...)] — only probe "
            "lists read; TakeOrderedAndProject for top-k.",
            explain(ivf_topk_indexed(spark, ivf_dir, q, n_probes=2)),
        )
    )

    out = ["# Physical plans (evidence of scale-shape)\n"]
    out.append(
        f"Generated by tools/explain_plans.py over a {n:,}-doc index; "
        "plans are data-size-independent modulo AQE coalescing.\n"
    )
    for title, what, plan in sections:
        out.append(f"\n## {title}\n\n{what}\n\n```\n{plan}```\n")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
