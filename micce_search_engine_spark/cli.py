"""spark-submit entrypoint (BASELINE.json north_rule deployment mode).

On a real cluster:

    spark-submit --py-files micce_search_engine_spark.zip \
        -m micce_search_engine_spark.cli build \
        --pages s3://bucket/pages --index s3://bucket/index

Locally the same module runs under plain ``python -m`` (the session
factory ships the package zip to executors either way). Subcommands:

  build   pages parquet -> full index (resumable; re-run to resume)
  upsert  apply an updates parquet (url-keyed, omit-nil) to an index
  search  one SearchCondition query against an index, prints JSON
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="micce_search_engine_spark")
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) an index")
    b.add_argument("--pages", required=True, help="pages parquet path")
    b.add_argument("--index", required=True, help="index output dir")
    b.add_argument("--n-buckets", type=int, default=64)
    b.add_argument("--max-postings-per-row", type=int, default=200_000)
    b.add_argument(
        "--with-positions",
        action="store_true",
        help="store per-posting token positions (enables phrase search)",
    )

    u = sub.add_parser("upsert", help="merge updates + delta-rebuild")
    u.add_argument("--pages", required=True)
    u.add_argument("--updates", required=True)
    u.add_argument("--index", required=True)

    s = sub.add_parser("search", help="run one query")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--lang", default=None)
    s.add_argument("--limit", type=int, default=10)
    s.add_argument("--page", type=int, default=1)
    s.add_argument("--topk-only", action="store_true")
    s.add_argument(
        "--phrase",
        action="store_true",
        help="exact phrase match (requires an index built --with-positions)",
    )
    s.add_argument(
        "--preload",
        choices=["none", "segments"],
        default="none",
        help="serving mode: pin the segments table in executor memory",
    )
    s.add_argument("--synonyms", default=None, help="2-column CSV path")

    v = sub.add_parser(
        "serve",
        help="HTTP serving front-end (POST /api/v1/search — the "
        "reference search-api analog)",
    )
    v.add_argument("--index", required=True, help="single-field index dir")
    v.add_argument("--host", default="127.0.0.1")
    v.add_argument("--port", type=int, default=8001)
    v.add_argument(
        "--preload",
        choices=["none", "segments"],
        default="segments",
        help="serving mode (default: segments pinned in executor memory)",
    )
    v.add_argument("--synonyms", default=None, help="2-column CSV path")

    args = p.parse_args(argv)

    from micce_search_engine_spark.session import get_spark

    spark = get_spark(
        f"mse-{args.cmd}", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    try:
        if args.cmd == "build":
            from micce_search_engine_spark.operators.index_build import build_index

            build_index(
                spark,
                spark.read.parquet(args.pages),
                args.index,
                n_buckets=args.n_buckets,
                max_postings_per_row=args.max_postings_per_row,
                with_positions=args.with_positions,
            )
            print(json.dumps({"status": "ok", "index": args.index}))
        elif args.cmd == "upsert":
            from micce_search_engine_spark.operators.upsert import apply_upsert

            apply_upsert(
                spark,
                args.index,
                spark.read.parquet(args.pages),
                spark.read.parquet(args.updates),
            )
            print(json.dumps({"status": "ok", "index": args.index}))
        elif args.cmd == "search":
            from micce_search_engine_spark.operators.query import SearchEngine

            synonyms = {}
            if args.synonyms:
                from micce_search_engine_spark.sources.synonyms import load_synonyms_csv

                synonyms = load_synonyms_csv(spark, args.synonyms)
            eng = SearchEngine(
                spark, args.index, synonyms=synonyms, preload=args.preload == "segments"
            )
            if args.phrase:
                res = eng.search_phrase(
                    args.query,
                    lang_filter=args.lang,
                    limit=args.limit,
                    page=args.page,
                )
            else:
                res = eng.search(
                    args.query,
                    lang_filter=args.lang,
                    limit=args.limit,
                    page=args.page,
                    topk_only=args.topk_only,
                )
            print(json.dumps(res))
        elif args.cmd == "serve":
            from micce_search_engine_spark.operators.multifield import ConditionEngine
            from micce_search_engine_spark.operators.query import SearchEngine
            from micce_search_engine_spark.serving.http_api import serve

            synonyms = {}
            if args.synonyms:
                from micce_search_engine_spark.sources.synonyms import load_synonyms_csv

                synonyms = load_synonyms_csv(spark, args.synonyms)
            eng = SearchEngine(
                spark, args.index, synonyms=synonyms, preload=args.preload == "segments"
            )
            ce = ConditionEngine({"text": eng}, synonyms=synonyms)
            srv = serve(ce, host=args.host, port=args.port)
            print(
                json.dumps(
                    {"status": "serving", "addr": "http://%s:%d" % srv.server_address}
                ),
                flush=True,
            )
            import threading

            try:
                threading.Event().wait()  # serve() runs on a daemon thread
            except KeyboardInterrupt:
                srv.shutdown()
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
