"""spark-submit entry point (north rule: ships as ``spark-submit --py-files``).

Usage:
    spark-submit --py-files pbx_ds_ocr_server_spark.zip \
        -m pbx_ds_ocr_server_spark.job \
        --input /path/pages.parquet --output /path/out --run-id r1 --buckets 32

or locally:
    python -m pbx_ds_ocr_server_spark.job --input ... --output ...

The input must carry (url:string, html:binary); extra columns are pruned.
The output must be a POSIX path (a shared mount on a cluster): the job's
bookkeeping files are driver-local writes. Prints one JSON summary line on
completion; exits 2 on a missing input column or a URI output.
"""

from __future__ import annotations

import argparse
import json
import sys

from pbx_ds_ocr_server_spark.config import ExtractConfig
from pbx_ds_ocr_server_spark.session import get_spark
from pbx_ds_ocr_server_spark.sources.writer import (
    require_local_path,
    run_extract_job,
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pbx-extract")
    ap.add_argument("--input", required=True, help="input parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--master", default=None)
    ap.add_argument("--max-bytes", type=int, default=None)
    ap.add_argument("--max-pages", type=int, default=None)
    ap.add_argument("--page-ranges", default=None)
    args = ap.parse_args(argv)

    cfg_kwargs = {}
    if args.max_bytes is not None:
        cfg_kwargs["max_bytes"] = args.max_bytes
    if args.max_pages is not None:
        cfg_kwargs["max_pages"] = args.max_pages
    if args.page_ranges is not None:
        cfg_kwargs["page_ranges"] = args.page_ranges
    cfg = ExtractConfig(**cfg_kwargs)
    try:
        # checked before the session starts: run_extract_job would raise the
        # same error, after paying the Spark start-up
        require_local_path(args.output)
    except ValueError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2

    spark = get_spark(master=args.master)
    try:
        src = spark.read.parquet(args.input)
        missing = [c for c in ("url", "html") if c not in src.columns]
        if missing:
            # fail with an actionable message instead of an analysis
            # exception from deep inside the bucketing plan — the classic
            # mistake is pointing --input at a raw documents table
            # (doc_id, text, ...) instead of the page table
            print(
                f"error: input {args.input} lacks required column(s)"
                f" {missing}: the job reads a Common-Crawl-style page"
                f" table (url:string, html:binary, ...); found columns"
                f" {src.columns}",
                file=sys.stderr,
            )
            return 2
        res = run_extract_job(
            spark,
            src,
            args.output,
            run_id=args.run_id,
            cfg=cfg,
            n_buckets=args.buckets,
        )
        print(
            json.dumps(
                {
                    "run_id": res.run_id,
                    "buckets_done": res.buckets_done,
                    "buckets_skipped": res.buckets_skipped,
                    "docs_out": res.docs_out,
                    "wall_seconds": round(res.wall_seconds, 3),
                    "docs_per_sec": round(res.docs_per_sec, 2),
                }
            )
        )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
