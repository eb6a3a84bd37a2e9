"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Package the repo and run (spark-submit needs a primary application
FILE — it has no -m; a one-line driver that calls main() works):

    zip -r rps.zip resume_parser_service_spark
    echo 'from resume_parser_service_spark.__main__ import main; main()' \\
        > run_job.py
    spark-submit --py-files rps.zip run_job.py \\
        --input /data/pages --output /data/extracted

or locally: ``python -m resume_parser_service_spark --input ... --output ...``

Subcommands via flags:
  --input DIR      parquet pages table (url, warc_ts, html, text, lang)
  --output DIR     output root (resumes_extracted + extraction_audit)
  --salt-input     repartition input by xxhash64(url) before the kernel,
                   into spark.sql.shuffle.partitions parts (2x cores,
                   at least 8)
  --synthesize N   instead of --input, generate an N-doc synthetic corpus
  --stream         treat --input as a streaming file source (availableNow)
  --compact-after N  bin-pack-compact + expire the extracted table when
                     it reaches N live snapshots (incremental ingest)
  --enrich         annotate committed rows with training-data columns
                   (fingerprint, content-dup, tokens, quality, lang)
  --neardup-index  maintain an append-only MinHash band index across
                   runs and tag rows near-duplicating earlier batches
  --canonical-urls canonicalize urls (case/ports/utm/fragments) before
                   dedup and resume
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="resume_parser_service_spark")
    p.add_argument("--input")
    p.add_argument("--output", required=True)
    p.add_argument("--salt-input", action="store_true", dest="salt")
    p.add_argument("--synthesize", type=int, default=None)
    p.add_argument("--stream", action="store_true")
    p.add_argument("--compact-after", type=int, default=None)
    p.add_argument("--enrich", action="store_true")
    p.add_argument("--neardup-index", action="store_true")
    p.add_argument("--canonical-urls", action="store_true")
    p.add_argument("--changes-since", type=int, default=None,
                   help="CDC mode: emit rows committed to "
                        "<output>/resumes_extracted after this snapshot "
                        "instead of running extraction")
    p.add_argument("--changes-to", type=int, default=None)
    p.add_argument("--classify-updates", action="store_true")
    p.add_argument("--delta-out", default=None,
                   help="with --changes-since: write the delta rows "
                        "to this parquet path")
    p.add_argument("--maintain-index", default=None, metavar="INDEX_ROOT",
                   help="CDC consumer mode: drain "
                        "<output>/resumes_extracted's changelog "
                        "(availableNow) and keep the append-only MinHash "
                        "band index at INDEX_ROOT fresh — updates replace "
                        "stale bands, deletes scrub them")
    p.add_argument("--cores", default=None)
    args = p.parse_args(argv)

    from .session import get_spark
    spark = get_spark(app_name="resume-parser-service-spark",
                      cores=args.cores)
    salt = (int(spark.conf.get("spark.sql.shuffle.partitions"))
            if args.salt else None)

    if args.maintain_index:
        if args.changes_since is not None:
            p.error("--maintain-index and --changes-since are separate "
                    "modes; run them as two invocations")
        import os
        from .pipeline.writer import SnapshotTable
        from .streaming.cdc import maintain_index_until_current
        # loops availableNow drains until the checkpoint has COMMITTED
        # the table's latest snapshot — one start() is not enough after
        # a crash left a batch pending (single-batch fallback)
        drains = maintain_index_until_current(
            spark, os.path.join(args.output, "resumes_extracted"),
            args.maintain_index,
            os.path.join(args.maintain_index, "_checkpoint"))
        idx = SnapshotTable(args.maintain_index)
        last = idx.last_snapshot()
        live = idx.read_live(spark)
        print(json.dumps({
            "mode": "maintain_index",
            "index_root": args.maintain_index,
            "index_snapshot": last["id"] if last else None,
            "drains": drains,
            "live_band_rows": live.count() if live is not None else 0}))
        return 0

    if args.changes_since is not None:
        import os
        from pyspark.sql import functions as F
        from .pipeline.writer import SnapshotTable
        tbl = SnapshotTable(os.path.join(args.output, "resumes_extracted"))
        delta = tbl.read_changes(spark, args.changes_since,
                                 to_version=args.changes_to,
                                 classify_updates=args.classify_updates)
        counts: dict[str, int] = {}
        if delta is not None:
            if args.delta_out:
                delta.write.mode("overwrite").parquet(args.delta_out)
                delta = spark.read.parquet(args.delta_out)
            counts = {r["_change_type"]: r["n"] for r in
                      delta.groupBy("_change_type")
                      .agg(F.count("*").alias("n")).collect()}
        last = tbl.last_snapshot()
        print(json.dumps({
            "mode": "changes",
            "from_version": args.changes_since,
            "to_version": (args.changes_to if args.changes_to is not None
                           else (last["id"] if last else None)),
            "inserts": counts.get("insert", 0),
            "updates": counts.get("update_after", 0),
            "deletes": counts.get("delete", 0),
            "delta_out": args.delta_out}))
        return 0

    if args.synthesize:
        from .sources.pages import build_pages_df
        pages = build_pages_df(spark, args.synthesize)
    elif args.input and not args.stream:
        pages = spark.read.parquet(args.input)
    elif args.input and args.stream:
        from .streaming import stream_extraction
        q = stream_extraction(spark, args.input, args.output,
                              salt_partitions=salt,
                              available_now=True,
                              compact_after=args.compact_after,
                              enrich=args.enrich,
                              neardup_index=args.neardup_index,
                              canonicalize_urls=args.canonical_urls)
        q.awaitTermination()
        print(json.dumps({"mode": "stream", "output": args.output}))
        return 0
    else:
        p.error("need --input or --synthesize")
        return 2

    from .pipeline.run import run_extraction_job
    stats = run_extraction_job(spark, pages, args.output,
                               salt_partitions=salt,
                               compact_after=args.compact_after,
                               enrich=args.enrich,
                               neardup_index=args.neardup_index,
                               canonicalize_urls=args.canonical_urls)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
