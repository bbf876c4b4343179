"""spark-submit entrypoint for the quality-filter pipeline (north_rule:
"ships as a spark-submit --py-files package").

Usage:
    spark-submit --py-files dist/lgid_spark.zip \\
        lgid_spark/jobs/run_filter.py \\
        --input  /path/web_pages_parquet   (or synth:N / synthdup:N /
                 table:NAME / bucketed:/path/from/write_bucketed_pages)
        --output /path/filtered
        --metrics /path/metrics
        [--snapshot-id run-2026-08-16] [--buckets 64]
        [--no-dedup] [--near-dup [--near-dup-jaccard 0.9]
                      [--near-dup-stage /scratch/dedup_stage]]
        [--blocklist hosts.txt] [--emit-extracted]

Stage order (round 4): canonical-url exact dedup (default on) →
optional MinHash near-dup → fused extract/langid/metrics/scrub UDF
pass → optional host blocklist → bucket-partitioned output + lineage
(dedup_dropped / near_dup_dropped / drop_hist per bucket).

Resumable: re-running with the same metrics path processes only buckets
not yet committed (lineage.run_incremental). The committed bucket ids
are read once and the input rows of those buckets are filtered out
before the dedup exchange and the UDF pass; one probe decides the
no-op, so re-running a finished job does no dedup or UDF work. A run
rewrites the output dirs of the buckets it owns (the uncommitted
ones) and books the lineage from the files it wrote, so a retry after
a crash at any point before the metrics write leaves each bucket's
rows in the output once. Prints one JSON summary line to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="web_pages parquet path, or synth:N / "
                         "synthdup:N (generated), table:NAME (catalog "
                         "table), bucketed:PATH (files from "
                         "write_bucketed_pages; registered with "
                         "--table-buckets, making dedup exchange-free)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--metrics", required=True)
    ap.add_argument("--snapshot-id", default=None)
    ap.add_argument("--buckets", type=int, default=64,
                    help="output/lineage bucket count (the url-hash "
                         "partition key of the OUTPUT table)")
    ap.add_argument("--table-buckets", type=int, default=None,
                    help="physical bucket count of a bucketed: input "
                         "table — independent of --buckets; default: "
                         "inferred from the part-file names (exact "
                         "unless the highest buckets are empty)")
    ap.add_argument("--emit-extracted", action="store_true",
                    help="also write pre-scrub extracted_text (debug/"
                         "parity; ~2x text bytes through Arrow + output)")
    ap.add_argument("--no-dedup", action="store_true",
                    help="skip the canonical-url exact-dedup stage "
                         "(on by default; duplicates then cost full "
                         "UDF work and land twice in the output)")
    ap.add_argument("--near-dup", action="store_true",
                    help="also drop near-duplicate documents (MinHash "
                         "bands -> exact Jaccard -> connected "
                         "components; keeps the min-url doc per "
                         "component)")
    ap.add_argument("--near-dup-jaccard", type=float, default=0.9,
                    help="Jaccard threshold for --near-dup (default 0.9)")
    ap.add_argument("--near-dup-stage", default=None, metavar="PATH",
                    help="materialize the post-dedup frame as a "
                         "bucketed table at PATH and feed the near-dup "
                         "loser scan AND the UDF pass from that one "
                         "write (the crawl-scale shape; default "
                         "shares it via an in-memory persist — fine "
                         "for small corpora). The written table "
                         "doubles as a committed dedup table "
                         "re-attachable with bucketed:PATH")
    ap.add_argument("--near-dup-max-bucket", type=int, default=1000,
                    help="LSH hot-bucket cap: band values shared by "
                         "more docs are excluded from candidate "
                         "generation (viral-template guard; 0 disables)")
    ap.add_argument("--audit", action="store_true",
                    help="after the run, cross-check the output table "
                         "against the committed lineage "
                         "(lineage.audit_lineage: per-bucket counts, "
                         "kept counts, checksums across all "
                         "snapshots); summary gains audit_ok and, on "
                         "divergence, the first few bad buckets")
    ap.add_argument("--blocklist", default=None,
                    help="text file of blocked hosts (one per line, # "
                         "comments ok); blocked rows get keep=false + a "
                         "'blocked_domain' drop reason")
    args = ap.parse_args(argv)
    if args.near_dup_stage and not args.near_dup:
        # stage_path is only consumed inside the near-dup branch;
        # silently ignoring it would leave the operator without the
        # staged dedup table they asked for
        ap.error("--near-dup-stage requires --near-dup")

    from lgid_spark.session import get_submit_spark, local_frame

    # under spark-submit the session/master comes from the launcher
    spark = get_submit_spark("lgid_filter")

    from lgid_spark.datagen import spark_web_pages, spark_web_pages_with_dups
    from lgid_spark.lineage import run_incremental

    trust_url_canon = False
    if args.input.startswith("synthdup:"):
        pages = spark_web_pages_with_dups(
            spark, int(args.input.split(":", 1)[1]))
    elif args.input.startswith("synth:"):
        pages = spark_web_pages(spark, int(args.input.split(":", 1)[1]))
    elif args.input.startswith("table:"):
        # a catalog table (e.g. written by write_bucketed_pages in a
        # metastore-backed deployment); a CLUSTERED BY (url_canon)
        # layout makes the dedup stage exchange-free
        pages = spark.table(args.input.split(":", 1)[1])
        trust_url_canon = True
    elif args.input.startswith("bucketed:"):
        # bare files from write_bucketed_pages: re-attach the bucket
        # layout to this session's catalog, then read as a table.
        # NB --table-buckets (the table's physical layout, validated /
        # inferred from file names) is NOT --buckets (the job's output
        # partition count)
        from lgid_spark.pipeline import register_bucketed_pages

        bpath = args.input.split(":", 1)[1]
        register_bucketed_pages(
            spark, "lgid_pages_bucketed", bpath, args.table_buckets)
        pages = spark.table("lgid_pages_bucketed")
        trust_url_canon = True
    else:
        pages = spark.read.parquet(args.input)

    blocked = None
    if args.blocklist:
        with open(args.blocklist) as fh:
            # '#' starts a comment anywhere on the line (indented and
            # inline styles both occur in real UT1-style lists)
            hosts = [h for h in
                     (ln.split("#", 1)[0].strip() for ln in fh) if h]
        blocked = local_frame(spark, [(h,) for h in hosts], "host string")

    snapshot = args.snapshot_id or f"snap-{int(time.time())}"
    t0 = time.time()
    res = run_incremental(
        spark, pages, args.output, args.metrics, snapshot, args.buckets,
        emit_extracted=args.emit_extracted,
        dedup=not args.no_dedup,
        near_dup=args.near_dup,
        near_dup_jaccard=args.near_dup_jaccard,
        near_dup_max_bucket=args.near_dup_max_bucket or None,
        blocked_hosts=blocked,
        trust_url_canon=trust_url_canon,
        stage_path=args.near_dup_stage)
    res.update({"snapshot_id": snapshot, "sec": round(time.time() - t0, 2)})
    rc = 0
    if args.audit:
        from lgid_spark.lineage import audit_lineage

        bad = audit_lineage(spark, args.output, args.metrics).limit(5).collect()
        res["audit_ok"] = not bad
        if bad:
            res["audit_bad_buckets"] = [r.asDict() for r in bad]
            rc = 2
    print(json.dumps(res))
    return rc


if __name__ == "__main__":
    sys.exit(main())
