"""CLI entry points — parity with the reference's two commands (SURVEY.md §3).

    python -m swiftbulkuploader_spark.cli prepare <directory> <manifest_path>
        == `python prepareupload.py <dir> <table>` (prepareupload.py:63-104):
        walk the tree, write the manifest (Parquet instead of MySQL),
        print the indexed/failed counts.

    python -m swiftbulkuploader_spark.cli upload <manifest_path> <store_root>
           <attempts_path> [--cutoff C] [--parallelism N] [--max-attempts K]
           [--segment-size BYTES]
        == `python bulkupload.py <container> <table> <N> [cutoff]`
        (bulkupload.py:390-458): `plans.upload.upload_manifest` —
        resume-filter, upload, append the attempt log, print the summary.
        `--parallelism` replaces the reference's worker-process count
        (readme.md:39-42); `--segment-size` uploads files above it as
        `key/part-NNNN` parts through the same retrying loop.

    python -m swiftbulkuploader_spark.cli status <manifest_path> <attempts_path>
        == the progress/report files (bulkupload.py:290-338): progress line,
        per-outcome totals, uploads/sec windows.

Environment validation (bulkupload.py:127-161 / F10) happens in `_store_from_env`:
unset variables produce one aggregated error message, not `sys.exit` per var.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F


def _spark():
    from swiftbulkuploader_spark.session import get_spark

    s = get_spark("swiftbulkuploader-cli")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _store_factory(store_root: str):
    """localfs root, or swift: URL driven by OS_* env vars (the reference's
    required-variable list, bulkupload.py:18-32)."""
    from swiftbulkuploader_spark.sources.objectstore import StoreFactory

    if store_root.startswith("swift:"):
        required = ["OS_AUTH_URL", "OS_USERNAME", "OS_PASSWORD"]
        missing = [v for v in required if not os.environ.get(v)]
        if missing:
            raise SystemExit(f"missing required environment variables: {', '.join(missing)}")
        return StoreFactory(
            "swift",
            auth_url=os.environ["OS_AUTH_URL"],
            username=os.environ["OS_USERNAME"],
            password=os.environ["OS_PASSWORD"],
            container=store_root.split(":", 1)[1],
            tenant=os.environ.get("OS_TENANT_NAME"),
        )
    return StoreFactory("localfs", root=store_root)


def cmd_prepare(args) -> int:
    from swiftbulkuploader_spark.sources.ingest import ingest_listing, write_manifest

    spark = _spark()
    manifest = ingest_listing(spark, args.directory).cache()
    n_ok = manifest.filter(F.col("error").isNull()).count()
    n_err = manifest.filter(F.col("error").isNotNull()).count()
    write_manifest(manifest, args.manifest_path)
    print(f"{n_ok} files indexed into {args.manifest_path}. {n_err} failed.")
    return 0 if n_err == 0 else 1


def cmd_upload(args) -> int:
    from swiftbulkuploader_spark.plans.upload import upload_manifest
    from swiftbulkuploader_spark.streaming.progress import progress_line

    spark = _spark()
    manifest = spark.read.parquet(args.manifest_path).filter(F.col("error").isNull())
    res = upload_manifest(
        manifest,
        _store_factory(args.store_root),
        args.attempts_path,
        cutoff=args.cutoff,
        max_attempts=args.max_attempts,
        parallelism=args.parallelism,
        segment_size=args.segment_size,
    )
    print(progress_line(res["uploaded"], res["total"]))
    print(f"uploaded={res['uploaded']} failed={res['failed']} total={res['total']}")
    return 0 if res["failed"] == 0 else 1


def cmd_recrawl(args) -> int:
    """Incremental re-crawl: walk the tree again, diff against the stored
    manifest, replace it, and print the delta (added/modified feed the next
    `upload` run via the resume anti-join; removed are reported)."""
    from swiftbulkuploader_spark.plans.maintenance import manifest_delta
    from swiftbulkuploader_spark.sources.ingest import ingest_listing, write_manifest

    spark = _spark()
    old = spark.read.parquet(args.manifest_path).filter(F.col("error").isNull())
    new = ingest_listing(spark, args.directory).filter(F.col("error").isNull()).cache()
    delta = manifest_delta(old, new).cache()
    counts = {r["change"]: r["n"] for r in
              delta.groupBy("change").agg(F.count("*").alias("n")).collect()}
    write_manifest(new, args.manifest_path)
    print(f"added={counts.get('added', 0)} modified={counts.get('modified', 0)} "
          f"removed={counts.get('removed', 0)}")
    return 0


def cmd_status(args) -> int:
    """Progress is derived from the CURRENT manifest joined to the attempt
    log (`summarize`), not from the raw log: successes for files since
    removed from the manifest don't count, a file with a failed part is
    not uploaded, and a success older than a file's mtime leaves it
    pending (same rule the next `upload` applies) — status and upload
    always agree on the pending set."""
    from swiftbulkuploader_spark.plans.upload import summarize
    from swiftbulkuploader_spark.streaming.progress import progress_line, rate_over_window
    from swiftbulkuploader_spark.streaming.state_io import read_state_or_none

    spark = _spark()
    manifest = spark.read.parquet(args.manifest_path).filter(F.col("error").isNull())
    attempts = read_state_or_none(spark, args.attempts_path)
    res = summarize(manifest, attempts)
    print(progress_line(res["uploaded"], res["total"]))
    print(f"uploaded={res['uploaded']} failed={res['failed']} "
          f"pending={res['total'] - res['uploaded']}")
    if attempts is not None:
        for r in rate_over_window(attempts).orderBy("window_start").tail(5):
            print(f"  {r['window_start']}  {r['n_ok']} ok  {r['rate_per_s']}/s")
    return 0


def cmd_analyze(args) -> int:
    """Corpus profile over a documents-shaped parquet table: size, token
    budget (whitespace + BPE-ish), language mix, exact-dup rate — the
    one-command pre-training triage the extension operators exist for."""
    from swiftbulkuploader_spark.functions.text import (
        bpe_ish_token_count,
        token_count,
    )

    spark = _spark()
    # cache: the profile aggregate and the lang groupBy are two actions
    # over the same (md5/token-counted) scan
    docs = spark.read.parquet(args.documents_path).cache()
    profile = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(token_count(F.col("text"))).alias("ws_tokens"),
        F.sum(bpe_ish_token_count(F.col("text"))).alias("bpe_tokens"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
    ).first()
    dup_pct = 100.0 * (1 - profile["n_unique"] / profile["n_docs"]) if profile["n_docs"] else 0.0
    print(f"docs={profile['n_docs']} chars={profile['n_chars']} "
          f"ws_tokens={profile['ws_tokens']} bpe_tokens={profile['bpe_tokens']} "
          f"exact_dup_pct={dup_pct:.2f}")
    for r in (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.col("n").desc()).collect()):
        print(f"  lang={r['lang']} n={r['n']}")
    docs.unpersist()
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="swiftbulkuploader_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    prep = sub.add_parser("prepare", help="index a directory tree into a manifest")
    prep.add_argument("directory")
    prep.add_argument("manifest_path")
    prep.set_defaults(fn=cmd_prepare)

    up = sub.add_parser("upload", help="upload pending manifest entries")
    up.add_argument("manifest_path")
    up.add_argument("store_root", help="local dir, or swift:<container>")
    up.add_argument("attempts_path")
    up.add_argument("--cutoff", default="", help="path component to truncate through")
    up.add_argument("--parallelism", type=int, default=None)
    up.add_argument("--max-attempts", type=int, default=5)
    up.add_argument("--segment-size", type=int, default=0,
                    help="multi-part upload threshold in bytes (0 = whole files; "
                         "the reference's SEGMENT_SIZE was 100 MB)")
    up.set_defaults(fn=cmd_upload)

    st = sub.add_parser("status", help="progress / report")
    st.add_argument("manifest_path")
    st.add_argument("attempts_path")
    st.set_defaults(fn=cmd_status)

    rc = sub.add_parser("recrawl", help="incremental re-index: diff + replace manifest")
    rc.add_argument("directory")
    rc.add_argument("manifest_path")
    rc.set_defaults(fn=cmd_recrawl)

    an = sub.add_parser("analyze", help="corpus profile: tokens, langs, dup rate")
    an.add_argument("documents_path")
    an.set_defaults(fn=cmd_analyze)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
