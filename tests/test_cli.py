"""CLI lifecycle parity (SURVEY.md §3): prepare -> upload -> status, driven
through the argparse entry point exactly as a user would.
"""

from __future__ import annotations

import pathlib

import pytest

from swiftbulkuploader_spark.cli import main


@pytest.fixture()
def tree(tmp_path):
    src = tmp_path / "src"
    for name, data in [("a/x.txt", b"X"), ("a/y.txt", b"YY"), ("b/z.txt", b"ZZZ")]:
        p = src / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    return src


def test_prepare_upload_status_roundtrip(spark, tree, tmp_path, capsys):
    manifest = str(tmp_path / "manifest")
    attempts = str(tmp_path / "attempts")
    bucket = str(tmp_path / "bucket")

    rc = main(["prepare", str(tree), manifest])
    out = capsys.readouterr().out
    assert rc == 0
    assert "3 files indexed" in out

    rc = main(["upload", manifest, bucket, attempts, "--cutoff", "src"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "3/3 files uploaded. 100.00000000%" in out

    # files landed under cutoff-derived keys
    assert (pathlib.Path(bucket) / "a/x.txt").read_bytes() == b"X"
    assert (pathlib.Path(bucket) / "b/z.txt").read_bytes() == b"ZZZ"

    rc = main(["status", manifest, attempts])
    out = capsys.readouterr().out
    assert rc == 0
    assert "uploaded=3 failed=0 pending=0" in out


def test_segmented_upload_status_roundtrip(spark, tmp_path, capsys):
    """--segment-size: big files land as parts, small ones whole, and a
    modified big file is re-uploaded part by part on the next run."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    big = bytes(range(256)) * 40                      # 10240 -> 3 parts @ 4096
    (src / "big.bin").write_bytes(big)
    (src / "small.txt").write_bytes(b"S")
    manifest, attempts, bucket = (str(tmp_path / d) for d in ("manifest", "attempts", "bucket"))
    upload = ["upload", manifest, bucket, attempts, "--cutoff", "src", "--segment-size", "4096"]

    main(["prepare", str(src), manifest])
    assert main(upload) == 0
    out = capsys.readouterr().out
    assert "2/2 files uploaded. 100.00000000%" in out
    parts = [pathlib.Path(bucket) / f"big.bin/part-{i:04d}" for i in range(3)]
    assert b"".join(p.read_bytes() for p in parts) == big
    assert (pathlib.Path(bucket) / "small.txt").read_bytes() == b"S"
    assert main(["status", manifest, attempts]) == 0
    assert "uploaded=2 failed=0 pending=0" in capsys.readouterr().out

    time.sleep(0.05)
    (src / "big.bin").write_bytes(big[::-1])
    main(["recrawl", str(src), manifest])
    assert main(upload) == 0
    assert b"".join(p.read_bytes() for p in parts) == big[::-1]
    capsys.readouterr()
    assert main(["status", manifest, attempts]) == 0
    assert "uploaded=2 failed=0 pending=0" in capsys.readouterr().out


def test_status_before_any_upload(spark, tree, tmp_path, capsys):
    manifest = str(tmp_path / "manifest")
    main(["prepare", str(tree), manifest])
    capsys.readouterr()
    rc = main(["status", manifest, str(tmp_path / "missing-attempts")])
    out = capsys.readouterr().out
    assert rc == 0
    assert "0/3 files uploaded. 0.00000000%" in out


def test_analyze_corpus_profile(spark, capsys):
    rc = main(["analyze", "/root/testdata/sf0.001/documents.parquet"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "docs=500 " in out
    assert "exact_dup_pct=" in out
    assert "lang=en" in out


def test_recrawl_reports_delta_and_feeds_incremental_upload(spark, tree, tmp_path, capsys):
    """recrawl after add/modify/remove: prints the delta, replaces the
    manifest, and a following upload only ships the changed files (the
    reference's implied 're-run it' workflow, readme.md:42 — done as a diff
    instead of a full re-upload)."""
    import os
    import time

    manifest = str(tmp_path / "manifest")
    attempts = str(tmp_path / "attempts")
    bucket = str(tmp_path / "bucket")

    main(["prepare", str(tree), manifest])
    main(["upload", manifest, bucket, attempts, "--cutoff", "src"])
    capsys.readouterr()

    # mutate the tree: one added, one modified (bump mtime+size), one removed
    (tree / "a" / "new.txt").write_bytes(b"NEW")
    time.sleep(0.01)
    (tree / "a" / "x.txt").write_bytes(b"XXXX")
    os.utime(tree / "a" / "x.txt")
    (tree / "b" / "z.txt").unlink()

    rc = main(["recrawl", str(tree), manifest])
    out = capsys.readouterr().out
    assert rc == 0
    assert "added=1" in out and "modified=1" in out and "removed=1" in out

    # status agrees with the upcoming upload: the modified and added files
    # are pending (a success older than mtime no longer counts), y is not
    rc = main(["status", manifest, attempts])
    out = capsys.readouterr().out
    assert rc == 0
    assert "uploaded=1" in out and "pending=2" in out

    # incremental upload: resume anti-join skips y.txt (already uploaded,
    # unchanged), ships new.txt and the modified x.txt
    rc = main(["upload", manifest, bucket, attempts, "--cutoff", "src"])
    out = capsys.readouterr().out
    assert rc == 0
    import pathlib
    assert (pathlib.Path(bucket) / "a/new.txt").read_bytes() == b"NEW"
    assert (pathlib.Path(bucket) / "a/x.txt").read_bytes() == b"XXXX"
