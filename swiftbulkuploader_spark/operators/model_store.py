"""Versioned parquet artifacts for the trained TEXT/EMBEDDING models
(r11 verdict ask #3 — the ann_index.py pattern, generalized): BPE
merges, the GD-trained quality-model weights, and the PCA basis are
persisted as parquet tables with a dataset-fingerprint manifest, so a
session (or another cluster) that never trained serves the identical
results from the loaded artifact — a production tokenizer is LOADED,
not retrained.

Artifact layout under one directory (default_model_path):

* ``bpe/merges``       (rank int, x string, y string, merged string,
  cnt long) — the learned merge table in rank order;
* ``quality/weights``  (j int, w double) — the 4 logistic weights;
* ``pca/basis``        (pos int, m double, v double) — per-dimension
  mean + unit loading; ``pca/stats`` (nrm double, n long);
* ``<model>/manifest`` (fingerprint string, format_version int) —
  written LAST, so a partial publish never matches (the ann_index
  discipline; r11 ADVICE #1 applied from day one here).

Serve gate: ensure_* compares the manifest fingerprint (absolute
sf_dir + source-table row count + format version) and retrains only on
mismatch. The *_from_artifact contract queries share the TRAINING
queries' DuckDB oracles verbatim — the serve path must be bit-identical
to the inline train+apply path (pinned two-session in
tests/test_model_store.py with the training entry points monkeypatched
to raise).

Reference parity: none (tokenizer/model lifecycle extension, SURVEY
§2.9); the durable-state principle mirrors readme.md's resume
semantics the same way ann_index.py does.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table, read_parquet

MODEL_FORMAT_VERSION = 2  # v2: content-signal fingerprint (r12 verdict #3)


def default_model_path(sf_dir: str) -> str:
    """Deterministic per-dataset artifact location (scratch-dir stand-in
    for the object-store prefix production models live under)."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(
        tempfile.gettempdir(),
        f"swiftbulkuploader_models_v{MODEL_FORMAT_VERSION}",
        tag,
    )


def _content_signal(df, table: str):
    """One order-independent aggregate over the table's content column —
    the piece a row count can't see (r12 verdict #3 / ADVICE #1: a
    same-count regeneration of `documents` matched the count-only
    fingerprint and was silently served a stale artifact). documents:
    sum(octet_length(text)) — one columnar scan, integer-exact, catches
    any text edit that changes a byte count; embeddings (and any other
    table): bit_xor(xxhash64(every column as string)) — exact, commutative
    across partitions, catches any value change anywhere. Both are single
    map-side-combined aggregates, the same cost class as the count."""
    if "text" in df.columns:
        return df.agg(F.sum(F.octet_length("text")).alias("sig"))
    cols = ", ".join(
        f"cast({c} as string)" for c in df.columns
    )
    return df.agg(F.expr(f"bit_xor(xxhash64({cols}))").alias("sig"))


def table_fingerprint(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Identity of the training data: sha256 over (absolute sf_dir,
    table, row count, a content signal, format version). The content
    signal (see _content_signal) closes the same-count-regeneration blind
    spot of the r12 count-only form. A session memo whose input is the
    table it scans: a rewritten table misses, so a republish always
    stamps the CURRENT data's identity."""
    return memo.get(spark, "table_fingerprint", (sf_dir, table),
                    lambda: _scan_fingerprint(spark, sf_dir, table))


def _scan_fingerprint(spark: SparkSession, sf_dir: str, table: str) -> str:
    df = load_table(spark, sf_dir, table)
    n = df.count()
    sig = _content_signal(df, table).collect()[0]["sig"]  # bounded: 1 row
    raw = (f"{os.path.abspath(sf_dir)}|{table}|{n}|{sig}"
           f"|v{MODEL_FORMAT_VERSION}")
    return hashlib.sha256(raw.encode("utf-8")).hexdigest()


def _manifest_matches(spark: SparkSession, mdir: str, fingerprint: str) -> bool:
    """True iff the artifact at `mdir` (a model here, or an ANN index)
    carries a manifest whose fingerprint equals the current data's.
    Missing manifest (old or partial artifact) is a mismatch; real IO
    errors propagate (state_io discipline)."""
    from swiftbulkuploader_spark.streaming.state_io import state_path_exists

    mpath = os.path.join(mdir, "manifest")
    if not state_path_exists(spark, mpath):
        return False
    rows = read_parquet(spark, mpath).collect()
    return len(rows) == 1 and rows[0]["fingerprint"] == fingerprint


def _write_manifest(spark: SparkSession, mdir: str, fingerprint: str,
                    version: int) -> None:
    """Publish the artifact at `mdir`: written LAST, so a partially
    written artifact never matches and is retrained, not served."""
    spark.createDataFrame(
        [(fingerprint, version)],
        "fingerprint string, format_version int",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(mdir, "manifest")
    )


# ---------------------------------------------------------------------------
# BPE merge table
# ---------------------------------------------------------------------------


def save_bpe(spark: SparkSession, sf_dir: str, mdir: str) -> None:
    """TRAIN (via the memoized x3_bpe_train loop) and persist the merge
    table; manifest last."""
    from swiftbulkuploader_spark.operators.textops import _bpe_merges

    merges = _bpe_merges(spark, sf_dir)
    spark.createDataFrame(
        [(int(r), x, y, m, int(c)) for r, x, y, m, c in merges],
        "rank int, x string, y string, merged string, cnt long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(mdir, "merges")
    )
    _write_manifest(spark, mdir, table_fingerprint(spark, sf_dir, "documents"),
                    MODEL_FORMAT_VERSION)


def load_bpe(spark: SparkSession, mdir: str) -> list[tuple]:
    """Bounded collect: BPE_MERGES rows, rank order restored. Loaded
    models are session memos whose inputs are their artifact tables, so a
    republished artifact is loaded again."""
    def build():
        rows = read_parquet(spark, os.path.join(mdir, "merges")) \
            .orderBy("rank").collect()
        return [(r["rank"], r["x"], r["y"], r["merged"], r["cnt"]) for r in rows]

    return memo.get(spark, "bpe_artifact", (mdir,), build)


def ensure_bpe(spark: SparkSession, sf_dir: str,
               path: str | None = None) -> list[tuple]:
    mdir = os.path.join(path or default_model_path(sf_dir), "bpe")
    fp = table_fingerprint(spark, sf_dir, "documents")
    if not _manifest_matches(spark, mdir, fp):
        save_bpe(spark, sf_dir, mdir)
    return load_bpe(spark, mdir)


def x3_bpe_encode_from_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x3_bpe_encode answered FROM the persisted merge-table artifact:
    publish-if-stale (fingerprint manifest), then load and apply — the
    tokenizer-serve shape (a production tokenizer is loaded, never
    retrained per job). Shares x3_bpe_encode's generated oracle verbatim;
    the no-retrain independence is pinned two-session in
    tests/test_model_store.py."""
    from swiftbulkuploader_spark.operators.textops import (
        bpe_encode_with_merges,
    )

    merges = ensure_bpe(spark, sf_dir)
    return bpe_encode_with_merges(spark, sf_dir, merges)


# ---------------------------------------------------------------------------
# Quality-model weights
# ---------------------------------------------------------------------------


def save_quality_model(spark: SparkSession, sf_dir: str, mdir: str) -> None:
    from swiftbulkuploader_spark.operators.textops import _qt_train

    _feats, w = _qt_train(spark, sf_dir)
    spark.createDataFrame(
        [(j, float(wj)) for j, wj in enumerate(w)], "j int, w double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(mdir, "weights")
    )
    _write_manifest(spark, mdir, table_fingerprint(spark, sf_dir, "documents"),
                    MODEL_FORMAT_VERSION)


def load_quality_model(spark: SparkSession, mdir: str) -> list[float]:
    def build():
        rows = read_parquet(spark, os.path.join(mdir, "weights")) \
            .orderBy("j").collect()
        return [float(r["w"]) for r in rows]

    return memo.get(spark, "quality_artifact", (mdir,), build)


def ensure_quality_model(spark: SparkSession, sf_dir: str,
                         path: str | None = None) -> list[float]:
    mdir = os.path.join(path or default_model_path(sf_dir), "quality")
    fp = table_fingerprint(spark, sf_dir, "documents")
    if not _manifest_matches(spark, mdir, fp):
        save_quality_model(spark, sf_dir, mdir)
    return load_quality_model(spark, mdir)


def x3_quality_model_from_artifact(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """x3_quality_train's report row computed with LOADED weights: the
    feature frame is rebuilt (a pure scan — features are data prep, not
    training), the GD loop never runs, and the report (w0..w3, acc, n)
    is bit-identical because the weights are 6-dp quantized doubles that
    round-trip parquet exactly. Shares x3_quality_train's chained-CTE
    oracle verbatim."""
    from swiftbulkuploader_spark.operators.textops import _qt_feats, qt_report

    w = ensure_quality_model(spark, sf_dir)
    return qt_report(_qt_feats(spark, sf_dir), w)


# ---------------------------------------------------------------------------
# PCA basis
# ---------------------------------------------------------------------------


def save_pca(spark: SparkSession, sf_dir: str, mdir: str) -> None:
    from swiftbulkuploader_spark.operators.similarity import _pca_power

    mu, v, nrm, n = _pca_power(spark, sf_dir)
    spark.createDataFrame(
        [(p, float(mu[p]), float(v[p])) for p in range(len(mu))],
        "pos int, m double, v double",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(mdir, "basis"))
    spark.createDataFrame(
        [(float(nrm), int(n))], "nrm double, n long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(mdir, "stats"))
    _write_manifest(spark, mdir,
                    table_fingerprint(spark, sf_dir, "embeddings"),
                    MODEL_FORMAT_VERSION)


def load_pca(spark: SparkSession,
             mdir: str) -> tuple[list[float], list[float], float, int]:
    def build():
        brows = read_parquet(spark, os.path.join(mdir, "basis")) \
            .orderBy("pos").collect()  # bounded: one row per dimension
        srow = read_parquet(spark, os.path.join(mdir, "stats")).collect()[0]
        return (
            [float(r["m"]) for r in brows],
            [float(r["v"]) for r in brows],
            float(srow["nrm"]),
            int(srow["n"]),
        )

    return memo.get(spark, "pca_artifact", (mdir,), build)


def ensure_pca(spark: SparkSession, sf_dir: str,
               path: str | None = None) -> tuple:
    mdir = os.path.join(path or default_model_path(sf_dir), "pca")
    fp = table_fingerprint(spark, sf_dir, "embeddings")
    if not _manifest_matches(spark, mdir, fp):
        save_pca(spark, sf_dir, mdir)
    return load_pca(spark, mdir)


def x2_pca_project_from_artifact(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """x2_pca_project from the persisted basis: two bounded loads (dim
    rows + 1 stats row), then the identical row-local projection scan.
    Shares x2_pca_project's generated oracle verbatim; 6-dp-quantized
    basis doubles round-trip parquet exactly, so scores/residuals are
    bit-identical to the inline train+project path."""
    from swiftbulkuploader_spark.operators.similarity import (
        pca_project_with_basis,
    )

    mu, v, _nrm, _n = ensure_pca(spark, sf_dir)
    return pca_project_with_basis(spark, sf_dir, mu, v)


QUERIES = {
    "x3_bpe_encode_from_artifact": x3_bpe_encode_from_artifact,
    "x3_quality_model_from_artifact": x3_quality_model_from_artifact,
    "x2_pca_project_from_artifact": x2_pca_project_from_artifact,
}

# identical semantics, identical oracles: each serve path must reproduce
# its training query bit-for-bit (the x2_ivf_topk_from_artifact
# discipline, ann_index.py:249)
from swiftbulkuploader_spark.operators.textops import (  # noqa: E402
    ORACLES as _TEXT_ORACLES,
)
from swiftbulkuploader_spark.operators.similarity import (  # noqa: E402
    ORACLES as _SIM_ORACLES,
)

ORACLES = {
    "x3_bpe_encode_from_artifact": _TEXT_ORACLES["x3_bpe_encode"],
    "x3_quality_model_from_artifact": _TEXT_ORACLES["x3_quality_train"],
    "x2_pca_project_from_artifact": _SIM_ORACLES["x2_pca_project"],
}
