"""Text-analysis operators over `documents` (SURVEY.md §2.9 X3).

Token counting, quality scoring, fingerprinting, stopword/language coverage —
all pure Column expressions from functions/text.py, so they run at parquet
scan speed (whole-stage codegen, no Python) over any corpus size. Every
query here is DuckDB-oracle-checked, including the heuristic language-ID
(x3_lang_id — its tie-break CASE cascade is mirrored in the oracle SQL);
unit tests additionally pin the primitives on crafted text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from swiftbulkuploader_spark import memo
from swiftbulkuploader_spark.catalog import load_table
from swiftbulkuploader_spark.plans.layout import spread
from swiftbulkuploader_spark.functions.text import (
    LANG_MARKERS,
    detect_lang,
    fingerprint,
    normalize_ws,
    quality_score,
    token_count,
)


def x3_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document whitespace token count + char length."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


def x3_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per labeled language: doc counts, avg length, avg
    tokens — the groupBy(lang) rollup a pretraining pipeline reports."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.avg(token_count(F.col("text"))), 6).alias("avg_tokens"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def x3_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (length band x alpha ratio x punctuation
    ratio) — the pretraining-data filter signal."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


# fixed logistic weights for the quality model: (bias, log-length,
# alpha-ratio, stopword-ratio). Frozen literals — the operator demonstrates
# model-inference-at-scan-speed, not training.
QM_W = (-2.0, 0.35, 1.5, 2.0)


def x3_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-style quality scoring — the fastText-filter shape every
    pretraining pipeline runs (CCNet/LLaMA-style "looks like good prose"
    model): featurize each document, apply a frozen linear model, sigmoid
    to a keep-probability, threshold at 0.5.

    The point is the execution shape: featurization AND inference are pure
    Column expressions (regex counts, log, exp) that run inside whole-stage
    codegen at scan speed — no Python worker, no UDF, no shuffle. A real
    learned model with thousands of weights inlines the same way (w·x as a
    codegen'd sum), or moves to a Pandas UDF only when it needs BLAS.
    Weights are frozen literals, so the score is fully oracle-checkable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_ws(F.col("text")), " ")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is"))
    )
    alpha_ratio = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    z = (
        F.lit(QM_W[0])
        + F.lit(QM_W[1]) * F.log(F.lit(1.0) + F.col("n_chars").cast("double"))
        + F.lit(QM_W[2]) * alpha_ratio
        + F.lit(QM_W[3]) * (stop_hits.cast("double") / n_toks)
    )
    # BOTH outputs derive from the same 6-dp-rounded z, so they can never
    # disagree at the z ~ 0 boundary: keep = z6 >= 0 (round-before-boolean,
    # CLAUDE.md rule 3 — sigmoid(z) >= 0.5 <=> z >= 0), and keep_prob =
    # sigmoid(z6). An unrounded keep_prob with a rounded keep flag left a
    # band z in [-5e-7, 0) where keep was true but keep_prob < 0.5
    # (round-5 advice); quantizing z once, before BOTH consumers, closes
    # it. The sigmoid's exp ulps still differ across engines, but the
    # verifier's 9-significant-digit normalization absorbs value ulps —
    # only BOOLEANS must be decided on rounded inputs.
    z6 = F.round(z, 6)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z6))
    return docs.select(
        "doc_id",
        score.alias("keep_prob"),
        (z6 >= 0.0).alias("keep"),
    )


QT_LR = 6.0       # batch-GD learning rate (over CENTERED features)
# Student-feature centering (r10): GD from w=0 on the raw features
# (x1 ~ log n_chars in [4, 7.5]) moves the intercept and w1 in lockstep
# and either stalls at the base rate or diverges; centering near the
# corpus means makes 3 rounds reach ~0.91 accuracy with predictions
# spread over all 10 calibration deciles (numpy replica sweep, r10).
# Constants, not data statistics — the oracle replays them literally.
QT_CENTER = (5.5, 0.75, 0.3)
# Teacher-label threshold INSIDE the live z range (r10; z spans ~0.53-1.60
# on this corpus at every SF with median ~1.29, so the original z >= 0 cut
# labeled EVERY document positive — x3_quality_train's accuracy was
# trivially 1.0 and x6_calibration_bins saturated into one all-positive
# bin, the x6_ab_test dead-substrate class. 1.25 splits ~40/60 at all SFs;
# liveness pinned in tests/test_text.py).
QT_TEACHER_T = 1.25
QT_ROUNDS = 3     # fixed round budget (the Lloyd/pagerank oracle discipline)

def _qt_train(spark: SparkSession, sf_dir: str) -> tuple:
    """(feats, w): the persisted (doc_id, x1..x3, y) frame and the trained
    QT_ROUNDS-GD weights. Training is deterministic, so it is a session
    memo: the calibration report and the artifact publish reuse the
    student instead of re-running GD."""
    return memo.get(spark, "quality_train", (sf_dir,),
                    lambda: _qt_fit(spark, sf_dir))


def x3_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier distributed — the companion to
    x3_quality_model (which demonstrates inference-at-scan-speed with
    frozen weights): batch logistic regression by full-gradient descent,
    distilling the rules-based teacher (the frozen QM_W linear model's
    keep flag) into learned weights. One row out: the trained weights,
    training accuracy vs the teacher labels, and n.

    Spark shape — the standard distributed GD: features are computed ONCE
    (pure codegen Column expressions, each ROUNDED to 6 dp so both engines
    share exact inputs) and persisted; each round is one scan + ONE 1-row
    aggregate (partial sums map-side — the gradient is algebraic), whose
    collect is a bounded 4-scalar fetch (the allowlisted scalar class);
    the weight update happens INSIDE the aggregate expression
    (F.round(w - lr*avg(...), 6)) so no Python-rounded value ever reaches
    a compared column (Python rounds half-even — CLAUDE.md rule on
    round()). At 100 TB each round costs one corpus scan with a 4-double
    shuffle — mini-batching or L-BFGS change the arithmetic, not the
    shape.

    Fully oracle-checked: a FIXED round count and 6-dp-quantized
    weights/decisions let DuckDB replay the whole training as chained
    CTEs (round-1 weights -> round-2 weights -> accuracy), the same
    graduation recipe as the Lloyd quantizer. Round-1 sigmoid inputs are
    exactly 0 (w0 = 0), so p = 0.5 in both engines; later exp() ulp
    differences are absorbed by the 6-dp gradient rounding and the
    verifier's 9-significant-digit normalization — booleans (the teacher
    label, the accuracy hit test) are decided on rounded z only."""
    return qt_report(*_qt_fit(spark, sf_dir))


def _qt_fit(spark: SparkSession, sf_dir: str) -> tuple:
    """(feats, w): the feature frame and QT_ROUNDS of GD from w = 0."""
    feats = _qt_feats(spark, sf_dir)

    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(QT_ROUNDS):
        z6 = F.round(
            F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"), 6
        )
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z6)) - F.col("y")
        row = feats.agg(*[
            F.round(F.lit(w[j]) - F.lit(QT_LR) * F.avg(err * xs[j]), 6)
            .alias(f"w{j}")
            for j in range(4)
        ]).first()  # bounded: one 4-scalar gradient row per round
        w = [float(row[f"w{j}"]) for j in range(4)]
    return feats, w


def _qt_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-training FEATURE frame (doc_id, x1..x3 centered, y) —
    a pure persisted scan, no training; factored out (round 12) so the
    artifact serve path rebuilds features without running GD. A session
    memo: one persisted frame per session, shared by the train and serve
    paths (per-call persists stacked storage-pool blocks per bench rep —
    r12 ADVICE #3, the round-12 eviction pressure class)."""
    return memo.get(spark, "quality_features", (sf_dir,),
                    lambda: _qt_feats_frame(spark, sf_dir))


def _qt_feats_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_ws(F.col("text")), " ")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is"))
    )
    alpha_ratio = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    x1 = F.round(F.log(F.lit(1.0) + F.col("n_chars").cast("double")), 6)
    x2 = F.round(alpha_ratio, 6)
    x3 = F.round(stop_hits.cast("double") / n_toks, 6)
    raw = docs.select(
        "doc_id", x1.alias("x1r"), x2.alias("x2r"), x3.alias("x3r")
    )
    # the teacher scores the RAW features (QM_W's native scale); the
    # STUDENT trains on centered copies (see QT_CENTER)
    teacher_z = F.round(
        F.lit(QM_W[0]) + F.lit(QM_W[1]) * F.col("x1r")
        + F.lit(QM_W[2]) * F.col("x2r") + F.lit(QM_W[3]) * F.col("x3r"), 6
    )
    # read once per GD round + once for the report: shared-base persist
    return raw.select(
        "doc_id",
        F.round(F.col("x1r") - F.lit(QT_CENTER[0]), 6).alias("x1"),
        F.round(F.col("x2r") - F.lit(QT_CENTER[1]), 6).alias("x2"),
        F.round(F.col("x3r") - F.lit(QT_CENTER[2]), 6).alias("x3"),
        F.when(teacher_z >= QT_TEACHER_T, 1.0).otherwise(0.0).alias("y"),
    ).persist()


def qt_report(feats: DataFrame, w: list[float]) -> DataFrame:
    """The trained-model report row (w0..w3, training accuracy, n) from
    an explicit weight vector — shared by x3_quality_train and the
    artifact serve path."""
    zf = F.round(
        F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"), 6
    )
    hit = F.when(
        F.when(zf >= 0.0, 1.0).otherwise(0.0) == F.col("y"), 1.0
    ).otherwise(0.0)
    return feats.agg(
        *[F.lit(w[j]).alias(f"w{j}") for j in range(4)],
        F.round(F.avg(hit), 6).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    )


def x3_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per document: top-token share,
    distinct-token ratio, top-bigram share — the signals that catch
    boilerplate/spam/gibberish a length-and-alpha quality score misses.

    Shape: two explode->count pipelines (unigram, bigram) joined on doc_id.
    The (doc_id, token) shuffle is map-side combined, so network carries one
    row per distinct token per doc, not one per occurrence. Bigrams are
    built with zip_with over shifted slices (lambda touches only lambda
    vars — no captured-expression re-evaluation). Docs with <2 tokens have
    NULL top_bigram_share (no bigrams exist)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_ws(F.col("text"))
    toks = docs.select("doc_id", F.split(norm, " ").alias("t")).filter(
        F.length(F.trim(norm)) > 0
    )
    uni = toks.select("doc_id", F.explode("t").alias("tok"))
    ustat = (
        uni.groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(
            F.sum("count").alias("n_tokens"),
            F.max("count").alias("top_tok"),
            F.count("*").alias("n_distinct"),
        )
    )
    n = F.size("t")
    bg = F.zip_with(
        F.slice("t", 1, n - 1),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bstat = (
        toks.filter(n > 1)
        .select("doc_id", F.explode(bg).alias("bg"))
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.sum("count").alias("n_bigrams"), F.max("count").alias("top_big"))
    )
    return (
        ustat.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("top_tok") / F.col("n_tokens"), 6).alias("top_token_share"),
            F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias("distinct_ratio"),
            F.round(F.col("top_big") / F.col("n_bigrams"), 6).alias("top_bigram_share"),
        )
    )


def x3_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 fingerprint of normalized text (dedup key; also the
    oracle-checkable stand-in for the rolling-hash fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def x3_stopword_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of docs whose text contains >=1 marker word of their labeled
    language — the oracle-checkable core of the language-ID heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    cond = F.lit(False)
    for lang, words in LANG_MARKERS.items():
        pat = "(^|\\s)(" + "|".join(words) + ")(\\s|$)"
        cond = F.when(F.col("lang") == lang, F.lower(F.col("text")).rlike(pat)).otherwise(cond)
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(cond.cast("long")).alias("n_covered"),
        )
    )


def x3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full heuristic language ID vs the labeled lang — confusion counts.
    Oracle mirrors the marker scoring and declaration-order tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", detect_lang(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )


def x3_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-prep pipeline as ONE declarative plan:
    quality/language filter -> exact dedup (keep lowest doc_id, carrying the
    survivor's attributes via min_by) -> per-source profile. Catalyst fuses
    the filter into the scan; the dedup and profile are two narrow shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        "lang",
    ).filter((F.col("lang") == "en") & (F.col("quality") >= 0.5))
    dedup = enriched.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"),
        F.expr("min_by(source, doc_id)").alias("source"),
        F.expr("min_by(n_tokens, doc_id)").alias("n_tokens"),
    )
    return dedup.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
    )


def x3_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrubbing: mask URL / email / long-number spans with typed
    placeholder tokens before training use — a codegen'd regexp_replace
    cascade (single projection pass, no Python). Reports the redacted text
    plus how many spans each rule hit."""
    docs = load_table(spark, sf_dir, "documents")
    url = r"https?://\S+"
    email = r"[\w.+-]+@[\w-]+\.[\w.]+"
    longnum = r"\d{6,}"
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", url, "<URL>"), email, "<EMAIL>"
        ),
        longnum, "<NUM>",
    )
    return docs.select(
        "doc_id",
        redacted.alias("clean_text"),
        F.regexp_count("text", F.lit(url)).cast("long").alias("n_urls"),
        F.regexp_count("text", F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(longnum)).cast("long").alias("n_longnums"),
    )


CHUNK_W = 64   # RAG chunk window (tokens)
CHUNK_S = 48   # stride (16-token overlap between consecutive chunks)


def x3_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: split each document into overlapping
    token windows (window 64, stride 48) — the chunk-then-embed prep that
    feeds a vector index, as opposed to x3_pack_sequences which packs WHOLE
    documents into training rows.

    Per chunk: stable id (md5 of doc:idx), token span, token count, and the
    chunk-text fingerprint (dedupable downstream). One explode over a
    per-row sequence — chunk count is derived row-locally, so the plan is a
    single projection+generate over the scan: embarrassingly parallel, no
    shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(normalize_ws(F.col("text"))), " ")
    base = (
        docs.select("doc_id", toks.alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
        .withColumn(
            "n_chunks",
            F.greatest(
                F.lit(1),
                F.ceil((F.col("n") - F.lit(CHUNK_W)) / F.lit(CHUNK_S)) + 1,
            ).cast("int"),
        )
    )
    chunked = base.select(
        "doc_id", "t", "n",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(F.col("t"), F.col("chunk_idx") * CHUNK_S + 1, CHUNK_W).alias("ct"),
    )
    chunk_text = F.array_join("ct", " ")
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.col("chunk_idx").cast("string"))).alias("chunk_id"),
        F.size("ct").cast("long").alias("n_chunk_tokens"),
        F.md5(chunk_text).alias("chunk_fp"),
    )


def x3_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy scoring — the perplexity-proxy quality
    filter of CCNet/LLaMA-style pipelines (Wenzek et al. 2020 train a
    KenLM on Wikipedia and drop high-perplexity web text; here the LM is
    the corpus's own add-one-smoothed unigram model, which keeps the whole
    query self-contained and oracle-exact). Per document: n_tokens, the
    average negative log-likelihood (cross_entropy) and its exp (ppl) —
    gibberish and rare-token spam score high, fluent prose low.

    Shape: one token explode feeds BOTH the term-frequency table (shuffle
    on token, map-side combined) and the per-doc scorer (join on token —
    co-partitioned with the tf build, so the exchange is reused); corpus
    totals (N, V) ride a 1-row broadcast (the ScalarSubquery pattern).
    At 100 TB the tf table partitions by token exactly like the tf-idf
    posting list (same family, same argument); nothing touches the driver.
    Values ship UNROUNDED — summation-order ulps are absorbed by the
    verifier's 9-significant-digit normalization (CLAUDE.md rule 3)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    # persist: referenced twice (count-table build + per-doc probe join) —
    # the tokenize+explode otherwise runs twice per action (guide §5)
    tok = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", F.explode(F.split(norm, " ")).alias("t")
    ).persist()
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    totals = tf.agg(
        F.sum("c").cast("double").alias("corpus_n"),
        F.count(F.lit(1)).cast("double").alias("vocab_v"),
    )
    scored = (
        tok.join(tf, "t")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("corpus_n") + F.col("vocab_v"))
                )
            ).alias("s"),
        )
    )
    ce = -F.col("s") / F.col("n_tokens")
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        ce.alias("cross_entropy"),
        F.exp(ce).alias("ppl"),
    )


PMI_MIN_COUNT = 5


def x3_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PMI co-occurrence (Church & Hanks 1990) — the word-
    association table behind collocation extraction, phrase mining, and
    classic word vectors: token pairs within a +-2 window scored by
    pointwise mutual information ln(N * c_ab / (c_a * c_b)).

    Linear, never quadratic: pairs come from zip_with-ing the token array
    with its 1- and 2-shifted copies (the shingles() slice discipline —
    no captured-expression re-evaluation), so each token emits <= 2 pairs
    regardless of document length. Pairs are canonically ordered (min,
    max) so (a,b) and (b,a) pool; the shuffle is one map-side-combined
    (w1, w2) aggregate; unigram counts join back broadcast. Rare pairs
    (< 5 occurrences) are cut on BOTH engines before scoring.

    spread() (r14-opt, the plans/layout doctrine): the double tokenize
    + shifted-zip explode is compute-dense per-row work that ran at the
    parquet split parallelism (one task on the single-file contract
    substrate) — same class as x3_feature_hashing's probe-measured
    serialization."""
    docs = spread(load_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"))
    norm = F.lower(normalize_ws(F.col("text")))
    toks = F.split(norm, " ")
    n = F.size(toks)

    def shifted_pairs(j: int):
        a = F.slice(toks, 1, F.greatest(n - j, F.lit(0)))
        b = F.slice(toks, 1 + j, F.greatest(n - j, F.lit(0)))
        return F.zip_with(
            a, b,
            lambda x, y: F.struct(F.least(x, y).alias("w1"),
                                  F.greatest(x, y).alias("w2")),
        )

    pairs = (
        docs.filter(F.length(F.trim(norm)) > 0)
        .select(F.explode(F.concat(shifted_pairs(1), shifted_pairs(2))).alias("p"))
        .select("p.w1", "p.w2")
    )
    # persist: referenced 3x (corpus total + both endpoint broadcasts) —
    # each reference re-ran the tokenize+explode+count subtree (guide §5)
    uni = (
        docs.filter(F.length(F.trim(norm)) > 0)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    ).persist()
    n_tok = uni.agg(F.sum("cw").cast("double").alias("n_tokens"))
    co = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    return (
        co.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("cw").alias("c_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("cw").alias("c_b"))), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1", "w2", "c_ab",
            F.log(
                F.col("n_tokens") * F.col("c_ab")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("pmi"),
        )
    )


def x3_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy scoring — one order up from
    ``x3_unigram_logprob``: P(w2 | w1) with add-one smoothing over the
    corpus's own bigram/unigram tables, so word-ORDER violations (shuffled
    or templated text that unigram stats cannot see) score high while
    fluent prose scores low. The closer self-contained analog of the
    KenLM filter in CCNet-style pipelines.

    Shape: bigrams form row-locally (shifted zip_with — no posexplode
    self-join); the (w1, w2) count shuffle is map-side combined; the
    per-doc scorer joins the bigram table on (w1, w2) — co-partitioned
    with its own build — then the unigram denominators on w1; vocab size
    rides a 1-row broadcast. Same 100 TB posting-table argument as
    unigram/tf-idf; values ship unrounded (9-sig-digit verifier
    normalization absorbs sum-order ulps). Docs with < 2 tokens have no
    bigrams and are excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", F.split(norm, " ").alias("t")
    )
    n = F.size("t")
    pairs = F.zip_with(
        F.slice("t", 1, n - 1),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # persists: bg feeds the bigram count table AND the probe join; cu
    # feeds the vocab total AND the denominator join — without them each
    # branch re-runs its tokenize/zip_with subtree (guide §5)
    bg = (
        toks.filter(n > 1)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    ).persist()
    uni = docs.filter(F.length(F.trim(norm)) > 0).select(
        F.explode(F.split(norm, " ")).alias("w")
    )
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cuc")).persist()
    vv = cu.agg(F.count(F.lit(1)).cast("double").alias("v"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cbc"))
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(cu.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.log(
                    (F.col("cbc") + F.lit(1)).cast("double")
                    / (F.col("cuc") + F.col("v"))
                )
            ).alias("s"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        (-F.col("s") / F.col("n_bigrams")).alias("cross_entropy"),
    )


def x3_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE distinctive keywords by class-based tf-idf (c-TF-IDF, the
    BERTopic labeling recipe with sources as the classes): tf = token
    occurrences within the source, idf = ln(n_sources / #sources
    containing the token), top 5 per source — the one-line answer to
    "what is each crawl/dump actually about" a corpus datasheet wants.

    Scale shape: one (source, token) map-side-combined count shuffle, a
    token-keyed df aggregate OVER THE TF TABLE (rows ∝ distinct tokens x
    sources, already collapsed — never re-reads the corpus), a broadcast
    n_sources literal (metadata-scale driver count, the tfidf N pattern),
    and a per-source top-5 window on the ROUNDED score with token
    tie-break (round-before-rank, CLAUDE.md rule 3)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_ws(F.lower(F.col("text")))
    toks = (
        docs.select("source", F.explode(F.split(norm, " ")).alias("tok"))
        .filter(F.length(F.trim(norm)) > 0)
    )
    # tf is read twice (df aggregate + the scored join): persist so the
    # corpus explode+count runs once per session
    tf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf")).persist()
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_sources = docs.select("source").distinct().count()  # metadata-scale
    scored = tf.join(dfreq, "tok").select(
        "source",
        "tok",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_sources)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )


QUERIES = {
    "x3_bigram_logprob": x3_bigram_logprob,
    "x3_source_keywords": x3_source_keywords,
    "x3_pmi_cooccurrence": x3_pmi_cooccurrence,
    "x3_unigram_logprob": x3_unigram_logprob,
    "x3_chunk_documents": x3_chunk_documents,
    "x3_redact": x3_redact,
    "x3_token_stats": x3_token_stats,
    "x3_corpus_prep": x3_corpus_prep,
    "x3_lang_stats": x3_lang_stats,
    "x3_quality_scores": x3_quality_scores,
    "x3_quality_model": x3_quality_model,
    "x3_quality_train": x3_quality_train,
    "x3_fingerprints": x3_fingerprints,
    "x3_repetition_stats": x3_repetition_stats,
    "x3_stopword_coverage": x3_stopword_coverage,
    "x3_lang_id": x3_lang_id,
}

from swiftbulkuploader_spark.operators.oracle_fragments import (  # noqa: E402
    QUALITY_SCORE_DUCK,
    TOKENS_DUCK,
    TOKENS_DUCK_BARE as _TOKENS_DUCK,
)

# full lang-ID oracle: per-language marker-hit scores, argmax with the same
# tie-break as functions/text.py::detect_lang (declaration order wins)
_SCORE_EXPRS = ",\n               ".join(
    "("
    + " + ".join(
        f"CAST(regexp_matches(lower(text), '(^|\\s){w}(\\s|$)') AS INT)"
        for w in words
    )
    + f") AS s_{lang}"
    for lang, words in LANG_MARKERS.items()
)
_MX = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
_PRED_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = {_MX} AND {_MX} > 0 THEN '{lang}'"
        for lang in LANG_MARKERS
    )
    + " ELSE 'und' END"
)

_ORACLE_STOPWORD_CASE = " ".join(
    "WHEN lang = '{lang}' THEN regexp_matches(lower(text), '(^|\\s)({alts})(\\s|$)')".format(
        lang=lang, alts="|".join(words)
    )
    for lang, words in LANG_MARKERS.items()
)

ORACLES = {
    # same windowed pairs (positions i/i+1 and i/i+2, canonical order),
    # same min-count cut, same double op order in the PMI
    "x3_pmi_cooccurrence": f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
            WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
        ), p AS (
            SELECT least(toks[i], toks[i+1]) AS w1,
                   greatest(toks[i], toks[i+1]) AS w2
            FROM t, unnest(range(1, len(toks))) AS u(i)
            UNION ALL
            SELECT least(toks[i], toks[i+2]) AS w1,
                   greatest(toks[i], toks[i+2]) AS w2
            FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
        ), uni AS (
            SELECT w, count(*) AS cw
            FROM (SELECT unnest(toks) AS w FROM t)
            GROUP BY w
        ), nt AS (
            SELECT CAST(sum(cw) AS DOUBLE) AS n_tokens FROM uni
        ), co AS (
            SELECT w1, w2, count(*) AS c_ab
            FROM p GROUP BY w1, w2
            HAVING count(*) >= {PMI_MIN_COUNT}
        )
        SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
               ln(nt.n_tokens * c_ab / CAST(a.cw * b.cw AS DOUBLE)) AS pmi
        FROM co
        JOIN uni a ON co.w1 = a.w
        JOIN uni b ON co.w2 = b.w
        CROSS JOIN nt
    """,
    # same add-one-smoothed self-LM; ln/exp and summation-order ulps are
    # absorbed by the 9-sig-digit normalization (values ship unrounded)
    "x3_unigram_logprob": """
        WITH tk AS (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
            FROM documents
            WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
        ), tf AS (
            SELECT t, count(*) AS c FROM tk GROUP BY t
        ), tot AS (
            SELECT CAST(sum(c) AS DOUBLE) AS corpus_n,
                   CAST(count(*) AS DOUBLE) AS vocab_v
            FROM tf
        ), per AS (
            SELECT tk.doc_id,
                   count(*) AS n_tokens,
                   sum(ln(CAST(tf.c + 1 AS DOUBLE) / (tot.corpus_n + tot.vocab_v))) AS s
            FROM tk JOIN tf USING (t) CROSS JOIN tot
            GROUP BY tk.doc_id
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               -s / n_tokens AS cross_entropy,
               exp(-s / n_tokens) AS ppl
        FROM per
    """,
    # same frozen weights/features; the sigmoid is the identical double op
    # sequence; ln/exp ulps are absorbed by the 9-sig-digit hash
    # normalization (no round() on keep_prob — see CLAUDE.md rule 3); the
    # keep BOOLEAN instead thresholds round(z,6) >= 0 on both sides so a
    # last-ulp exp() disagreement can't flip it
    "x3_quality_model": """
        WITH f AS (
            SELECT doc_id, n_chars,
                   string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
                   CASE WHEN length(text) > 0
                        THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)
                        ELSE 0.0 END AS alpha_ratio
            FROM documents
        ), z AS (
            SELECT doc_id,
                   CAST(-2.0 AS DOUBLE)
                   + CAST(0.35 AS DOUBLE) * ln(CAST(1 AS DOUBLE) + CAST(n_chars AS DOUBLE))
                   + CAST(1.5 AS DOUBLE) * alpha_ratio
                   + CAST(2.0 AS DOUBLE)
                     * (len(list_filter(toks, t -> t IN ('the','and','of','to','is')))::DOUBLE
                        / greatest(len(toks), 1)) AS z
            FROM f
        )
        SELECT doc_id,
               CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-round(z, 6))) AS keep_prob,
               round(z, 6) >= CAST(0 AS DOUBLE) AS keep
        FROM z
    """,
    "x3_redact": r"""
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
                       '[\w.+-]+@[\w-]+\.[\w.]+', '<EMAIL>', 'g'),
                   '\d{6,}', '<NUM>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, 'https?://\S+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(text, '[\w.+-]+@[\w-]+\.[\w.]+')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '\d{6,}')) AS BIGINT) AS n_longnums
        FROM documents
    """,
    "x3_token_stats": f"""
        SELECT doc_id, length(text) AS text_len,
               CASE WHEN length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0
                    THEN 0 ELSE {_TOKENS_DUCK} END AS n_tokens
        FROM documents
    """,
    "x3_lang_stats": f"""
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               round(avg({_TOKENS_DUCK}), 6) AS avg_tokens,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars
        FROM documents GROUP BY lang
    """,
    "x3_quality_scores": """
        SELECT doc_id,
               """ + QUALITY_SCORE_DUCK + """ AS quality
        FROM documents
    """,
    "x3_repetition_stats": """
        WITH toks AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
            FROM documents
            WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
        ), percnt AS (
            SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            GROUP BY doc_id, tok
        ), ustat AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   max(c) AS top_tok, count(*) AS n_distinct
            FROM percnt GROUP BY doc_id
        ), bcnt AS (
            SELECT doc_id, bg, count(*) AS c
            FROM (
                SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(t) - 1),
                                             i -> t[i] || ' ' || t[i + 1])) AS bg
                FROM toks WHERE len(t) > 1
            )
            GROUP BY doc_id, bg
        ), bstat AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_big
            FROM bcnt GROUP BY doc_id
        )
        SELECT u.doc_id, u.n_tokens,
               round(CAST(u.top_tok AS DOUBLE) / u.n_tokens, 6) AS top_token_share,
               round(CAST(u.n_distinct AS DOUBLE) / u.n_tokens, 6) AS distinct_ratio,
               round(CAST(b.top_big AS DOUBLE) / b.n_bigrams, 6) AS top_bigram_share
        FROM ustat u LEFT JOIN bstat b USING (doc_id)
    """,
    "x3_fingerprints": """
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM documents
    """,
    "x3_stopword_coverage": f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(CAST((CASE {_ORACLE_STOPWORD_CASE} ELSE FALSE END) AS BIGINT)) AS BIGINT)
                   AS n_covered
        FROM documents GROUP BY lang
    """,
    "x3_lang_id": f"""
        SELECT lang, {_PRED_CASE} AS pred, count(*) AS n
        FROM (
            SELECT lang,
               {_SCORE_EXPRS}
            FROM documents
        )
        GROUP BY lang, pred
    """,
    "x3_corpus_prep": """
        WITH enriched AS (
            SELECT doc_id, source,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
                   """ + TOKENS_DUCK + """ AS n_tokens,
                   """ + QUALITY_SCORE_DUCK + """ AS quality
            FROM documents
            WHERE lang = 'en'
        ), dedup AS (
            SELECT fp, min(doc_id) AS keeper_id,
                   arg_min(source, doc_id) AS source,
                   arg_min(n_tokens, doc_id) AS n_tokens
            FROM enriched
            WHERE quality >= 0.5
            GROUP BY fp
        )
        SELECT source, count(*) AS n_docs, round(avg(n_tokens), 6) AS avg_tokens
        FROM dedup GROUP BY source
    """,
}

ORACLES["x3_chunk_documents"] = f"""
    WITH base AS (
        SELECT doc_id, t, len(t) AS n,
               CAST(greatest(1, CAST(ceil((len(t) - {CHUNK_W}) / {CHUNK_S}.0) AS BIGINT) + 1) AS INT) AS n_chunks
        FROM (
            SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
            FROM documents
        )
        WHERE len(t) > 0
    ), chunked AS (
        SELECT doc_id, i AS chunk_idx,
               t[i * {CHUNK_S} + 1 : least(i * {CHUNK_S} + {CHUNK_W}, n)] AS ct
        FROM base, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR)) AS chunk_id,
           CAST(len(ct) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(ct, ' ')) AS chunk_fp
    FROM chunked
"""

ORACLES["x3_source_keywords"] = """
    WITH t AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), tf AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
        FROM t GROUP BY source, tok
    ), dfreq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), ns AS (
        SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n FROM documents
    ), scored AS (
        SELECT tf.source, tf.tok,
               round(tf.tf * ln(ns.n / dfreq.df), 6) AS score
        FROM tf JOIN dfreq USING (tok) CROSS JOIN ns
    )
    SELECT source, tok, score, rk FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY source ORDER BY score DESC, tok ASC
        ) AS BIGINT) AS rk FROM scored
    ) WHERE rk <= 5
"""

ORACLES["x3_bigram_logprob"] = """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), u AS (
        SELECT unnest(toks) AS w FROM t
    ), cu AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cuc FROM u GROUP BY w
    ), vv AS (
        SELECT CAST(count(*) AS DOUBLE) AS v FROM cu
    ), bg AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(range(1, len(toks))) AS r(i)
        WHERE len(toks) >= 2
    ), cb AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS cbc
        FROM bg GROUP BY w1, w2
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           -(sum(ln(CAST(cb.cbc + 1 AS DOUBLE) / (cu.cuc + vv.v))))
               / count(*) AS cross_entropy
    FROM bg
    JOIN cb USING (w1, w2)
    JOIN cu ON bg.w1 = cu.w
    CROSS JOIN vv
    GROUP BY bg.doc_id
"""


def _quality_train_oracle_sql() -> str:
    """GENERATED training oracle: replays the fixed QT_ROUNDS of batch GD
    as chained 1-row CTEs — round-k weights derive from round-(k-1)'s via
    the same 6-dp-rounded dot products, sigmoid, and rounded update, then
    the accuracy CTE re-scores the corpus with the final weights. Literal
    constants CAST to DOUBLE (bare decimals are DECIMAL in DuckDB and fold
    exactly — CLAUDE.md rule 3)."""
    t0, t1, t2, t3 = (f"CAST({v} AS DOUBLE)" for v in QM_W)
    lr = f"CAST({QT_LR} AS DOUBLE)"
    tt = QT_TEACHER_T

    def z(w0: str, w1: str, w2: str, w3: str) -> str:
        return f"round({w0} + {w1}*x1 + {w2}*x2 + {w3}*x3, 6)"

    def gd_cte(name: str, src: str, w: tuple[str, str, str, str],
               from_extra: str, group_by: str) -> str:
        p = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-{z(*w)})) - y)"
        cols = ",\n               ".join(
            f"round({w[j]} - {lr} * avg({p}{mul}), 6) AS w{j}"
            for j, mul in enumerate(["", " * x1", " * x2", " * x3"])
        )
        return f"""{name} AS (
        SELECT {cols}
        FROM {src}{from_extra}
        {group_by}
    )"""

    zero = "CAST(0.0 AS DOUBLE)"
    g_ctes, prev = [], None
    for r in range(1, QT_ROUNDS + 1):
        name = f"g{r}"
        if prev is None:
            g_ctes.append(gd_cte(name, "fy", (zero,) * 4, "", ""))
        else:
            w = tuple(f"{prev}.w{j}" for j in range(4))
            g_ctes.append(gd_cte(
                name, "fy", w, f", {prev}",
                "GROUP BY " + ", ".join(w),
            ))
        prev = name
    gfin = prev
    zf = z(*(f"{gfin}.w{j}" for j in range(4)))
    chain = ", ".join(g_ctes)
    c1, c2, c3 = (f"CAST({c} AS DOUBLE)" for c in QT_CENTER)
    prefix = f"""
    WITH f AS (
        SELECT doc_id,
               round(ln(CAST(1.0 AS DOUBLE) + CAST(n_chars AS DOUBLE)), 6) AS x1r,
               round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1), 6) AS x2r,
               round(len(list_filter(
                         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                         t -> t IN ('the','and','of','to','is')))::DOUBLE
                     / greatest(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')), 1),
                     6) AS x3r
        FROM documents
    ), fy AS (
        SELECT doc_id,
               round(x1r - {c1}, 6) AS x1,
               round(x2r - {c2}, 6) AS x2,
               round(x3r - {c3}, 6) AS x3,
               CASE WHEN round({t0} + {t1}*x1r + {t2}*x2r + {t3}*x3r, 6)
                         >= CAST({tt} AS DOUBLE)
                    THEN 1.0 ELSE 0.0 END AS y
        FROM f
    ), {chain}"""
    return prefix, zf, gfin


def _quality_train_final_sql() -> str:
    prefix, zf, g = _quality_train_oracle_sql()
    pred = f"CASE WHEN {zf} >= CAST(0 AS DOUBLE) THEN 1.0 ELSE 0.0 END"
    ws = ", ".join(f"{g}.w{j}" for j in range(4))
    return f"""{prefix}
    SELECT {ws},
           round(avg(CASE WHEN {pred} = y THEN 1.0 ELSE 0.0 END), 6) AS acc,
           count(*) AS n
    FROM fy, {g}
    GROUP BY {ws}
"""


ORACLES["x3_quality_train"] = _quality_train_final_sql()


def x6_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE quality-percentile selection — keep each domain's top
    half by classifier score. Absolute-threshold filtering (x3_quality_model's
    keep flag) silently skews the source mixture: a clean encyclopedia
    domain passes ~everything while a noisy web domain is nearly emptied.
    Percentile-WITHIN-source is the mixture-preserving form pretraining
    pipelines actually use (each domain contributes its best X%, relative
    composition intact) — the quality-side complement of x1_domain_cap's
    count cap.

    Shape: the frozen linear model (same features/weights as
    x3_quality_model — scan-speed codegen, no UDF) feeds one percent_rank
    window partitioned by source. The window shuffle is (source)-keyed —
    at 100 TB a hot mega-domain makes this the classic skewed-window
    shape; the standard mitigation (two-pass: per-source GK quantile
    sketch broadcast back as a threshold) is the documented swap, same
    argument as the dataset-card sketch default. Determinism: z is
    rounded to 6 dp BEFORE the window ordering with doc_id tie-breaks
    (the cosine-ranking discipline), so rank — and hence
    percent_rank = (rank-1)/(n-1), an exact small-integer ratio — is
    engine-identical, and `keep` compares those exact ratios to 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_ws(F.col("text")), " ")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is"))
    )
    alpha_ratio = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    z = (
        F.lit(QM_W[0])
        + F.lit(QM_W[1]) * F.log(F.lit(1.0) + F.col("n_chars").cast("double"))
        + F.lit(QM_W[2]) * alpha_ratio
        + F.lit(QM_W[3]) * (stop_hits.cast("double") / n_toks)
    )
    scored = docs.select("doc_id", "source", F.round(z, 6).alias("quality_z"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality_z").desc(), F.col("doc_id").asc()
    )
    pr = F.percent_rank().over(w)
    return scored.select(
        "doc_id", "source", "quality_z",
        pr.alias("pr"), (pr <= 0.5).alias("keep"),
    )


QUERIES["x6_quality_percentile_filter"] = x6_quality_percentile_filter

ORACLES["x6_quality_percentile_filter"] = """
    WITH f AS (
        SELECT doc_id, source, n_chars,
               string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks,
               CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / length(text)
                    ELSE 0.0 END AS alpha_ratio
        FROM documents
    ), z AS (
        SELECT doc_id, source,
               round(
                   CAST(-2.0 AS DOUBLE)
                   + CAST(0.35 AS DOUBLE) * ln(CAST(1 AS DOUBLE) + CAST(n_chars AS DOUBLE))
                   + CAST(1.5 AS DOUBLE) * alpha_ratio
                   + CAST(2.0 AS DOUBLE)
                     * (len(list_filter(toks, t -> t IN ('the','and','of','to','is')))::DOUBLE
                        / greatest(len(toks), 1)), 6) AS quality_z
        FROM f
    )
    SELECT doc_id, source, quality_z,
           percent_rank() OVER
               (PARTITION BY source ORDER BY quality_z DESC, doc_id ASC) AS pr,
           percent_rank() OVER
               (PARTITION BY source ORDER BY quality_z DESC, doc_id ASC)
               <= CAST(0.5 AS DOUBLE) AS keep
    FROM z
"""


def x3_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    rank every document WITHIN ITS LANGUAGE by LM cross-entropy and label
    the thirds head / middle / tail — the partition CCNet publishes and
    LLaMA-style pipelines consume (train on head+middle, drop or re-weight
    tail). The LM is the corpus's own add-one-smoothed unigram model (the
    x3_unigram_logprob scorer), keeping the query self-contained and
    oracle-exact where CCNet's KenLM would be an opaque artifact.

    Shape: the unigram scorer's token explode + tf join (one token-keyed
    shuffle, 1-row totals broadcast), then ONE per-language percent_rank
    window — the x6_quality_percentile_filter pattern: xent rounded to
    6 dp BEFORE the ordering decision, doc_id tie-breaks, so the rank is
    engine-exact; pr thresholds at 1/3 and 2/3 are computed from identical
    integer ranks on both sides. At 100 TB the per-language sort is the
    scale cost; the at-rest swap is two GK-sketch thresholds per language
    + a row-local bucket label (the x6_dataset_card discipline), trading
    exact thirds for O(scan)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    tok = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", "lang", F.explode(F.split(norm, " ")).alias("t")
    )
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    totals = tf.agg(
        F.sum("c").cast("double").alias("corpus_n"),
        F.count(F.lit(1)).cast("double").alias("vocab_v"),
    )
    scored = (
        tok.join(tf, "t")
        .crossJoin(F.broadcast(totals))  # bounded: 1-row totals
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("corpus_n") + F.col("vocab_v"))
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            "lang",
            F.round(-F.col("s") / F.col("n_tokens"), 6).alias("xent"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("xent").asc(), F.col("doc_id").asc()
    )
    pr = F.percent_rank().over(w)
    bucket = (
        F.when(pr < F.lit(1.0) / 3, F.lit("head"))
        .when(pr < F.lit(2.0) / 3, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select("doc_id", "lang", "xent", bucket.alias("bucket"))


QUERIES["x3_ccnet_bucket"] = x3_ccnet_bucket

ORACLES["x3_ccnet_bucket"] = """
    WITH tk AS (
        SELECT doc_id, lang,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
    ), tf AS (
        SELECT t, count(*) AS c FROM tk GROUP BY t
    ), tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS corpus_n,
               CAST(count(*) AS DOUBLE) AS vocab_v
        FROM tf
    ), per AS (
        SELECT tk.doc_id, tk.lang,
               count(*) AS n_tokens,
               sum(ln(CAST(tf.c + 1 AS DOUBLE) / (tot.corpus_n + tot.vocab_v))) AS s
        FROM tk JOIN tf USING (t) CROSS JOIN tot
        GROUP BY tk.doc_id, tk.lang
    ), scored AS (
        SELECT doc_id, lang, round(-s / n_tokens, 6) AS xent FROM per
    ), ranked AS (
        SELECT doc_id, lang, xent,
               percent_rank() OVER
                   (PARTITION BY lang ORDER BY xent ASC, doc_id ASC) AS pr
        FROM scored
    )
    SELECT doc_id, lang, xent,
           CASE WHEN pr < 1.0 / 3 THEN 'head'
                WHEN pr < 2.0 / 3 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
"""


ZIPF_TOP_R = 1000  # head ranks fitted — the log-log-linear regime


def x3_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law rank-frequency fit — the corpus-health diagnostic that
    pairs with the Heaps'-law curve (x3_vocab_growth): natural language
    has log10(freq) ~ intercept + slope * log10(rank) with slope near -1
    and high R² over the head ranks; template/boilerplate-heavy or
    machine-generated corpora bend the line (|slope| drifts, R² drops),
    so the (slope, r2) pair is a one-row drift alarm for a text source.

    Shape: the x3_unigram_logprob tf table (ONE token-keyed shuffle,
    map-side combined — the probed inverted-index family), then a
    TakeOrderedAndProject top-ZIPF_TOP_R by (count desc, term asc) —
    per-partition bounded heaps + driver merge, NO global sort — and the
    rank window + OLS run over those <= 1000 rows (bounded, one
    partition by construction). Fitting the head is the statistically
    standard choice (the tail departs from the power law) AND the scale
    choice: vocabulary at 100 TB is billions of junk terms, but the fit
    input stays fixed-size. OLS via the single-pass algebraic regr_*
    aggregates (the x6_regression_stats pattern); values ship UNROUNDED —
    summation-order ulps are absorbed by the verifier's 9-significant-
    digit normalization (CLAUDE.md rule 3).

    Reference parity: no statistics in the reference beyond counters
    (bulkupload.py:320-331); §2.9 north-star extension.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    tok = docs.filter(F.length(F.trim(norm)) > 0).select(
        F.explode(F.split(norm, " ")).alias("t")
    )
    tf = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    top = tf.orderBy(F.col("c").desc(), F.col("t").asc()).limit(ZIPF_TOP_R)
    # bounded input: the rank window runs over <= ZIPF_TOP_R rows
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    ranked = top.select(F.row_number().over(w).alias("r"), "c")
    x = F.log10(F.col("r").cast("double"))
    y = F.log10(F.col("c").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_fit"),
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
    )


QUERIES["x3_zipf_fit"] = x3_zipf_fit

ORACLES["x3_zipf_fit"] = """
    WITH tk AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
    ), tf AS (
        SELECT t, count(*) AS c FROM tk GROUP BY t
    ), top AS (
        SELECT t, c FROM tf ORDER BY c DESC, t ASC LIMIT 1000
    ), ranked AS (
        SELECT row_number() OVER (ORDER BY c DESC, t ASC) AS r, c FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_fit,
           regr_slope(log10(CAST(c AS DOUBLE)), log10(CAST(r AS DOUBLE))) AS slope,
           regr_intercept(log10(CAST(c AS DOUBLE)), log10(CAST(r AS DOUBLE))) AS intercept,
           regr_r2(log10(CAST(c AS DOUBLE)), log10(CAST(r AS DOUBLE))) AS r2
    FROM ranked
"""


# ---------------------------------------------------------------------------
# X3 — stupid-backoff trigram LM scoring
# ---------------------------------------------------------------------------

SB_LAMBDA = 0.4  # Brants et al. 2007 backoff penalty

def x3_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM scoring with stupid backoff (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the backoff scheme built
    for distributed count tables: no discounting mass to renormalize, so
    the model is JUST the raw n-gram count tables and scoring is pure
    joins. S(w3|w1w2) = c123/c12 if the trigram was seen, else
    0.4*c23/c2, else 0.4^2*c3/N, else a 0.4^2/N floor for OOV.

    The count tables train on the even-doc_id half of the corpus and
    score EVERY doc — held-out docs exercise the backoff chain exactly
    like web text scored against a Wikipedia-trained KenLM (the
    CCNet/Gopher quality-filter setup). Per doc: trigram count, mean log
    score, and how many trigrams resolved at each backoff level (the
    model-coverage diagnostic).

    Scale shape: trigrams/bigrams form row-locally (shifted-slice
    zip_with, no self-join); each count table is one map-side-combined
    shuffle keyed on its gram — the same posting-table partitioning as
    tf-idf/bigram-LM — and scoring joins are keyed on those same grams,
    so count-build and probe co-partition; N rides a 1-row broadcast.
    Nothing is quadratic and the driver sees only the final per-doc rows.

    spread() (r14-opt, the plans/layout doctrine): the persisted `toks`
    frame inherited the parquet split layout — ONE cached partition on
    the single-file contract substrate — so every per-call trigram
    explode and scoring join ran single-task (10x core-ratio probe:
    6.1 s at 32 cores ~= 5.6 at 8, CORE_RATIO_r14.json). Repartitioning
    the raw (doc_id, text) before tokenize makes the cached layout
    32-wide; counts/joins are partitioning-independent."""
    docs = spread(load_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"))
    norm = F.lower(normalize_ws(F.col("text")))
    # persist: the tokenized frame feeds FOUR derivations (c3/c2/c1 over
    # the train half + the corpus-wide probe) — without it the
    # normalize+split runs once per branch (guide §5)
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", F.split(norm, " ").alias("t")
    ).persist()
    n = F.size("t")

    def grams3(frame: DataFrame) -> DataFrame:
        m = F.size("t") - 2
        pair = F.zip_with(
            F.slice("t", 1, m),
            F.slice("t", 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        tri = F.zip_with(
            pair,
            F.slice("t", 3, m),
            lambda p, c: F.struct(
                p["w1"].alias("w1"), p["w2"].alias("w2"), c.alias("w3")
            ),
        )
        return (
            frame.filter(F.size("t") >= 3)
            .select("doc_id", F.explode(tri).alias("g"))
            .select("doc_id", "g.w1", "g.w2", "g.w3")
        )

    def grams2(frame: DataFrame) -> DataFrame:
        m = F.size("t") - 1
        pair = F.zip_with(
            F.slice("t", 1, m),
            F.slice("t", 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
        return (
            frame.filter(F.size("t") >= 2)
            .select(F.explode(pair).alias("g"))
            .select("g.w1", "g.w2")
        )

    # the persisted LM count tables (c3, c2, c1) ARE the trained model
    # (Brants et al.'s entire point), so they are a session memo like the
    # other trained artifacts: train once per session, serve every call.
    # Before this each call re-ran the three train-half aggregations.
    def train_counts():
        train = toks.filter(F.col("doc_id") % 2 == 0)
        c3 = grams3(train).groupBy("w1", "w2", "w3").agg(
            F.count(F.lit(1)).alias("c3")
        ).persist()
        c2 = grams2(train).groupBy("w1", "w2").agg(
            F.count(F.lit(1)).alias("c2")
        ).persist()
        c1 = (
            train.select(F.explode("t").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c1"))
            .persist()
        )
        return c3, c2, c1

    c3, c2, c1 = memo.get(spark, "stupid_backoff_counts", (toks,),
                          train_counts)
    nn = c1.agg(F.sum("c1").cast("double").alias("n_train"))

    lam = F.lit(SB_LAMBDA)
    probe = (
        grams3(toks)
        .join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(
                F.col("w1").alias("d1"), F.col("w2").alias("d2"),
                F.col("c2").alias("c12"),
            ),
            (F.col("w1") == F.col("d1")) & (F.col("w2") == F.col("d2")),
            "left",
        )
        .join(
            c2.select(
                F.col("w1").alias("b1"), F.col("w2").alias("b2"),
                F.col("c2").alias("c23"),
            ),
            (F.col("w2") == F.col("b1")) & (F.col("w3") == F.col("b2")),
            "left",
        )
        .join(c1.select(F.col("w").alias("u2"), F.col("c1").alias("cu2")),
              F.col("w2") == F.col("u2"), "left")
        .join(c1.select(F.col("w").alias("u3"), F.col("c1").alias("cu3")),
              F.col("w3") == F.col("u3"), "left")
        .crossJoin(F.broadcast(nn))
    )
    score = (
        F.when(F.col("c3").isNotNull(),
               F.col("c3").cast("double") / F.col("c12"))
        .when(F.col("c23").isNotNull(),
              lam * F.col("c23") / F.col("cu2"))
        .when(F.col("cu3").isNotNull(),
              lam * lam * F.col("cu3") / F.col("n_train"))
        .otherwise(lam * lam / F.col("n_train"))
    )
    level = (
        F.when(F.col("c3").isNotNull(), F.lit(0))
        .when(F.col("c23").isNotNull(), F.lit(1))
        .otherwise(F.lit(2))
    )
    return (
        probe.select("doc_id", F.log(score).alias("lns"), level.alias("lv"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            (F.sum("lns") / F.count(F.lit(1))).alias("avg_logscore"),
            F.sum((F.col("lv") == 0).cast("long")).alias("n_tri_hits"),
            F.sum((F.col("lv") == 1).cast("long")).alias("n_bigram_backoff"),
            F.sum((F.col("lv") == 2).cast("long")).alias("n_unigram_backoff"),
        )
    )


QUERIES["x3_stupid_backoff"] = x3_stupid_backoff

ORACLES["x3_stupid_backoff"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), tri AS (
        SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
        FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
        WHERE len(toks) >= 3
    ), c3 AS (
        SELECT w1, w2, w3, count(*) AS c3
        FROM tri WHERE doc_id % 2 = 0 GROUP BY w1, w2, w3
    ), bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, unnest(range(1, len(toks))) AS r(i)
        WHERE len(toks) >= 2 AND doc_id % 2 = 0
    ), c2 AS (
        SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w, count(*) AS c1
        FROM (SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)
        GROUP BY w
    ), nn AS (
        SELECT CAST(sum(c1) AS DOUBLE) AS n_train FROM c1
    ), sc AS (
        SELECT tri.doc_id,
               CASE
                 WHEN c3.c3 IS NOT NULL
                   THEN CAST(c3.c3 AS DOUBLE) / d12.c2
                 WHEN b23.c2 IS NOT NULL
                   THEN CAST({SB_LAMBDA} AS DOUBLE) * b23.c2 / u2.c1
                 WHEN u3.c1 IS NOT NULL
                   THEN CAST({SB_LAMBDA} AS DOUBLE) * CAST({SB_LAMBDA} AS DOUBLE)
                        * u3.c1 / nn.n_train
                 ELSE CAST({SB_LAMBDA} AS DOUBLE) * CAST({SB_LAMBDA} AS DOUBLE)
                      / nn.n_train
               END AS s,
               CASE WHEN c3.c3 IS NOT NULL THEN 0
                    WHEN b23.c2 IS NOT NULL THEN 1
                    ELSE 2 END AS lv
        FROM tri
        LEFT JOIN c3 USING (w1, w2, w3)
        LEFT JOIN c2 d12 ON tri.w1 = d12.w1 AND tri.w2 = d12.w2
        LEFT JOIN c2 b23 ON tri.w2 = b23.w1 AND tri.w3 = b23.w2
        LEFT JOIN c1 u2 ON tri.w2 = u2.w
        LEFT JOIN c1 u3 ON tri.w3 = u3.w
        CROSS JOIN nn
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           sum(ln(s)) / count(*) AS avg_logscore,
           CAST(sum(CASE WHEN lv = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tri_hits,
           CAST(sum(CASE WHEN lv = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bigram_backoff,
           CAST(sum(CASE WHEN lv = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unigram_backoff
    FROM sc
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# X3 — distributed BPE merge training
# ---------------------------------------------------------------------------

BPE_MERGES = 6  # fixed merge budget (the x8_pagerank fixed-round discipline)


def x3_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. ACL'16), the
    tokenizer-construction step of every LLM data pipeline, as a
    distributed iterative DataFrame algorithm: per round, count adjacent
    symbol pairs across the WORD VOCABULARY weighted by word frequency,
    take the most frequent pair (ties: lexicographic), and merge its
    occurrences greedily left-to-right in every word. Emits the learned
    merge table (rank, pair, merged symbol, count) — the artifact a
    tokenizer ships.

    Cross-engine-identical merging is the trick: words are held in a
    SPACED SYMBOL STRING (" c  a  t " — every symbol space-wrapped, built
    by one regexp_replace), so a merge is a plain string replace of
    " x  y " with " xy " — and Spark's `replace` and DuckDB's `replace`
    share exact left-to-right non-overlapping semantics, giving the
    greedy merge bit-identical results with no per-engine fold logic.
    The oracle replays all rounds as generated chained CTEs.

    Scale shape: training runs over the DISTINCT-WORD table (the classic
    word-level BPE optimization — corpus size only enters through the
    one tokenize+count shuffle that builds it), so each round is one
    map-side-combined (x, y) count shuffle over vocab rows + a bounded
    1-row argmax collect (TakeOrdered), and the merge itself is a narrow
    string map. Vocabulary exhaustion (no adjacent pairs left) ends
    training early on both engines identically."""
    merges = _bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank: long, left_sym: string, right_sym: string, "
        "merged: string, pair_count: long",
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The x3_bpe_train loop, memoized: (rank, x, y, merged, count) rows.
    Merges are deterministic per input, so the train report and the
    encoder share one training per session."""
    return memo.get(spark, "bpe_merges", (sf_dir,),
                    lambda: _bpe_train(spark, sf_dir))


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    tok = docs.filter(F.length(F.trim(norm)) > 0).select(
        F.explode(F.split(norm, " ")).alias("t")
    )
    words = (
        tok.groupBy("t")
        .agg(F.sum(F.lit(1)).alias("cnt"))
        .select(
            F.regexp_replace("t", "(.)", " $1 ").alias("w0"),
            F.col("cnt"),
        )
        .persist()  # vocab-sized; scanned once per merge round
    )
    wcol = F.col("w0")
    merges: list[tuple] = []
    for rank in range(1, BPE_MERGES + 1):
        syms = F.split(F.trim(wcol), "  ")
        n = F.size(syms)
        pairx = F.zip_with(
            F.slice(syms, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(syms, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("x"), b.alias("y")),
        )
        top = (
            words.select(F.explode(pairx).alias("p"), "cnt")
            .groupBy("p.x", "p.y")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .collect()  # bounded: exactly one argmax row per round
        )
        if not top:
            break  # vocabulary exhausted: every word is a single symbol
        x, y, c = top[0]["x"], top[0]["y"], top[0]["c"]
        merges.append((rank, x, y, x + y, int(c)))
        wcol = F.replace(wcol, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} "))
    words.unpersist()
    return merges


def _bpe_train_oracle_sql(rounds: int = BPE_MERGES) -> str:
    """GENERATED BPE oracle: the fixed merge budget unrolls into chained
    CTE blocks — pair counts from the spaced-symbol strings, a 1-row
    argmax, and the same literal string replace. An exhausted round
    yields an empty m{r} whose NULL replace pattern cascades empties
    through the remaining blocks, matching the engine's early break."""
    blocks = []
    prev = "w0"
    selects = []
    for r in range(1, rounds + 1):
        blocks.append(f"""p{r} AS MATERIALIZED (
            SELECT s[i] AS x, s[i + 1] AS y, CAST(sum(cnt) AS BIGINT) AS c
            FROM (SELECT string_split(trim(w), '  ') AS s, cnt FROM {prev}) t{r},
                 unnest(range(1, len(s))) AS u{r}(i)
            GROUP BY x, y
        ), m{r} AS MATERIALIZED (
            SELECT x, y, c FROM p{r} ORDER BY c DESC, x, y LIMIT 1
        ), w{r} AS MATERIALIZED (
            SELECT replace(w,
                       ' ' || (SELECT x FROM m{r}) || '  '
                           || (SELECT y FROM m{r}) || ' ',
                       ' ' || (SELECT x || y FROM m{r}) || ' ') AS w,
                   cnt
            FROM {prev}
        )""")
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, x AS left_sym,"
            f" y AS right_sym, x || y AS merged, c AS pair_count FROM m{r}"
        )
        prev = f"w{r}"
    chain = ", ".join(blocks)
    union = "\n    UNION ALL ".join(selects)
    return f"""
    WITH tk AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), wc AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY t
    ), w0 AS (
        SELECT regexp_replace(t, '(.)', ' \\1 ', 'g') AS w, cnt FROM wc
    ), {chain}
    {union}
    """


QUERIES["x3_bpe_train"] = x3_bpe_train
ORACLES["x3_bpe_train"] = _bpe_train_oracle_sql()


# ---------------------------------------------------------------------------
# X3 — Chao1 vocabulary-richness estimation
# ---------------------------------------------------------------------------


def x3_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation over the word-trigram population:
    Chao1 richness (Chao 1984, bias-corrected form D + f1*(f1-1)/(2*(f2+1)))
    and Good-Turing sample coverage (1 - f1/N) from the singleton/doubleton
    counts of the gram frequency distribution — "how much more corpus do I
    need before the n-gram tables stop growing", the saturation companion
    to x3_vocab_growth's Heaps curve and x6_kmv_distinct's cardinality
    sketch.

    Exact and rounding-free: every input (N, D, f1, f2) is an integer off
    two map-side-combined aggregations (gram counts, then a
    frequency-of-frequency rollup whose input is already vocab-sized);
    the two estimator divisions are the only doubles."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        F.split(norm, " ").alias("t")
    )
    m = F.size("t") - 2
    pair = F.zip_with(
        F.slice("t", 1, m), F.slice("t", 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    tri = F.zip_with(
        pair, F.slice("t", 3, m), lambda p, c: F.concat_ws(" ", p, c)
    )
    gc = (
        toks.filter(F.size("t") >= 3)
        .select(F.explode(tri).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = gc.agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    chao1 = (
        F.col("distinct_grams")
        + F.col("f1").cast("double") * (F.col("f1") - 1)
        / (F.lit(2.0) * (F.col("f2") + 1))
    )
    return agg.select(
        "n_grams",
        "distinct_grams",
        "f1",
        "f2",
        chao1.alias("chao1"),
        (F.lit(1.0) - F.col("f1").cast("double") / F.col("n_grams")).alias(
            "coverage"
        ),
    )


QUERIES["x3_chao1_richness"] = x3_chao1_richness

ORACLES["x3_chao1_richness"] = """
    WITH t AS (
        SELECT string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), g AS (
        SELECT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS g
        FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
        WHERE len(toks) >= 3
    ), gc AS (
        SELECT g, count(*) AS c FROM g GROUP BY g
    ), agg AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS distinct_grams,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM gc
    )
    SELECT n_grams, distinct_grams, f1, f2,
           distinct_grams
               + CAST(f1 AS DOUBLE) * (f1 - 1)
                 / (CAST(2 AS DOUBLE) * (f2 + 1)) AS chao1,
           CAST(1 AS DOUBLE) - CAST(f1 AS DOUBLE) / n_grams AS coverage
    FROM agg
"""


def x3_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document — the
    classic readability pair every corpus-quality dashboard reports
    alongside the Gopher rules (curriculum ordering and audience filtering
    both key on it).

    Counting heuristics (documented, deterministic, engine-identical):
    words = whitespace tokens of the normalized text; sentences = runs of
    [.!?] (floored at 1 so headline-style fragments don't divide by zero);
    syllables = vowel-group runs [aeiouy]+ in the lowercased text (the
    standard cheap approximation: 'beautiful' -> eau+i+u = 3). All three are
    integers, so the two ratios and the affine formulas are identically
    rounded doubles on both engines — no tolerance needed.

    FRE = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
    FKG = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59

    Shape: pure row-local codegen over the scan — zero shuffles; at 100 TB
    this runs at parquet-read speed like the other x3 scorers."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_ws(F.col("text")), " ")
    n_words = F.size(toks)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    )
    w = n_words.cast("double")
    s = n_sent.cast("double")
    sy = n_syll.cast("double")
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        (
            F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (sy / w)
        ).alias("fre"),
        (
            F.lit(0.39) * (w / s) + F.lit(11.8) * (sy / w) - F.lit(15.59)
        ).alias("fk_grade"),
    )


QUERIES["x3_readability"] = x3_readability

ORACLES["x3_readability"] = r"""
    WITH c AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')),
                                     ' ')) AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE)
                 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - CAST(84.6 AS DOUBLE)
                 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS fre,
           CAST(0.39 AS DOUBLE)
               * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               + CAST(11.8 AS DOUBLE)
                 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
               - CAST(15.59 AS DOUBLE) AS fk_grade
    FROM c
"""


def x3_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the LEARNED BPE merge table (x3_bpe_train, memoized via
    _bpe_merges) to the corpus — the tokenizer-apply half that turns the
    trained artifact into per-document token statistics: subtoken count
    under the learned vocabulary, word count, and fertility
    (subtokens/word, THE tokenizer-quality metric — fertility creep on a
    new corpus slice means the tokenizer no longer fits the data).

    Encoding runs on the DISTINCT-WORD table (same word-level optimization
    as training: corpus size enters only through the tokenize shuffle),
    applying the merges in rank order as a chain of literal spaced-symbol
    string replaces — identical semantics on both engines (the
    x3_bpe_train trick) — then joins the per-word subtoken counts back to
    the per-doc token stream. All outputs are exact integers and one exact
    integer/integer division.

    Oracle: generated — replays the training CTE chain (so the oracle's
    merge table is DERIVED, not copied from the engine) carrying the
    original word through the encode chain, then the same join-back.
    coalesce() keeps exhausted-round replaces as no-ops on both sides."""
    return bpe_encode_with_merges(spark, sf_dir, _bpe_merges(spark, sf_dir))


def bpe_encode_with_merges(spark: SparkSession, sf_dir: str,
                           merges: list[tuple]) -> DataFrame:
    """The x3_bpe_encode body over an EXPLICIT merge table — factored out
    (round 12, r11 verdict ask #3) so the artifact serve path
    (model_store.x3_bpe_encode_from_artifact) applies LOADED merges
    without touching the training loop."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", F.explode(F.split(norm, " ")).alias("t")
    )
    wcol = F.regexp_replace("t", "(.)", " $1 ")
    for _, x, y, _m, _c in merges:
        wcol = F.replace(wcol, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} "))
    enc = (
        toks.select("t").distinct()
        .select("t", F.size(F.split(F.trim(wcol), "  ")).alias("n_sub"))
    )
    return (
        toks.join(enc, "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subtokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_subtokens",
            (
                F.col("n_subtokens").cast("double") / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


def _bpe_encode_ctes(rounds: int = BPE_MERGES) -> str:
    """GENERATED encode oracle: the training chain (pair counts -> 1-row
    argmax -> replace) re-derived from scratch, but carrying the ORIGINAL
    word `t` through every round so the final subtoken counts join back to
    the per-doc token stream. Exhausted rounds (empty m{r}) degrade to
    no-op replaces via coalesce instead of cascading NULL words. Every
    round CTE is MATERIALIZED: w{r} is referenced twice (by p{r+1} and
    w{r+1}), so default inlining re-expands the tokenize pipeline 2^R
    times (the x8_kcore lesson)."""
    blocks = []
    prev = "w0"
    for r in range(1, rounds + 1):
        blocks.append(f"""p{r} AS MATERIALIZED (
            SELECT s[i] AS x, s[i + 1] AS y, CAST(sum(cnt) AS BIGINT) AS c
            FROM (SELECT string_split(trim(w), '  ') AS s, cnt FROM {prev}) t{r},
                 unnest(range(1, len(s))) AS u{r}(i)
            GROUP BY x, y
        ), m{r} AS MATERIALIZED (
            SELECT x, y FROM p{r} ORDER BY c DESC, x, y LIMIT 1
        ), w{r} AS MATERIALIZED (
            SELECT t,
                   coalesce(replace(w,
                       ' ' || (SELECT x FROM m{r}) || '  '
                           || (SELECT y FROM m{r}) || ' ',
                       ' ' || (SELECT x || y FROM m{r}) || ' '), w) AS w,
                   cnt
            FROM {prev}
        )""")
        prev = f"w{r}"
    chain = ", ".join(blocks)
    ctes = f"""tk AS MATERIALIZED (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), wc AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY t
    ), w0 AS MATERIALIZED (
        SELECT t, regexp_replace(t, '(.)', ' \\1 ', 'g') AS w, cnt FROM wc
    ), {chain}, enc AS (
        SELECT t, CAST(len(string_split(trim(w), '  ')) AS BIGINT) AS n_sub
        FROM {prev}
    )"""
    return ctes


def _bpe_encode_oracle_sql(rounds: int = BPE_MERGES) -> str:
    """Wrapper: the generated chain plus the per-doc join-back SELECT."""
    return f"""
    WITH {_bpe_encode_ctes(rounds)}
    SELECT tk.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(enc.n_sub) AS BIGINT) AS n_subtokens,
           CAST(sum(enc.n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS fertility
    FROM tk JOIN enc USING (t)
    GROUP BY tk.doc_id
    """


QUERIES["x3_bpe_encode"] = x3_bpe_encode
ORACLES["x3_bpe_encode"] = _bpe_encode_oracle_sql()


def x6_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution vs
    the REST of the corpus — the bounded symmetric drift metric ([0, ln 2])
    mixture tuning reads before reweighting: a source with high JSD is
    lexically alien to the blend (and x6_doremi_weights will fight it), a
    near-zero one is redundant.

    Dense-grid-free identities: with p the source distribution, q the
    rest, only (source, token) OBSERVED cells are needed —
        JSD = 0.5*sum_t p ln(2p/(p+q))                    [p>0 cells]
            + 0.5*[sum_t q ln(2q/(p+q))  (p>0, q>0 cells)
                   + ln2 * (1 - sum_{t in s} q)]          [p=0 tail]
    because every token absent from the source contributes q*ln2 exactly.
    p and q are exact integer divisions; the log sums carry only
    summation-order ulps (positive terms, no cancellation).

    Shape: one token shuffle to (source, token) counts, two PARTITIONED
    window sums over that VOCAB-BOUNDED table, the global token total as a
    1-row broadcast cross join (ScalarSubquery pattern — round 8 replaced
    the previous all-partition window, which funneled the vocab x sources
    table through one task), one per-source aggregate. Integer total, so
    the value is bit-identical to the windowed form and the oracle is
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("t")
    )
    cells = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("t")
    ws = Window.partitionBy("source")
    # global token total as a 1-row broadcast (exact integer — identical
    # to the former all-partition window, without the single-task funnel)
    tot = cells.agg(F.sum("c").alias("n"))
    aug = cells.select(
        "source",
        "c",
        F.sum("c").over(wt).alias("g"),
        F.sum("c").over(ws).alias("ns"),
    ).crossJoin(F.broadcast(tot))
    p = F.col("c").cast("double") / F.col("ns").cast("double")
    q = (F.col("g") - F.col("c")).cast("double") / (
        F.col("n") - F.col("ns")
    ).cast("double")
    ln2 = F.log(F.lit(2.0))
    terms = aug.select(
        "source",
        "ns",
        (p * F.log(F.lit(2.0) * p / (p + q))).alias("ta"),
        F.when(q > 0, q * F.log(F.lit(2.0) * q / (p + q)))
        .otherwise(F.lit(0.0))
        .alias("tb"),
        q.alias("qv"),
    )
    agg = terms.groupBy("source").agg(
        F.max("ns").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("ta").alias("sa"),
        F.sum("tb").alias("sb"),
        F.sum("qv").alias("sq"),
    )
    jsd = F.lit(0.5) * F.col("sa") + F.lit(0.5) * (
        F.col("sb") + ln2 * (F.lit(1.0) - F.col("sq"))
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_vocab",
        jsd.alias("jsd"),
        (jsd / ln2).alias("jsd_norm"),
    )


QUERIES["x6_jsd_sources"] = x6_jsd_sources

ORACLES["x6_jsd_sources"] = """
    WITH toks AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), cells AS (
        SELECT source, t, count(*) AS c FROM toks GROUP BY 1, 2
    ), aug AS (
        SELECT source, c,
               sum(c) OVER (PARTITION BY t) AS g,
               sum(c) OVER (PARTITION BY source) AS ns,
               sum(c) OVER () AS n
        FROM cells
    ), terms AS (
        SELECT source, ns,
               (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                   * ln(CAST(2 AS DOUBLE) * (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
                        / (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
                           + CAST(g - c AS DOUBLE) / CAST(n - ns AS DOUBLE)))
                   AS ta,
               CASE WHEN g - c > 0
                    THEN (CAST(g - c AS DOUBLE) / CAST(n - ns AS DOUBLE))
                         * ln(CAST(2 AS DOUBLE)
                              * (CAST(g - c AS DOUBLE) / CAST(n - ns AS DOUBLE))
                              / (CAST(c AS DOUBLE) / CAST(ns AS DOUBLE)
                                 + CAST(g - c AS DOUBLE) / CAST(n - ns AS DOUBLE)))
                    ELSE CAST(0 AS DOUBLE) END AS tb,
               CAST(g - c AS DOUBLE) / CAST(n - ns AS DOUBLE) AS qv
        FROM aug
    ), agg AS (
        SELECT source,
               CAST(max(ns) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_vocab,
               sum(ta) AS sa, sum(tb) AS sb, sum(qv) AS sq
        FROM terms GROUP BY source
    )
    SELECT source, n_tokens, n_vocab,
           CAST(0.5 AS DOUBLE) * sa
               + CAST(0.5 AS DOUBLE)
                 * (sb + ln(CAST(2 AS DOUBLE)) * (CAST(1 AS DOUBLE) - sq)) AS jsd,
           (CAST(0.5 AS DOUBLE) * sa
               + CAST(0.5 AS DOUBLE)
                 * (sb + ln(CAST(2 AS DOUBLE)) * (CAST(1 AS DOUBLE) - sq)))
               / ln(CAST(2 AS DOUBLE)) AS jsd_norm
    FROM agg
"""


CALIB_BINS = 10


def x6_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the TRAINED quality classifier
    (x3_quality_train's student, reused via _qt_train) against its teacher
    labels: decile-bin the predicted keep-probability, report per bin the
    count, mean predicted probability, empirical positive fraction, and
    the gap — the calibration table behind ECE and the first artifact to
    check before thresholding any learned filter (an over-confident bin
    means the cut keeps junk at exactly that score band).

    Binning is decided on round(p, 6) (round-before-bucket: the sigmoid's
    exp ulps differ across engines) with the last bin closed at p = 1;
    frac_pos is an exact 0/1-sum division; mean_p and gap carry only
    summation-order ulps. Shape: one scan of the persisted feature frame,
    one <=10-row aggregate. Oracle replays the full GD chain (shared
    generator with x3_quality_train) and the same binning."""
    feats, w = _qt_train(spark, sf_dir)
    z6 = F.round(
        F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"), 6
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z6))
    b = F.least(
        F.floor(F.round(p, 6) * F.lit(float(CALIB_BINS))).cast("int"),
        F.lit(CALIB_BINS - 1),
    )
    return (
        feats.select(b.alias("bin"), p.alias("p"), "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("p").alias("mean_p"),
            (F.sum("y") / F.count(F.lit(1))).alias("frac_pos"),
        )
        .select(
            "bin",
            "n",
            "mean_p",
            "frac_pos",
            (F.col("mean_p") - F.col("frac_pos")).alias("gap"),
        )
    )


QUERIES["x6_calibration_bins"] = x6_calibration_bins


def _calibration_oracle_sql() -> str:
    prefix, zf, g = _quality_train_oracle_sql()
    p = f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + exp(-{zf})))"
    return f"""{prefix}
    , scored AS (
        SELECT least(CAST(floor(round({p}, 6) * CAST({CALIB_BINS} AS DOUBLE))
                          AS INT), {CALIB_BINS - 1}) AS bin,
               {p} AS p, y
        FROM fy, {g}
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           avg(p) AS mean_p,
           sum(y) / count(*) AS frac_pos,
           avg(p) - sum(y) / count(*) AS gap
    FROM scored GROUP BY bin
"""


ORACLES["x6_calibration_bins"] = _calibration_oracle_sql()


CHI2_TOP_K = 5


def x6_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square keyword selection per source — the statistical twin of
    the c-TF-IDF keywords (x3_source_keywords): for every (source, token)
    2x2 contingency table (in-source vs rest, this-token vs others), the
    chi-square score ranks tokens by how strongly their frequency
    DEVIATES from source-independence, the classic feature-selection
    statistic for domain signatures / classifier vocabularies. Only
    over-represented tokens qualify (observed > expected, the
    cross-product test c*n > g*ns evaluated in double — see below), top
    CHI2_TOP_K per source.

    Scale shape: ONE token-keyed shuffle to (source, token) cells (the
    x6_jsd_sources substrate), per-token and per-source marginals as
    PARTITIONED window sums over the vocab-bounded cell table, grand
    total via 1-row broadcast (bounded BNLJ), and the top-k rank windows
    are PARTITIONED by source. Exactness: all four cell counts and
    marginals are exact integers bounded by n (total tokens); the
    cross-products ad-bc and c*n / g*ns are bounded by n^2, so each
    FACTOR is cast to double before multiplying (exact up to n ~ 9e15
    tokens; a BIGINT product would wrap silently past n ~ 3e9 — the
    100 TB regime). chi2 is one fixed-shape double expression (casts and
    parenthesization mirrored in the oracle, so both engines round the
    identical double), 6-dp-rounded BEFORE the rank decision with a
    token tie-break (CLAUDE.md rule 3).

    Reference parity: no text analytics in the reference (§2.9
    north-star extension)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("t")
    )
    cells = toks.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("t")
    ws = Window.partitionBy("source")
    tot = cells.agg(F.sum("c").alias("n"))  # 1-row broadcast
    aug = cells.select(
        "source",
        "t",
        "c",
        F.sum("c").over(wt).alias("g"),
        F.sum("c").over(ws).alias("ns"),
    ).crossJoin(F.broadcast(tot))
    # 2x2 cells: a = in-source this-token, b = elsewhere this-token,
    # cc = in-source other-tokens, d = elsewhere other-tokens
    a = F.col("c")
    b = F.col("g") - F.col("c")
    cc = F.col("ns") - F.col("c")
    d = F.col("n") - F.col("g") - F.col("ns") + F.col("c")
    # The 2x2 marginals are each <= n (total tokens, exact BIGINT), but
    # the cross-products ad / bc / cn / g*ns are bounded only by n^2 —
    # past n ~ 3e9 tokens BIGINT products wrap silently in Spark (and
    # error in DuckDB). Cast each FACTOR to double before multiplying:
    # the factors themselves stay exact (n < 2^53 up to ~9e15 tokens) and
    # both engines form the identical fixed-shape double expression, so
    # the 6-dp-rounded chi2 and the over-representation predicate still
    # agree bit-for-bit.
    diff = a.cast("double") * d.cast("double") - b.cast("double") * cc.cast(
        "double"
    )
    denom = (
        (a + b).cast("double")
        * (cc + d).cast("double")
        * (a + cc).cast("double")
        * (b + d).cast("double")
    )
    chi2 = F.round(F.col("n").cast("double") * (diff * diff) / denom, 6)
    scored = aug.filter(
        F.col("c").cast("double") * F.col("n").cast("double")
        > F.col("g").cast("double") * F.col("ns").cast("double")
    ).select("source", "t", "c", "g", chi2.alias("chi2"))
    w_rk = Window.partitionBy("source").orderBy(
        F.col("chi2").desc(), F.col("t").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= CHI2_TOP_K)
        .select(
            "source",
            F.col("rk").cast("int").alias("rk"),
            F.col("t").alias("token"),
            "chi2",
            F.col("c").cast("long").alias("n_in_source"),
            F.col("g").cast("long").alias("n_total_tok"),
        )
    )


QUERIES["x6_chi2_keywords"] = x6_chi2_keywords

ORACLES["x6_chi2_keywords"] = f"""
    WITH tk AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
    ), cells AS (
        SELECT source, t, count(*) AS c FROM tk GROUP BY source, t
    ), aug AS (
        SELECT source, t, c,
               sum(c) OVER (PARTITION BY t) AS g,
               sum(c) OVER (PARTITION BY source) AS ns,
               (SELECT sum(c) FROM cells) AS n
        FROM cells
    ), scored AS (
        SELECT source, t, c, g,
               round(CAST(n AS DOUBLE)
                     * ((CAST(c AS DOUBLE) * CAST(n - g - ns + c AS DOUBLE)
                         - CAST(g - c AS DOUBLE) * CAST(ns - c AS DOUBLE))
                        * (CAST(c AS DOUBLE) * CAST(n - g - ns + c AS DOUBLE)
                           - CAST(g - c AS DOUBLE) * CAST(ns - c AS DOUBLE)))
                     / (CAST(c + (g - c) AS DOUBLE)
                        * CAST((ns - c) + (n - g - ns + c) AS DOUBLE)
                        * CAST(c + (ns - c) AS DOUBLE)
                        * CAST((g - c) + (n - g - ns + c) AS DOUBLE)),
                     6) AS chi2
        FROM aug
        WHERE CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
              > CAST(g AS DOUBLE) * CAST(ns AS DOUBLE)
    )
    SELECT source, CAST(rk AS INT) AS rk, t AS token, chi2,
           CAST(c AS BIGINT) AS n_in_source,
           CAST(g AS BIGINT) AS n_total_tok
    FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY chi2 DESC, t ASC) AS rk
        FROM scored
    )
    WHERE rk <= {CHI2_TOP_K}
"""



def x3_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio plus its
    length-robust variants — root TTR (Guiraud) and log TTR (Herdan's C)
    — the quick screen for template/boilerplate-heavy sources (low
    diversity at a given size) read next to x3_vocab_growth's corpus
    curve and x6_jsd_sources' divergence.

    Shape: one (source, token) dedup aggregate for types + one token
    count per source (two-level, no countDistinct Expand — the
    dedup.py:1443 discipline), joined on the bounded source table. All
    inputs are exact integers; the three ratios are fixed-shape double
    expressions (sqrt/ln of exact integers — bit-identical engines)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(normalize_ws(F.col("text")))
    toks = docs.filter(F.length(F.trim(norm)) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("t")
    )
    n_toks = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    n_types = (
        toks.select("source", "t").distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    tok_d = F.col("n_tokens").cast("double")
    typ_d = F.col("n_types").cast("double")
    return n_toks.join(n_types, "source").select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        (typ_d / tok_d).alias("ttr"),
        (typ_d / F.sqrt(tok_d)).alias("root_ttr"),
        (F.log(typ_d) / F.log(tok_d)).alias("log_ttr"),
    )


QUERIES["x3_type_token_ratio"] = x3_type_token_ratio

ORACLES["x3_type_token_ratio"] = """
    WITH tk AS (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) > 0
    ), ntk AS (
        SELECT source, count(*) AS n_tokens FROM tk GROUP BY source
    ), nty AS (
        SELECT source, count(*) AS n_types
        FROM (SELECT DISTINCT source, t FROM tk) GROUP BY source
    )
    SELECT ntk.source,
           CAST(ntk.n_tokens AS BIGINT) AS n_tokens,
           CAST(nty.n_types AS BIGINT) AS n_types,
           CAST(nty.n_types AS DOUBLE) / CAST(ntk.n_tokens AS DOUBLE) AS ttr,
           CAST(nty.n_types AS DOUBLE) / sqrt(CAST(ntk.n_tokens AS DOUBLE))
               AS root_ttr,
           ln(CAST(nty.n_types AS DOUBLE)) / ln(CAST(ntk.n_tokens AS DOUBLE))
               AS log_ttr
    FROM ntk JOIN nty ON ntk.source = nty.source
"""


def x3_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per source — the compression-ratio
    proxy quality heuristic (machine-generated / templated text compresses
    further than natural prose; gzip-ratio filters in C4/RefinedWeb-style
    pipelines are this number by another name): H = -sum p ln p over the
    source's character distribution, reported as bits/char with
    redundancy vs the source's own observed alphabet.

    Shape: one explode of text to characters -> (source, char) cell
    counts (alphabet-bounded table) -> per-source aggregate using the
    observed-cells identity H = ln N - (sum c ln c)/N (zero cells never
    materialize — the x6_mutual_information discipline). Integer counts
    in, one fixed-shape expression out; sum(c ln c) carries only
    positive-term summation-order ulps (9-digit normalized)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.filter(F.length("text") > 0).select(
        "source", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    cells = chars.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = cells.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("alphabet"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("sclc"),
    )
    n = F.col("n_chars").cast("double")
    h_nats = F.log(n) - F.col("sclc") / n
    ln2 = F.log(F.lit(2.0))
    bits = h_nats / ln2
    return agg.select(
        "source",
        "n_chars",
        "alphabet",
        bits.alias("bits_per_char"),
        (F.lit(1.0) - h_nats / F.log(F.col("alphabet").cast("double")))
        .alias("redundancy"),
    )


QUERIES["x3_char_entropy"] = x3_char_entropy

ORACLES["x3_char_entropy"] = """
    WITH ch AS (
        SELECT source, unnest(string_split(text, '')) AS ch
        FROM documents WHERE length(text) > 0
    ), cells AS (
        SELECT source, ch, count(*) AS c
        FROM ch WHERE length(ch) > 0 GROUP BY source, ch
    ), agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS alphabet,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
        FROM cells GROUP BY source
    )
    SELECT source, n_chars, alphabet,
           (ln(CAST(n_chars AS DOUBLE))
            - sclc / CAST(n_chars AS DOUBLE)) / ln(CAST(2 AS DOUBLE))
               AS bits_per_char,
           CAST(1 AS DOUBLE)
               - (ln(CAST(n_chars AS DOUBLE)) - sclc / CAST(n_chars AS DOUBLE))
                 / ln(CAST(alphabet AS DOUBLE)) AS redundancy
    FROM agg
"""


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer — fixed-round hard-EM training
# over a bounded substring seed vocabulary, encode via Viterbi (Kudo 2018,
# "Subword Regularization"). The tokenizer family's EM alternative to BPE
# (x3_bpe_train): modern LLM tokenizers (T5, LLaMA via SentencePiece) train
# this way. Deterministic throughout: hard-EM (Viterbi counts, the standard
# determinization of the forward-backward E-step), count-proxy pruning,
# (count DESC, piece ASC) tie-breaks — so the whole training loop replays
# as chained CTEs in DuckDB with the per-word DP as a RECURSIVE CTE whose
# sliding state mirrors the Spark HOF fold step-for-step (identical
# double arithmetic, CLAUDE.md 11a: multi-state folds as recursive CTEs).

UNIGRAM_MAXW = 12      # words longer than this are excluded (and counted)
UNIGRAM_MAXP = 4       # max piece length
UNIGRAM_SEED_N = 60    # multi-char seed pieces kept (prune-by-count)
UNIGRAM_V = 40         # multi-char pieces kept after the final prune
UNIGRAM_EM_ROUNDS = 2
_UNIGRAM_OOV = -1e9    # lp for out-of-vocab pieces: never on a best path
                       # (every single char is always in vocab)
_UNIGRAM_NA = -1e18    # sentinel for j > i candidates (same on both
                       # engines; avoids NULL-skipping semantics entirely)


def _unigram_tokens(docs: DataFrame) -> DataFrame:
    """(source, w) lowercase whitespace tokens — the corpus token
    definition every textops operator shares."""
    norm = F.lower(normalize_ws(F.col("text")))
    return docs.filter(F.length(F.trim(norm)) > 0).select(
        "source", F.explode(F.split(norm, " ")).alias("w")
    )


def _unigram_words(docs: DataFrame) -> DataFrame:
    """(w, cnt) distinct training words, 1 <= len <= UNIGRAM_MAXW."""
    return (
        _unigram_tokens(docs)
        .filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAXW)
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _viterbi_segment(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(w, cnt) x vocab(piece, lp) -> (w, cnt, pieces array<string>).

    Per word: best[i] = max_{j<=min(4,i)} best[i-j] + lp(w[i-j+1..i]),
    ptr[i] = SMALLEST j attaining the max (deterministic tie-break,
    identical CASE order in the oracle). Both the forward fold and the
    backtrace are single HOF aggregates over the DISTINCT-WORD table
    (vocab-bounded, not corpus-bounded — the corpus enters only through
    the word counts), with the piece log-probs pre-gathered into one
    per-word ordered array so the fold is pure column arithmetic."""
    cand = (
        words.select("w", "cnt", F.length("w").alias("n"))
        .select(
            "w", "cnt", "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            "w", "cnt", "n", "i",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(UNIGRAM_MAXP), F.col("i"))
                )
            ).alias("j"),
        )
        .withColumn(
            "piece",
            F.col("w").substr(
                F.col("i") - F.col("j") + F.lit(1), F.col("j")
            ),
        )
    )
    scored = cand.join(
        F.broadcast(vocab.select("piece", "lp")), "piece", "left"
    ).withColumn("lpj", F.coalesce(F.col("lp"), F.lit(_UNIGRAM_OOV)))
    per_i = scored.groupBy("w", "cnt", "n", "i").agg(
        *[
            F.max(F.when(F.col("j") == jj, F.col("lpj"))).alias(f"lp{jj}")
            for jj in range(1, UNIGRAM_MAXP + 1)
        ]
    )
    per_w = per_i.groupBy("w", "cnt", "n").agg(
        F.array_sort(
            F.collect_list(F.struct("i", "lp1", "lp2", "lp3", "lp4"))
        ).alias("lps")
    )

    def step(acc, i):
        cands = []
        for j in range(1, UNIGRAM_MAXP + 1):
            cands.append(
                F.when(
                    i >= F.lit(j),
                    F.element_at(acc["b"], i - F.lit(j) + F.lit(1))
                    + F.element_at(F.col("lps"), i)[f"lp{j}"],
                ).otherwise(F.lit(_UNIGRAM_NA))
            )
        best = F.greatest(*cands)
        ptr = F.when(best == cands[0], F.lit(1))
        for j in range(2, UNIGRAM_MAXP + 1):
            ptr = ptr.when(best == cands[j - 1], F.lit(j))
        ptr = ptr.otherwise(F.lit(1))  # unreachable (best IS one cand)
        return F.struct(
            F.concat(acc["b"], F.array(best)).alias("b"),
            F.concat(acc["p"], F.array(ptr.cast("int"))).alias("p"),
        )

    dp = per_w.withColumn(
        "p",
        F.aggregate(
            F.sequence(F.lit(1), F.col("n")),
            F.struct(
                F.array(F.lit(0.0)).alias("b"),
                F.array().cast("array<int>").alias("p"),
            ),
            step,
        )["p"],
    )

    def back(acc, _i):
        # greatest(pos, 1): pos hits 0 at termination and element_at is
        # 1-based ANSI-strict; the when() keeps the value unused then
        jv = F.element_at(F.col("p"), F.greatest(acc["pos"], F.lit(1)))
        return F.when(
            acc["pos"] > 0,
            F.struct(
                (acc["pos"] - jv).cast("int").alias("pos"),
                F.concat(
                    acc["pieces"],
                    F.array(
                        F.col("w").substr(acc["pos"] - jv + F.lit(1), jv)
                    ),
                ).alias("pieces"),
            ),
        ).otherwise(acc)

    return dp.withColumn(
        "pieces",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(UNIGRAM_MAXW)),
            F.struct(
                F.col("n").cast("int").alias("pos"),
                F.array().cast("array<string>").alias("pieces"),
            ),
            back,
        )["pieces"],
    ).select("w", "cnt", "pieces")


def _unigram_lp_from_counts(cnts: DataFrame) -> DataFrame:
    """(piece, c) -> (piece, c, lp = ln(c/total)); total via 1-row
    broadcast (ScalarSubquery pattern, bounded BNLJ)."""
    total = cnts.agg(F.sum("c").alias("t"))
    return cnts.crossJoin(F.broadcast(total)).select(
        "piece",
        "c",
        F.log(F.col("c").cast("double") / F.col("t").cast("double")).alias(
            "lp"
        ),
    )


def _unigram_final_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed -> EM rounds -> final prune; a persisted session memo,
    because both contract queries (train report, encode) consume the
    trained vocab."""
    return memo.get(spark, "unigram_vocab", (sf_dir,),
                    lambda: _unigram_train(spark, sf_dir))


def _unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint every frame consumed by more than one branch
    # (CLAUDE.md rule 4: union/join branches re-execute their subtree —
    # no CSE across them): words feeds every round's Viterbi, seed_cand
    # feeds chars + both seed union branches, each round's pc feeds the
    # char floor AND the multi prune. All are vocab-bounded frames, so
    # the eager materialization is cheap and turns the 2^rounds
    # re-execution cascade into one linear pass.
    words = _unigram_words(docs).localCheckpoint(eager=True)
    seed_cand = (
        words.select("w", "cnt", F.length("w").alias("n"))
        .select(
            "w", "cnt",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            "w", "cnt", "i",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(UNIGRAM_MAXP), F.col("i"))
                )
            ).alias("j"),
        )
        .select(
            F.col("w").substr(
                F.col("i") - F.col("j") + F.lit(1), F.col("j")
            ).alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").alias("c"))
    ).localCheckpoint(eager=True)
    chars = seed_cand.filter(F.length("piece") == 1).select("piece")
    seed = seed_cand.filter(F.length("piece") == 1).unionByName(
        seed_cand.filter(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), F.col("piece").asc())
        .limit(UNIGRAM_SEED_N)
    )
    vocab = _unigram_lp_from_counts(seed)
    for r in range(UNIGRAM_EM_ROUNDS):
        seg = _viterbi_segment(words, vocab)
        pc = (
            seg.select("cnt", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
        ).localCheckpoint(eager=True)
        # single chars keep a +1 floor so coverage never breaks (a char
        # Viterbi never picked must stay encodable); unused multi-char
        # pieces drop out — the count-proxy prune (true SentencePiece
        # prunes by likelihood loss; with hard-EM counts the dominant
        # alternative of a piece is its character split, so usage count
        # is the standard deterministic proxy)
        char_cnt = chars.join(pc, "piece", "left").select(
            "piece",
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).alias("c"),
        )
        multi_cnt = pc.filter(F.length("piece") >= 2)
        if r == UNIGRAM_EM_ROUNDS - 1:
            multi_cnt = multi_cnt.orderBy(
                F.col("c").desc(), F.col("piece").asc()
            ).limit(UNIGRAM_V)
        vocab = _unigram_lp_from_counts(char_cnt.unionByName(multi_cnt))
    return vocab.persist()


def x3_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING report: the final vocabulary (all
    single chars + top UNIGRAM_V multi-char pieces) with exact usage
    counts and log-probs after UNIGRAM_EM_ROUNDS hard-EM rounds over a
    UNIGRAM_SEED_N-piece substring seed. See the module-section comment
    for the determinization choices; the DuckDB oracle replays seed,
    every EM round (per-word Viterbi as a recursive CTE with the same
    sliding (bests, ptrs) state and the same smallest-j tie-break), and
    the final prune, so a drift anywhere in the training loop fails the
    value-hash.

    Scale shape: everything heavier than the corpus tokenize+count runs
    on the DISTINCT-WORD table (vocab-bounded); per round one bounded
    explode (<= 42 grid cells/word), one broadcast vocab join, two
    word-keyed aggregates, and two HOF folds. No collects, no windows;
    top-N prunes are TakeOrdered, not rank windows.

    Reference parity: none (reference has no text ops); §2.9 tokenizer
    family alongside x3_bpe_train (textops.py:1471)."""
    v = _unigram_final_vocab(spark, sf_dir)
    return v.select(
        "piece",
        F.length("piece").cast("int").alias("piece_len"),
        F.col("c").cast("long").alias("cnt"),
        F.col("lp").alias("logprob"),
    )


def x3_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram-LM tokenizer (memoized _unigram_final_vocab)
    to the corpus via Viterbi and report per-source fertility — the
    encode half that turns the trained artifact into the
    tokens-per-word / single-char-fallback-share numbers a data engineer
    reads before committing a tokenizer (the x3_bpe_encode twin).
    Words longer than UNIGRAM_MAXW are excluded from segmentation and
    reported per source in n_long_words (exact accounting, no silent
    drop).

    Scale shape: Viterbi runs ONCE per distinct word (vocab-bounded),
    then one hash join carries (n_pieces, n_single) back to the
    (source, word) counts — corpus-sized work is the tokenize, the
    count aggregate, and that join; ratios are exact integer divisions."""
    docs = load_table(spark, sf_dir, "documents")
    v = _unigram_final_vocab(spark, sf_dir)
    toks = _unigram_tokens(docs)
    ws = (
        toks.filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAXW)
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    longs = (
        toks.filter(F.length("w") > UNIGRAM_MAXW)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_long"))
    )
    words = _unigram_words(docs)
    seg = _viterbi_segment(words, v).select(
        "w",
        F.size("pieces").alias("np"),
        F.size(
            F.filter("pieces", lambda x: F.length(x) == 1)
        ).alias("ns"),
    )
    agg = (
        ws.join(seg, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("np")).alias("n_pieces"),
            F.sum(F.col("cnt") * F.col("ns")).alias("n_single"),
        )
    )
    return agg.join(longs, "source", "left").select(
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("n_single").cast("long").alias("n_single_pieces"),
        F.coalesce(F.col("n_long"), F.lit(0)).cast("long").alias(
            "n_long_words"
        ),
        (
            F.col("n_pieces").cast("double")
            / F.col("n_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_single").cast("double")
            / F.col("n_pieces").cast("double")
        ).alias("single_piece_share"),
    )


QUERIES["x3_unigram_train"] = x3_unigram_train
QUERIES["x3_unigram_encode"] = x3_unigram_encode


def _unigram_base_sql(src: str = "documents") -> str:
    """Shared CTE prefix: tokens, distinct words, (i, j) end-position
    grid, substring seed counts, seed vocab. Round CTEs below chain off
    vocab0. Generated CTEs referenced more than once are MATERIALIZED
    (CLAUDE.md 11a — DuckDB default inlining re-expands them
    exponentially across chained rounds)."""
    return f"""
    utok AS MATERIALIZED (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\\s+', ' ', 'g')), ' ')) AS w
        FROM {src}
        WHERE length(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g'))) > 0
    ),
    uwords AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM utok
        WHERE length(w) >= 1 AND length(w) <= {UNIGRAM_MAXW}
        GROUP BY 1
    ),
    ugrid AS MATERIALIZED (
        SELECT i, j
        FROM unnest(range(1, {UNIGRAM_MAXW + 1})) AS t(i)
        CROSS JOIN unnest(range(1, {UNIGRAM_MAXP + 1})) AS u(j)
        WHERE j <= i
    ),
    ucand AS MATERIALIZED (
        SELECT substr(w.w, CAST(g.i - g.j + 1 AS INT),
                      CAST(g.j AS INT)) AS piece,
               sum(w.cnt) AS c
        FROM uwords w JOIN ugrid g ON g.i <= length(w.w)
        GROUP BY 1
    ),
    uchars AS MATERIALIZED (
        SELECT piece FROM ucand WHERE length(piece) = 1
    ),
    useed AS MATERIALIZED (
        SELECT piece, c FROM ucand WHERE length(piece) = 1
        UNION ALL
        SELECT piece, c FROM (
            SELECT piece, c FROM ucand WHERE length(piece) >= 2
            ORDER BY c DESC, piece LIMIT {UNIGRAM_SEED_N}
        )
    ),
    vocab0 AS MATERIALIZED (
        SELECT piece,
               ln(CAST(c AS DOUBLE)
                  / CAST((SELECT sum(c) FROM useed) AS DOUBLE)) AS lp
        FROM useed
    )"""


def _unigram_viterbi_sql(r: int, vocab: str) -> str:
    """One Viterbi round: piece scoring vs `vocab`, forward DP as a
    RECURSIVE CTE carrying (bests, ptrs) lists — the exact fold the
    Spark HOF aggregate runs, operand for operand — then backtrace and
    piece counts. Smallest-j tie-break via identical CASE order."""
    cands = []
    for j in range(1, UNIGRAM_MAXP + 1):
        bidx = f"d.pos + {2 - j}" if j < 2 else (
            "d.pos" if j == 2 else f"d.pos - {j - 2}")
        cands.append(
            f"CASE WHEN d.pos + 1 >= {j} THEN d.b[{bidx}] + l.lp{j}"
            f" ELSE CAST(-1e18 AS DOUBLE) END"
        )
    best = f"greatest({', '.join(cands)})"
    ptr = "CASE " + " ".join(
        f"WHEN {best} = {c} THEN {j}" for j, c in enumerate(cands, 1)
    ) + " ELSE 1 END"
    lp_cols = ",\n               ".join(
        f"max(CASE WHEN j = {j} THEN lpj END) AS lp{j}"
        for j in range(1, UNIGRAM_MAXP + 1)
    )
    return f"""
    scored{r} AS MATERIALIZED (
        SELECT w.w, w.cnt, length(w.w) AS n, g.i, g.j,
               coalesce(v.lp, CAST(-1000000000 AS DOUBLE)) AS lpj
        FROM uwords w
        JOIN ugrid g ON g.i <= length(w.w)
        LEFT JOIN {vocab} v
          ON v.piece = substr(w.w, CAST(g.i - g.j + 1 AS INT),
                              CAST(g.j AS INT))
    ),
    lpt{r} AS MATERIALIZED (
        SELECT w, cnt, n, i,
               {lp_cols}
        FROM scored{r} GROUP BY 1, 2, 3, 4
    ),
    dp{r} AS (
        SELECT w, cnt, length(w) AS n, CAST(0 AS BIGINT) AS pos,
               CAST([0.0] AS DOUBLE[]) AS b, CAST([] AS INT[]) AS p
        FROM uwords
        UNION ALL
        SELECT d.w, d.cnt, d.n, d.pos + 1,
               list_append(d.b, {best}),
               list_append(d.p, CAST({ptr} AS INT))
        FROM dp{r} d JOIN lpt{r} l ON l.w = d.w AND l.i = d.pos + 1
        WHERE d.pos < d.n
    ),
    dpf{r} AS MATERIALIZED (
        SELECT w, cnt, n, p FROM dp{r} WHERE pos = n
    ),
    bt{r} AS (
        SELECT w, cnt, n, CAST(n AS BIGINT) AS pos,
               CAST([] AS VARCHAR[]) AS pieces, p
        FROM dpf{r}
        UNION ALL
        SELECT w, cnt, n, pos - p[CAST(pos AS INT)],
               list_append(pieces, substr(w,
                   CAST(pos - p[CAST(pos AS INT)] + 1 AS INT),
                   CAST(p[CAST(pos AS INT)] AS INT))),
               p
        FROM bt{r} WHERE pos > 0
    ),
    seg{r} AS MATERIALIZED (
        SELECT w, cnt, pieces FROM bt{r} WHERE pos = 0
    ),
    pc{r} AS MATERIALIZED (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
        FROM seg{r}, unnest(pieces) AS e(piece)
        GROUP BY 1
    )"""


def _unigram_vocab_sql(r: int, prune: bool) -> str:
    """Re-estimated vocab after round r: single chars with the +1
    coverage floor, used multi-char pieces (top UNIGRAM_V when
    pruning), lp = ln(c/total)."""
    multi = f"SELECT piece, c FROM pc{r} WHERE length(piece) >= 2"
    if prune:
        multi = (f"SELECT piece, c FROM ({multi}"
                 f" ORDER BY c DESC, piece LIMIT {UNIGRAM_V})")
    return f"""
    vcnt{r} AS MATERIALIZED (
        SELECT piece, coalesce(pc.c, 0) + 1 AS c
        FROM uchars LEFT JOIN pc{r} pc USING (piece)
        UNION ALL
        {multi}
    ),
    vocab{r} AS MATERIALIZED (
        SELECT piece, c,
               ln(CAST(c AS DOUBLE)
                  / CAST((SELECT sum(c) FROM vcnt{r}) AS DOUBLE)) AS lp
        FROM vcnt{r}
    )"""


def _unigram_train_ctes(src: str = "documents") -> str:
    parts = [_unigram_base_sql(src)]
    for r in range(1, UNIGRAM_EM_ROUNDS + 1):
        parts.append(_unigram_viterbi_sql(r, f"vocab{r - 1}"))
        parts.append(_unigram_vocab_sql(r, prune=(r == UNIGRAM_EM_ROUNDS)))
    return ",".join(parts)


ORACLES["x3_unigram_train"] = f"""
    WITH RECURSIVE {_unigram_train_ctes()}
    SELECT piece, CAST(length(piece) AS INT) AS piece_len,
           CAST(c AS BIGINT) AS cnt, lp AS logprob
    FROM vocab{UNIGRAM_EM_ROUNDS}
"""

_UNIGRAM_ENC_R = UNIGRAM_EM_ROUNDS + 1

ORACLES["x3_unigram_encode"] = f"""
    WITH RECURSIVE {_unigram_train_ctes()},
    {_unigram_viterbi_sql(_UNIGRAM_ENC_R, f"vocab{UNIGRAM_EM_ROUNDS}")},
    uws AS MATERIALIZED (
        SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        FROM utok
        WHERE length(w) >= 1 AND length(w) <= {UNIGRAM_MAXW}
        GROUP BY 1, 2
    ),
    ulong AS MATERIALIZED (
        SELECT source, CAST(count(*) AS BIGINT) AS n_long
        FROM utok WHERE length(w) > {UNIGRAM_MAXW} GROUP BY 1
    ),
    usegstats AS MATERIALIZED (
        SELECT w, len(pieces) AS np,
               len(list_filter(pieces, x -> length(x) = 1)) AS ns
        FROM seg{_UNIGRAM_ENC_R}
    ),
    uagg AS MATERIALIZED (
        SELECT s.source,
               sum(s.cnt) AS n_words,
               sum(s.cnt * g.np) AS n_pieces,
               sum(s.cnt * g.ns) AS n_single
        FROM uws s JOIN usegstats g USING (w)
        GROUP BY 1
    )
    SELECT a.source,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_pieces AS BIGINT) AS n_pieces,
           CAST(n_single AS BIGINT) AS n_single_pieces,
           CAST(coalesce(l.n_long, 0) AS BIGINT) AS n_long_words,
           CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
               AS fertility,
           CAST(n_single AS DOUBLE) / CAST(n_pieces AS DOUBLE)
               AS single_piece_share
    FROM uagg a LEFT JOIN ulong l USING (source)
"""


def x3_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vs unigram-LM tokenizer, side by side, per source — the
    report a data engineer reads to PICK a tokenizer: both trained
    artifacts (memoized _bpe_merges and _unigram_final_vocab) applied to the
    SAME word population (1 <= len <= UNIGRAM_MAXW, so the comparison
    is apples-to-apples — BPE alone also encodes longer words), with
    per-source piece counts, fertilities, their ratio, and an
    integer-exact winner verdict (fewer pieces = better compression at
    equal vocab quality).

    Shape: both encoders run once per DISTINCT word (the shared
    word-level discipline), one three-way join on the word, one
    per-source aggregate. The oracle re-derives BOTH training loops
    (the BPE merge chain and the unigram recursive-CTE EM) and joins
    their encode outputs — two generated pipelines nested in one WITH
    RECURSIVE, CTE namespaces disjoint by construction."""
    merges = _bpe_merges(spark, sf_dir)
    v = _unigram_final_vocab(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = _unigram_tokens(docs)
    ws = (
        toks.filter(
            (F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAXW)
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    words = _unigram_words(docs)
    seg = _viterbi_segment(words, v).select(
        "w", F.size("pieces").alias("np")
    )
    wcol = F.regexp_replace("w", "(.)", " $1 ")
    for _, x, y, _m, _c in merges:
        wcol = F.replace(wcol, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} "))
    enc = words.select(
        "w", F.size(F.split(F.trim(wcol), "  ")).alias("n_sub")
    )
    agg = (
        ws.join(seg, "w")
        .join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("bpe_pieces"),
            F.sum(F.col("cnt") * F.col("np")).alias("uni_pieces"),
        )
    )
    return agg.select(
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("bpe_pieces").cast("long").alias("bpe_pieces"),
        F.col("uni_pieces").cast("long").alias("uni_pieces"),
        (
            F.col("bpe_pieces").cast("double")
            / F.col("n_words").cast("double")
        ).alias("bpe_fertility"),
        (
            F.col("uni_pieces").cast("double")
            / F.col("n_words").cast("double")
        ).alias("uni_fertility"),
        (
            F.col("uni_pieces").cast("double")
            / F.col("bpe_pieces").cast("double")
        ).alias("uni_over_bpe"),
        F.when(F.col("uni_pieces") < F.col("bpe_pieces"), F.lit("unigram"))
        .when(F.col("uni_pieces") > F.col("bpe_pieces"), F.lit("bpe"))
        .otherwise(F.lit("tie"))
        .alias("winner"),
    )


QUERIES["x3_tokenizer_compare"] = x3_tokenizer_compare

ORACLES["x3_tokenizer_compare"] = f"""
    WITH RECURSIVE {_bpe_encode_ctes()},
    {_unigram_train_ctes()},
    {_unigram_viterbi_sql(_UNIGRAM_ENC_R, f"vocab{UNIGRAM_EM_ROUNDS}")},
    cws AS MATERIALIZED (
        SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        FROM utok
        WHERE length(w) >= 1 AND length(w) <= {UNIGRAM_MAXW}
        GROUP BY 1, 2
    ),
    cseg AS MATERIALIZED (
        SELECT w, len(pieces) AS np FROM seg{_UNIGRAM_ENC_R}
    ),
    cagg AS MATERIALIZED (
        SELECT s.source,
               sum(s.cnt) AS n_words,
               sum(s.cnt * e.n_sub) AS bpe_pieces,
               sum(s.cnt * g.np) AS uni_pieces
        FROM cws s
        JOIN cseg g ON s.w = g.w
        JOIN enc e ON s.w = e.t
        GROUP BY 1
    )
    SELECT source,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(bpe_pieces AS BIGINT) AS bpe_pieces,
           CAST(uni_pieces AS BIGINT) AS uni_pieces,
           CAST(bpe_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
               AS bpe_fertility,
           CAST(uni_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
               AS uni_fertility,
           CAST(uni_pieces AS DOUBLE) / CAST(bpe_pieces AS DOUBLE)
               AS uni_over_bpe,
           CASE WHEN uni_pieces < bpe_pieces THEN 'unigram'
                WHEN uni_pieces > bpe_pieces THEN 'bpe'
                ELSE 'tie' END AS winner
    FROM cagg
"""


# ---------------------------------------------------------------------------
# WordPiece greedy encode — completes the tokenizer trio (BPE merges,
# unigram-LM Viterbi, WordPiece longest-match-first)

WP_TOP = 40       # multi-char pieces kept PER continuation class
WP_MIN_CHAR = 2   # single chars below this weighted count are dropped from
                  # the vocab, so rare-char words exercise the [UNK] path

def _wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(piece, cont) WordPiece vocabulary derived deterministically from
    the corpus: position-classed substring counts over the distinct-word
    table (cont = starts past position 1, the '##'-prefix class), all
    single chars with weighted count >= WP_MIN_CHAR, plus the top WP_TOP
    multi-char grams per class by (count desc, piece asc). A persisted
    session memo."""
    return memo.get(spark, "wordpiece_vocab", (sf_dir,),
                    lambda: _wordpiece_train(spark, sf_dir))


def _wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = _unigram_words(docs)
    grid = (
        words.select("w", "cnt", F.length("w").alias("n"))
        .select(
            "w", "cnt", "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("s"),
        )
        .select(
            "w", "cnt", "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNIGRAM_MAXP), F.col("n") - F.col("s") + 1),
                )
            ).alias("j"),
        )
        .select(
            F.col("w").substr(F.col("s"), F.col("j")).alias("piece"),
            (F.col("s") > 1).alias("cont"),
            "cnt",
        )
    )
    gcnt = grid.groupBy("piece", "cont").agg(F.sum("cnt").alias("c"))
    singles = gcnt.filter(
        (F.length("piece") == 1) & (F.col("c") >= WP_MIN_CHAR)
    ).select("piece", "cont")
    w = Window.partitionBy("cont").orderBy(F.col("c").desc(), F.col("piece").asc())
    multis = (
        gcnt.filter(F.length("piece") >= 2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= WP_TOP)
        .select("piece", "cont")
    )
    return singles.unionByName(multis).persist()


def x3_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match-first encode (Wu et al., 2016
    "Google's NMT" §3.1 / the BERT tokenizer) against the corpus-derived
    vocabulary — the third tokenizer family next to x3_bpe_encode and
    x3_unigram_encode, and the one production BERT-style pipelines run.
    Per word: repeatedly take the LONGEST vocab piece matching at the
    cursor (continuation pieces are a separate vocab class, the '##'
    convention); a position with no match makes the whole word [UNK]
    (np = 1), the BERT semantics. Per source: word/piece/UNK/long-word
    accounting, fertility, unk_rate.

    DETERMINISM: integer/boolean arithmetic end to end (counts, flags,
    cursor positions) — no float discipline needed; vocab tie-breaks by
    (count desc, piece asc). The greedy fold runs ONCE per distinct word
    (vocab-bounded, the _viterbi_segment shape): per-position match
    flags are pre-gathered into one ordered array (ok1..ok4 per start),
    then a fixed-UNIGRAM_MAXW-step HOF aggregate walks the cursor. The
    DuckDB oracle re-derives the vocab and replays the walk as a
    recursive CTE with the identical longest-first CASE order.

    Scale shape: corpus-sized work is the tokenize + (source, word)
    count + one hash join of the encoded distinct words back to it;
    everything else is distinct-word x 4 grid cells. No collects; the
    vocab join is a broadcast.

    Substrate honesty: unk_rate is structurally 0 here — a vocab trained
    on the same corpus covers every char it contains (every single char
    clears WP_MIN_CHAR by orders of magnitude on this clean generator),
    and UNK only appears when encoding NEW text against a FROZEN vocab.
    The UNK and long-word branches are exercised by the crafted-corpus
    unit pin (hapax char word -> np_eff 1, unk true), not by this
    substrate — documented, not pretended."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _wordpiece_vocab(spark, sf_dir)
    words = _unigram_words(docs)
    cand = (
        words.select("w", F.length("w").alias("n"))
        .select(
            "w", "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("s"),
        )
        .select(
            "w", "n", "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(UNIGRAM_MAXP), F.col("n") - F.col("s") + 1),
                )
            ).alias("j"),
        )
        .withColumn("piece", F.col("w").substr(F.col("s"), F.col("j")))
        .withColumn("cont", F.col("s") > 1)
    )
    hit = cand.join(
        F.broadcast(vocab.withColumn("ok", F.lit(True))), ["piece", "cont"], "left"
    )
    per_s = hit.groupBy("w", "n", "s").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("j") == jj, F.coalesce(F.col("ok"), F.lit(False)))),
                F.lit(False),
            ).alias(f"ok{jj}")
            for jj in range(1, UNIGRAM_MAXP + 1)
        ]
    )
    # every okN shape below derives from the SAME range as the per_s
    # aggregate (r10 ADVICE: a hard-coded 4-wide struct/when-chain would
    # silently ignore length-5+ pieces if UNIGRAM_MAXP ever grew)
    ok_cols = [f"ok{jj}" for jj in range(1, UNIGRAM_MAXP + 1)]
    per_w = per_s.groupBy("w", "n").agg(
        F.array_sort(
            F.collect_list(F.struct("s", *ok_cols))
        ).alias("fl")
    )

    def step(acc, _i):
        # clamp the lookup index: pos runs past n after termination and
        # element_at is 1-based ANSI-strict; the when() keeps it unused
        e = F.element_at(
            F.col("fl"), F.least(F.greatest(acc["pos"], F.lit(1)), F.col("n"))
        )
        # longest-first: the greedy rule, identical CASE order in the
        # oracle — built from the same range, maxp down to 1
        j = F.when(e[f"ok{UNIGRAM_MAXP}"], F.lit(UNIGRAM_MAXP))
        for jj in range(UNIGRAM_MAXP - 1, 0, -1):
            j = j.when(e[f"ok{jj}"], F.lit(jj))
        active = (acc["pos"] <= F.col("n")) & ~acc["unk"]
        return F.when(
            active,
            F.struct(
                F.when(j.isNull(), F.col("n") + 1)
                .otherwise(acc["pos"] + j).cast("int").alias("pos"),
                F.when(j.isNull(), acc["np"])
                .otherwise(acc["np"] + 1).cast("int").alias("np"),
                (acc["unk"] | j.isNull()).alias("unk"),
            ),
        ).otherwise(acc)

    enc = per_w.withColumn(
        "st",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(UNIGRAM_MAXW)),
            F.struct(
                F.lit(1).cast("int").alias("pos"),
                F.lit(0).cast("int").alias("np"),
                F.lit(False).alias("unk"),
            ),
            step,
        ),
    ).select(
        "w",
        F.when(F.col("st.unk"), F.lit(1)).otherwise(F.col("st.np")).alias("np_eff"),
        F.col("st.unk").alias("unk"),
    )

    toks = _unigram_tokens(docs)
    ws = (
        toks.filter((F.length("w") >= 1) & (F.length("w") <= UNIGRAM_MAXW))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    longs = (
        toks.filter(F.length("w") > UNIGRAM_MAXW)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_long"))
    )
    agg = (
        ws.join(enc, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("np_eff")).alias("n_pieces"),
            F.sum(F.when(F.col("unk"), F.col("cnt")).otherwise(0)).alias("n_unk"),
        )
    )
    return agg.join(longs, "source", "left").select(
        "source",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("n_unk").cast("long").alias("n_unk_words"),
        F.coalesce(F.col("n_long"), F.lit(0)).cast("long").alias("n_long_words"),
        (
            F.col("n_pieces").cast("double") / F.col("n_words").cast("double")
        ).alias("fertility"),
        (
            F.col("n_unk").cast("double") / F.col("n_words").cast("double")
        ).alias("unk_rate"),
    )


QUERIES["x3_wordpiece_encode"] = x3_wordpiece_encode

# the oracle's okN flag list and longest-first CASE are GENERATED from
# the same range(1, UNIGRAM_MAXP + 1) the Spark side uses, so growing
# UNIGRAM_MAXP widens both engines in lockstep (r10 ADVICE fix)
_WP_OK_FLAGS_SQL = ",\n               ".join(
    f"bool_or(g.j = {jj} AND v.piece IS NOT NULL) AS ok{jj}"
    for jj in range(1, UNIGRAM_MAXP + 1)
)
_WP_JSTAR_CASE_SQL = "CASE " + " ".join(
    f"WHEN f.ok{jj} THEN {jj}" for jj in range(UNIGRAM_MAXP, 0, -1)
) + " END"

ORACLES["x3_wordpiece_encode"] = f"""
    WITH RECURSIVE utok AS MATERIALIZED (
        SELECT source,
               unnest(string_split(trim(regexp_replace(lower(text),
                      '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
        WHERE length(trim(regexp_replace(lower(text),
                     '\\s+', ' ', 'g'))) > 0
    ),
    uwords AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM utok
        WHERE length(w) >= 1 AND length(w) <= {UNIGRAM_MAXW}
        GROUP BY 1
    ),
    wgrid0 AS MATERIALIZED (
        SELECT s, j
        FROM unnest(range(1, {UNIGRAM_MAXW + 1})) AS t(s)
        CROSS JOIN unnest(range(1, {UNIGRAM_MAXP + 1})) AS u(j)
    ),
    wg AS MATERIALIZED (
        SELECT w.w, w.cnt, length(w.w) AS n, g.s, g.j,
               substr(w.w, CAST(g.s AS INT), CAST(g.j AS INT)) AS piece,
               g.s > 1 AS cont
        FROM uwords w JOIN wgrid0 g
          ON g.s <= length(w.w) AND g.j <= length(w.w) - g.s + 1
    ),
    wcnt AS MATERIALIZED (
        SELECT piece, cont, sum(cnt) AS c FROM wg GROUP BY 1, 2
    ),
    wvocab AS MATERIALIZED (
        SELECT piece, cont FROM wcnt
        WHERE length(piece) = 1 AND c >= {WP_MIN_CHAR}
        UNION ALL
        SELECT piece, cont FROM (
            SELECT piece, cont,
                   row_number() OVER (PARTITION BY cont
                                      ORDER BY c DESC, piece ASC) AS rn
            FROM wcnt WHERE length(piece) >= 2
        ) WHERE rn <= {WP_TOP}
    ),
    wflags AS MATERIALIZED (
        SELECT g.w, g.n, g.s,
               {_WP_OK_FLAGS_SQL}
        FROM wg g
        LEFT JOIN wvocab v ON v.piece = g.piece AND v.cont = g.cont
        GROUP BY 1, 2, 3
    ),
    wseg AS (
        SELECT w, length(w) AS n, 1 AS pos, 0 AS np, FALSE AS unk
        FROM uwords
        UNION ALL
        SELECT q.w, q.n,
               CAST(CASE WHEN q.jstar IS NULL THEN q.n + 1
                         ELSE q.pos + q.jstar END AS INT) AS pos,
               CAST(CASE WHEN q.jstar IS NULL THEN q.np
                         ELSE q.np + 1 END AS INT) AS np,
               q.unk OR q.jstar IS NULL AS unk
        FROM (
            SELECT s.w, s.n, s.pos, s.np, s.unk,
                   {_WP_JSTAR_CASE_SQL} AS jstar
            FROM wseg s JOIN wflags f ON f.w = s.w AND f.s = s.pos
            WHERE s.pos <= s.n AND NOT s.unk
        ) q
    ),
    wfinal AS MATERIALIZED (
        SELECT w, CASE WHEN unk THEN 1 ELSE np END AS np_eff, unk
        FROM wseg WHERE pos > n
    ),
    wsrc AS MATERIALIZED (
        SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        FROM utok
        WHERE length(w) >= 1 AND length(w) <= {UNIGRAM_MAXW}
        GROUP BY 1, 2
    ),
    wlong AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_long
        FROM utok WHERE length(w) > {UNIGRAM_MAXW} GROUP BY 1
    ),
    wagg AS (
        SELECT s.source,
               sum(s.cnt) AS n_words,
               sum(s.cnt * f.np_eff) AS n_pieces,
               sum(CASE WHEN f.unk THEN s.cnt ELSE 0 END) AS n_unk
        FROM wsrc s JOIN wfinal f ON s.w = f.w
        GROUP BY 1
    )
    SELECT a.source,
           CAST(a.n_words AS BIGINT) AS n_words,
           CAST(a.n_pieces AS BIGINT) AS n_pieces,
           CAST(a.n_unk AS BIGINT) AS n_unk_words,
           CAST(coalesce(l.n_long, 0) AS BIGINT) AS n_long_words,
           CAST(a.n_pieces AS DOUBLE) / CAST(a.n_words AS DOUBLE) AS fertility,
           CAST(a.n_unk AS DOUBLE) / CAST(a.n_words AS DOUBLE) AS unk_rate
    FROM wagg a LEFT JOIN wlong l ON a.source = l.source
"""


# ---------------------------------------------------------------------------
# x3_html_extract — WET-style main-text extraction from markup
# ---------------------------------------------------------------------------


def _synth_html() -> "Column":
    """documents row -> deterministic HTML wrapping of its text (the
    house deterministic-substrate pattern, cf. urlops._messy_url): title
    = the first 3 normalized words, optional <style> block (d%4==0),
    nav-link boilerplate (d%3==0: 2 links), emphasis markup around the
    body, optional trailing <script> (d%5==0). The corpus text is clean
    lowercase words (no '<', '&'), so the wrap is well-formed by
    construction — documented, and what makes the strip regexes
    engine-parity-safe (no dotall, no entity decoding in play)."""
    d = F.col("doc_id")
    norm = F.lower(normalize_ws(F.col("text")))
    title = F.concat_ws(" ", F.slice(F.split(norm, " "), 1, 3))
    style = F.when(
        d % 4 == 0, F.lit("<style>p{margin:0}</style>")
    ).otherwise(F.lit(""))
    nav = F.when(
        d % 3 == 0,
        F.lit('<nav><a href="/home">home</a> <a href="/about">about</a></nav>'),
    ).otherwise(F.lit(""))
    script = F.when(
        d % 5 == 0, F.lit("<script>var x=1;</script>")
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title>"), style,
        F.lit("</head><body>"), nav,
        F.lit("<h1>"), title, F.lit("</h1><p>"), norm, F.lit("</p>"),
        script, F.lit("</body></html>"),
    )


# the DuckDB twin of _synth_html (same construction, list-slice title)
_SYNTH_HTML_DUCK = """
    '<html><head><title>'
    || array_to_string((string_split(trim(regexp_replace(lower(text),
           '\\s+', ' ', 'g')), ' '))[1:3], ' ')
    || '</title>'
    || (CASE WHEN doc_id % 4 = 0 THEN '<style>p{margin:0}</style>' ELSE '' END)
    || '</head><body>'
    || (CASE WHEN doc_id % 3 = 0
         THEN '<nav><a href="/home">home</a> <a href="/about">about</a></nav>'
         ELSE '' END)
    || '<h1>'
    || array_to_string((string_split(trim(regexp_replace(lower(text),
           '\\s+', ' ', 'g')), ' '))[1:3], ' ')
    || '</h1><p>'
    || trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
    || '</p>'
    || (CASE WHEN doc_id % 5 = 0 THEN '<script>var x=1;</script>' ELSE '' END)
    || '</body></html>'
"""


def x3_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style main-text extraction from HTML — the FIRST text stage
    of a real crawl pipeline, before any language/quality/dedup screen:
    drop <script>/<style> blocks, pull the <title>, strip the remaining
    tags, and report the boilerplate signals a cleaner thresholds on
    (link count, text-to-markup ratio, script/style presence).

    Everything is native regex/string expressions chosen from the
    engine-parity-safe subset (anchored groups, [^>]* tag bodies,
    non-greedy block bodies on single-line markup; DuckDB replaces need
    the 'g' flag — Spark is global by default): zero shuffles, pure
    scan-bound work, the shape that runs at 100 TB as a mapper in front
    of every downstream operator. Link counting is exact integer string
    arithmetic ((len - len(replace(s, k, ''))) / len(k)); the ratio is
    one double division."""
    docs = load_table(spark, sf_dir, "documents")
    html = _synth_html()
    base = docs.select("doc_id", html.alias("html"))
    no_blocks = F.regexp_replace(
        F.regexp_replace(F.col("html"), "<script>.*?</script>", ""),
        "<style>.*?</style>", "",
    )
    text = F.trim(
        F.regexp_replace(F.regexp_replace(no_blocks, "<[^>]*>", " "), "\\s+", " ")
    )
    n_links = (
        (F.length("html") - F.length(F.regexp_replace(F.col("html"), "<a href", "")))
        / F.lit(len("<a href"))
    ).cast("int")
    return base.select(
        "doc_id",
        F.regexp_extract(F.col("html"), "<title>([^<]*)</title>", 1).alias("title"),
        n_links.alias("n_links"),
        F.col("html").contains("<script>").alias("has_script"),
        F.col("html").contains("<style>").alias("has_style"),
        F.length("html").cast("long").alias("n_chars_html"),
        F.length(text).cast("long").alias("n_chars_text"),
        (
            F.length(text).cast("double") / F.length("html").cast("double")
        ).alias("text_ratio"),
    )


QUERIES["x3_html_extract"] = x3_html_extract

ORACLES["x3_html_extract"] = f"""
    WITH base AS (
        SELECT doc_id, {_SYNTH_HTML_DUCK} AS html FROM documents
    ), stripped AS (
        SELECT doc_id, html,
               trim(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(html,
                       '<script>.*?</script>', '', 'g'),
                       '<style>.*?</style>', '', 'g'),
                   '<[^>]*>', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS text
        FROM base
    )
    SELECT doc_id,
           regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           CAST((length(html) - length(replace(html, '<a href', '')))
                // length('<a href') AS INT) AS n_links,
           contains(html, '<script>') AS has_script,
           contains(html, '<style>') AS has_style,
           CAST(length(html) AS BIGINT) AS n_chars_html,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           CAST(length(text) AS DOUBLE) / CAST(length(html) AS DOUBLE)
               AS text_ratio
    FROM stripped
"""


KAPPA_HEUR_T = 0.875  # the heuristic-score MEDIAN: quality_score masses
# at ~0.875 on this corpus (the manifest's 0.5 gate keeps ~99.8% of
# docs — a labeler that says yes to everything produces kappa ~ 0 and
# an empty n01 cell, the dead-substrate class). The median cut makes
# labeler A a real rater: ~50/50 split, all four cells live at every
# SF, and a kappa that measures genuine (im)agreement with the teacher.


def x6_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two INDEPENDENT quality
    labelers — the inter-rater agreement readout a labeling pipeline
    signs off before trusting either: labeler A is the cheap heuristic
    (functions/text.py::quality_score >= KAPPA_HEUR_T, the manifest
    gate's scorer at its corpus-median cut — see the constant note), labeler B the frozen teacher model
    (x3_quality_train's QM-weighted z >= QT_TEACHER_T). Emits the full
    confusion matrix, raw agreement p_o, chance agreement p_e, and
    kappa = (p_o - p_e) / (1 - p_e) — agreement beyond what the two
    marginal keep-rates would produce by luck.

    Both labels decide on 6-dp-rounded scores (round-before-boolean);
    the kappa arithmetic is one fixed-shape double expression over
    exact integer cells. Shape: one map-side-combined aggregate over
    the scan — a 1-row report at any corpus size.

    The measurement on this corpus is NEGATIVE kappa (~-0.14 to -0.22
    across SFs): the heuristic's punctuation-heavy score and the
    teacher's stopword-weighted model systematically DISAGREE at their
    median cuts — exactly the readout that tells a pipeline owner the
    cheap screen is not a drop-in for the model. Liveness: all four
    confusion cells nonzero at every SF and |kappa| bounded away from
    both 0 (no signal) and 1 (degenerate identity), pinned in
    tests/test_liveness_pins.py."""
    from swiftbulkuploader_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_ws(F.col("text")), " ")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is"))
    )
    alpha_ratio = F.length(
        F.regexp_replace("text", "[^A-Za-z]", "")
    ) / F.greatest(F.length("text"), F.lit(1))
    x1 = F.round(F.log(F.lit(1.0) + F.col("n_chars").cast("double")), 6)
    x2 = F.round(alpha_ratio, 6)
    x3 = F.round(stop_hits.cast("double") / n_toks, 6)
    teacher_z = F.round(
        F.lit(QM_W[0]) + F.lit(QM_W[1]) * x1
        + F.lit(QM_W[2]) * x2 + F.lit(QM_W[3]) * x3, 6,
    )
    a = quality_score(F.col("text")) >= F.lit(KAPPA_HEUR_T)
    b = teacher_z >= F.lit(QT_TEACHER_T)
    cells = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("long").alias("n11"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("n10"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("n01"),
        F.sum(F.when(~a & ~b, 1).otherwise(0)).cast("long").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pa1 = (F.col("n11") + F.col("n10")).cast("double") / nd
    pb1 = (F.col("n11") + F.col("n01")).cast("double") / nd
    pe = pa1 * pb1 + (F.lit(1.0) - pa1) * (F.lit(1.0) - pb1)
    return cells.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


QUERIES["x6_cohens_kappa"] = x6_cohens_kappa

ORACLES["x6_cohens_kappa"] = f"""
    WITH f AS (
        SELECT doc_id, text, n_chars,
               round(ln(CAST(1.0 AS DOUBLE) + CAST(n_chars AS DOUBLE)), 6) AS x1,
               round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1), 6) AS x2,
               round(len(list_filter(
                         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                         t -> t IN ('the','and','of','to','is')))::DOUBLE
                     / greatest(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')), 1),
                     6) AS x3
        FROM documents
    ), lab AS (
        SELECT
            {QUALITY_SCORE_DUCK} >= CAST({KAPPA_HEUR_T} AS DOUBLE) AS a,
            round({QM_W[0]!r} + {QM_W[1]!r} * x1 + {QM_W[2]!r} * x2
                  + {QM_W[3]!r} * x3, 6) >= CAST({QT_TEACHER_T} AS DOUBLE) AS b
        FROM f
    ), cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS p_observed,
           round((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                 + (1.0 - CAST(n11 + n10 AS DOUBLE) / n)
                   * (1.0 - CAST(n11 + n01 AS DOUBLE) / n), 6) AS p_chance,
           round((CAST(n11 + n00 AS DOUBLE) / n
                  - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                     + (1.0 - CAST(n11 + n10 AS DOUBLE) / n)
                       * (1.0 - CAST(n11 + n01 AS DOUBLE) / n)))
                 / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                     + (1.0 - CAST(n11 + n10 AS DOUBLE) / n)
                       * (1.0 - CAST(n11 + n01 AS DOUBLE) / n))), 6) AS kappa
    FROM cells
"""


# ---------------------------------------------------------------------------
# X3 — feature hashing (round 12 widening)
# ---------------------------------------------------------------------------

FH_DIM = 4096  # hashed feature dimensionality (the fastText default scale-down)


def x3_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-ngrams featurizer audit (Weinberger et al.
    ICML'09; the fastText input layer): every token and token-bigram
    hashes into FH_DIM buckets, and the query reports per document the
    gram count, occupied buckets (nnz), in-doc collision count
    (grams landing in an already-occupied bucket — the capacity signal
    that says when FH_DIM is too small), and the L2 norm of the bucket
    count vector (the normalization constant an embedding lookup
    needs). This is the featurize-at-scan-speed primitive a hashed
    linear classifier (quality filter, language filter) consumes — no
    vocabulary table, no shuffle wider than (doc_id, bucket).

    Engine-reproducible hashing: 32-bit md5-prefix % FH_DIM (the
    x1_minhash_exact integer-hash discipline — xxhash64 has no DuckDB
    replay). Exact integers everywhere; the L2 norm is one sqrt over an
    exact integer sum, 6-dp rounded. Shape: explode -> (doc, bucket)
    count (map-side combined) -> per-doc aggregate; 100 TB cost is one
    token-stream shuffle, same as x3_token_stats.

    spread() (r14-opt, the plans/layout doctrine): the tokenize +
    bigram zip + one-md5-PER-GRAM explode is the most compute-dense
    scan stage in the x3 family (~200 md5s per doc), and it ran at the
    parquet split parallelism — ONE task on the single-file contract
    substrate at every SF. The 10x core-ratio probe caught it: 12.4 s
    at 32 cores == 12.0 s at 8 (CORE_RATIO_r14.json, ratio 0.97 ==
    serialized); per the layout rule (cost per row >> one shuffle of
    the raw text) the round-robin repartition is amortized ~200x."""
    docs = spread(load_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"))
    norm = F.lower(normalize_ws(F.col("text")))
    toks = F.split(norm, " ")
    n = F.size(toks)
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(toks, bigrams)
    base = docs.filter(F.length(F.trim(norm)) > 0).select(
        "doc_id", F.explode(grams).alias("g")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
        % FH_DIM
    )
    cells = (
        base.select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cells.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        F.count(F.lit(1)).cast("long").alias("nnz"),
        (F.sum("c") - F.count(F.lit(1))).cast("long").alias("n_collisions"),
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")), 6)
            .alias("l2_norm"),
    )


QUERIES["x3_feature_hashing"] = x3_feature_hashing

ORACLES["x3_feature_hashing"] = f"""
    WITH t AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                   'g')), ' ') AS toks
        FROM documents
        WHERE length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) > 0
    ), grams AS (
        SELECT doc_id, toks[i] AS g
        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        UNION ALL
        SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS g
        FROM t, unnest(range(1, len(toks))) AS u(i)
    ), cells AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % {FH_DIM} AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM grams GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS nnz,
           CAST(sum(c) - count(*) AS BIGINT) AS n_collisions,
           round(sqrt(CAST(sum(c * c) AS DOUBLE)), 6) AS l2_norm
    FROM cells GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# X3 — PII detection / redaction (round 12 widening)
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def x3_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit — the compliance stage every
    training-data pipeline runs before anything ships (emails, NANP
    phone numbers, IPv4 addresses; the regex tier of a scrubber — an
    NER tier would stack behind the same plumbing). Per document:
    per-class match counts, the post-redaction length (each match
    masked with a typed token, e-mail -> phone -> ip order), and the
    pii_free verdict.

    Substrate liveness (the CLAUDE.md 12b rule — the synthetic corpus
    contains no organic PII, which would make every counter 0 forever):
    a deterministic contact line is appended engine-side — an e-mail
    for doc_id % 3 == 0, a phone for doc_id % 4 == 0, an IP for
    doc_id % 7 == 0 — so every counter and both pii_free values occur
    at every SF (pinned in tests/test_liveness_pins.py). The oracle
    mirrors the injection and replays the same patterns (RE2 and Java
    regex agree on these ASCII character-class forms; no lookarounds,
    no unicode classes).

    Shape: pure row-local regex scan — no shuffle, no UDF (JVM
    regexp_count/regexp_replace); at 100 TB this runs at scan speed
    next to the quality screens."""
    docs = load_table(spark, sf_dir, "documents")
    contact = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(" call 555-000-"),
                     F.lpad((F.col("doc_id") % 10000).cast("string"),
                            4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" from 192.168."),
                     (F.col("doc_id") % 256).cast("string"),
                     F.lit("."),
                     (F.col("doc_id") % 100).cast("string")),
        ).otherwise(F.lit("")),
    )
    t = F.concat(F.col("text"), contact)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    n_phone = F.regexp_count(t, F.lit(PII_PHONE_RE))
    n_ip = F.regexp_count(t, F.lit(PII_IP_RE))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>",
        ),
        PII_IP_RE, "<IP>",
    )
    return docs.select(
        "doc_id",
        n_email.cast("long").alias("n_emails"),
        n_phone.cast("long").alias("n_phones"),
        n_ip.cast("long").alias("n_ips"),
        F.length(redacted).cast("long").alias("redacted_len"),
        ((n_email + n_phone + n_ip) == 0).alias("pii_free"),
    )


QUERIES["x3_pii_scrub"] = x3_pii_scrub

ORACLES["x3_pii_scrub"] = f"""
    WITH t AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 3 = 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com' ELSE '' END)
               || (CASE WHEN doc_id % 4 = 0
                        THEN ' call 555-000-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0
                        THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                             || '.' || CAST(doc_id % 100 AS VARCHAR)
                        ELSE '' END) AS tx
        FROM documents
    ), counted AS (
        SELECT doc_id, tx,
               CAST(len(regexp_extract_all(tx, '{PII_EMAIL_RE}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(tx, '{PII_PHONE_RE}'))
                    AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(tx, '{PII_IP_RE}'))
                    AS BIGINT) AS n_ips
        FROM t
    )
    SELECT doc_id, n_emails, n_phones, n_ips,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(tx,
                '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                '{PII_PHONE_RE}', '<PHONE>', 'g'),
                '{PII_IP_RE}', '<IP>', 'g')) AS BIGINT) AS redacted_len,
           n_emails + n_phones + n_ips = 0 AS pii_free
    FROM counted
"""


# ---------------------------------------------------------------------------
# X3 — encoding-corruption audit (round 13)
# ---------------------------------------------------------------------------

# \x{...} escapes parse identically in Java regex (Spark) and RE2 (DuckDB).
ENC_DOUBLE_RE = r"[\x{00C3}\x{00C2}][\x{0080}-\x{00BF}]"
ENC_REPL_RE = r"\x{FFFD}"
ENC_CTRL_RE = r"[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}]"


def x3_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-corruption screen — the mojibake audit a web-scale
    ingest runs beside the quality filters: (a) double-encoded UTF-8
    signatures (a '\u00c3'/'\u00c2' lead followed by a
    continuation-range codepoint — the classic
    utf8-bytes-decoded-as-latin1 scar, e.g. 'caf\u00e9' ->
    'caf\u00c3\u00a9'), (b) U+FFFD replacement characters (a lossy
    decode already happened upstream), (c) C0 control characters
    outside tab/newline (binary bleed-through). Per document: the
    three counters and the encoding_clean verdict; downstream the
    pipeline drops or re-decodes flagged docs before tokenization
    (mojibake inflates BPE vocab with garbage merges).

    Substrate liveness (the x3_pii_scrub discipline — the synthetic
    corpus is clean, which would pin every counter at 0 forever): a
    deterministic corruption tail is appended engine-side — a mojibake
    'caf\u00c3\u00a9' for doc_id % 5 == 0, a replacement char for
    % 11 == 0, a BEL control char for % 13 == 0 — so every counter and
    both verdicts occur at every SF (pinned). The oracle mirrors the
    injection via chr() codepoints and replays the same \\x{{...}}
    patterns.

    Shape: pure row-local JVM regex scan — no shuffle, no UDF; runs at
    scan speed at 100 TB.

    Reference parity: none (\u00a72.9 text-quality extension)."""
    docs = load_table(spark, sf_dir, "documents")
    tail = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" caf\u00c3\u00a9")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit(" broken \ufffd decode")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit("\u0007")
        ).otherwise(F.lit("")),
    )
    t = F.concat(F.col("text"), tail)
    n_double = F.regexp_count(t, F.lit(ENC_DOUBLE_RE)).cast("long")
    n_repl = F.regexp_count(t, F.lit(ENC_REPL_RE)).cast("long")
    n_ctrl = F.regexp_count(t, F.lit(ENC_CTRL_RE)).cast("long")
    return docs.select(
        "doc_id",
        n_double.alias("n_double_enc"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_ctrl"),
        ((n_double + n_repl + n_ctrl) == 0).alias("encoding_clean"),
    )


QUERIES["x3_encoding_audit"] = x3_encoding_audit

ORACLES["x3_encoding_audit"] = f"""
    WITH t AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 5 = 0
                        THEN ' caf' || chr(195) || chr(169) ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0
                        THEN ' broken ' || chr(65533) || ' decode'
                        ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0
                        THEN chr(7) ELSE '' END) AS tx
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(tx, '{ENC_DOUBLE_RE}'))
                AS BIGINT) AS n_double_enc,
           CAST(len(regexp_extract_all(tx, '{ENC_REPL_RE}'))
                AS BIGINT) AS n_replacement,
           CAST(len(regexp_extract_all(tx, '{ENC_CTRL_RE}'))
                AS BIGINT) AS n_ctrl,
           len(regexp_extract_all(tx, '{ENC_DOUBLE_RE}'))
           + len(regexp_extract_all(tx, '{ENC_REPL_RE}'))
           + len(regexp_extract_all(tx, '{ENC_CTRL_RE}')) = 0
               AS encoding_clean
    FROM t
"""
