"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"):
score every raw document by how much its hashed-n-gram feature
profile looks like a TARGET distribution (a trusted/high-quality
slice) versus the RAW corpus distribution, then keep the
target-leaning documents. The standard recipe for steering a
web-scale crawl toward a quality domain without a trained classifier.
(No reference analog; training-data extension family, SURVEY.md
§2.12.)

Features are unigrams + space-joined bigrams hashed into
``n_buckets`` via the engine's cross-engine base hash md5-LE8
(== DuckDB ``md5_number_upper`` — dedup.py idiom), so the oracle
re-derives identical buckets. Both distributions are add-one
smoothed; the per-bucket log-ratio
``lam(b) = floor(ln(p_target)*1e6) - floor(ln(p_raw)*1e6)`` is
computed with glibc ``math.log`` over the ≤ n_buckets distinct-bucket
table only (the operators/lm.py exactness recipe), and each
document's importance weight is the exact int64 dot product
``sum(cnt_doc(b) * lam(b))``.

Scale shape: one feature-explode pass with a (doc, bucket) hash agg,
two bucket roll-ups bounded by n_buckets, a broadcast lam join, one
final per-doc sum. The is_target flag rides the first projection so
target and raw histograms come from the SAME pass.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LL_SCALE = 1_000_000


def _doc_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, is_target, feat): unigrams + bigrams per document."""
    from textalyzer_spark.functions.alphabet import WS_SPLIT

    toks = F.filter(F.split(F.col(text_col), WS_SPLIT), lambda t: t != "")
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col("is_target"), toks.alias("toks")
    )
    uni = base.select("doc_id", "is_target", F.explode("toks").alias("feat"))
    bi = (
        base.where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("feat"),
        )
    )
    return uni.unionByName(bi)


def _doc_bucket_counts(
    flagged: DataFrame, n_buckets: int, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, is_target, bucket, cnt)`` — each document's hashed
    uni+bigram feature-bucket histogram, computed IN THE KERNEL:
    bucket duplicates can only occur within one document, so the rows
    are globally distinct by construction and the per-occurrence
    feature explode + md5-hex-conv chain + (doc, bucket) hash-agg
    shuffle all disappear (round 8 — the shingle-kernel discipline).
    Feature hashing replays md5-LE8 in Python
    (``int.from_bytes(md5(f)[:8], 'little') % n_buckets``, the exact
    value the JVM ``_md5_le8_col`` + pmod chain produces) and
    tokenization is Python ``re`` over the pinned
    ``alphabet.WS_SPLIT`` — the identities already pinned for
    :func:`dsir_score_stateless`. Row-set identical to
    ``_doc_features`` → hash → groupBy(doc_id, bucket).

    Precondition: ``doc_id`` is unique per input row. The kernel
    counts per ROW, so two rows sharing an id yield duplicate
    ``(doc_id, bucket)`` rows and that document is counted twice."""
    import hashlib
    import re
    from collections import Counter
    from collections.abc import Iterator

    from textalyzer_spark.functions.alphabet import WS_SPLIT

    ws_re = re.compile(WS_SPLIT)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tgts, bks, cnts = [], [], [], []
            for doc_id, text, tgt in zip(
                pdf["doc_id"], pdf[text_col], pdf["is_target"]
            ):
                toks = [w for w in ws_re.split(text or "") if w != ""]
                if not toks:
                    continue
                feats = toks + [
                    toks[i] + " " + toks[i + 1]
                    for i in range(len(toks) - 1)
                ]
                c = Counter(
                    int.from_bytes(
                        hashlib.md5(f.encode("utf-8")).digest()[:8],
                        "little",
                    )
                    % n_buckets
                    for f in feats
                )
                # NULL target flags stay NULL (the JVM bool_or / where
                # semantics): pandas renders them as None/NaN
                tg = (
                    None
                    if tgt is None or (isinstance(tgt, float) and tgt != tgt)
                    else bool(tgt)
                )
                ids.extend([doc_id] * len(c))
                tgts.extend([tg] * len(c))
                bks.extend(c.keys())
                cnts.extend(c.values())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="object"),
                    "is_target": pd.Series(tgts, dtype="object"),
                    "bucket": pd.Series(bks, dtype="int64"),
                    "cnt": pd.Series(cnts, dtype="int64"),
                }
            )

    id_type = dict(flagged.dtypes).get(id_col, "string")
    return flagged.select(
        F.col(id_col).alias("doc_id"), F.col(text_col), F.col("is_target")
    ).mapInPandas(
        run,
        f"doc_id {id_type}, is_target boolean, bucket long, cnt long",
    )


def _lam_udf(tt: int, tr: int, n_buckets: int):
    """bucket-level importance log-ratio in micro-nats (glibc ln)."""
    denom_t = float(tt + n_buckets)
    denom_r = float(tr + n_buckets)

    @F.pandas_udf("long")
    def lam(tc: pd.Series, rc: pd.Series) -> pd.Series:
        out = [
            math.floor(math.log((int(t) + 1) / denom_t) * LL_SCALE)
            - math.floor(math.log((int(r) + 1) / denom_r) * LL_SCALE)
            for t, r in zip(tc, rc)
        ]
        return pd.Series(out, dtype="int64")

    return lam


def dsir_weights(
    df: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    min_weight_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document DSIR importance weight and the keep decision.

    Output: ``(doc_id, n_feats int, weight_micro bigint,
    selected boolean)`` — ``selected`` iff
    ``weight_micro >= min_weight_micro`` (default 0: the document
    leans target-ward). Every input row keeps its output row;
    feature-less documents carry weight 0.
    """
    flagged = df.withColumn("is_target", target_filter)
    # per-doc bucket histograms straight from the kernel (round 8):
    # the previous shape exploded every uni+bigram occurrence, ran
    # the md5-hex-conv chain per occurrence in the JVM, and shuffled
    # the occurrence stream into a (doc, bucket) hash agg
    dbc = _doc_bucket_counts(
        flagged, n_buckets, id_col, text_col
    ).localCheckpoint()  # reused: two roll-ups + scalars + final join
    rawc = dbc.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    tgtc = (
        dbc.where(F.col("is_target"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("tc"))
    )
    buckets = (
        rawc.join(tgtc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("tc"), F.lit(0).cast("long")).alias("tc"),
            "rc",
        )
        .localCheckpoint()  # ≤ n_buckets rows; feeds scalars AND lam
    )
    row = buckets.agg(F.sum("tc"), F.sum("rc")).first()
    tt, tr = int(row[0] or 0), int(row[1] or 0)
    lam = buckets.select(
        "bucket",
        _lam_udf(tt, tr, n_buckets)(F.col("tc"), F.col("rc")).alias("lam"),
    )
    per = (
        dbc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("int").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lam")).alias("weight_micro"),
        )
    )
    out = df.select(F.col(id_col).alias("doc_id")).join(per, "doc_id", "left")
    w = F.coalesce(F.col("weight_micro"), F.lit(0).cast("long"))
    return out.select(
        "doc_id",
        F.coalesce(F.col("n_feats"), F.lit(0)).alias("n_feats"),
        w.alias("weight_micro"),
        (w >= F.lit(int(min_weight_micro))).alias("selected"),
    )


# --------------------------------------------------------------------------
# frozen-model path (streaming twin)
# --------------------------------------------------------------------------


def dsir_model(
    df: DataFrame,
    target_filter: Column,
    n_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """Fit the DSIR bucket model alone — the persist-then-apply split
    (same shape as ``lm.train_unigram_lm`` + ``model_as_map``):
    returns ``(lam, lam_unseen_micro)`` where ``lam`` is the
    ``(bucket, lam)`` importance table (≤ n_buckets rows) and
    ``lam_unseen_micro`` the log-ratio a NEVER-SEEN bucket gets under
    the same add-one smoothing (both distributions at count 0) — the
    case that cannot arise when scoring the training corpus itself
    but appears immediately on a live stream."""
    flagged = df.withColumn("is_target", target_filter)
    # kernel-side per-doc histograms (round 8, see dsir_weights):
    # the bucket roll-up aggregates pre-counted (doc, bucket) rows,
    # not the raw occurrence stream
    fb = _doc_bucket_counts(flagged, n_buckets, id_col, text_col)
    buckets = (
        fb.groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("rc"),
            F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("tc"),
        )
        .localCheckpoint()  # scalars + lam projection (multi-ACTION rule)
    )
    row = buckets.agg(F.sum("tc"), F.sum("rc")).first()
    tt, tr = int(row[0] or 0), int(row[1] or 0)
    lam = buckets.select(
        "bucket",
        _lam_udf(tt, tr, n_buckets)(F.col("tc"), F.col("rc")).alias("lam"),
    )
    lam_unseen = math.floor(
        math.log(1.0 / float(tt + n_buckets)) * LL_SCALE
    ) - math.floor(math.log(1.0 / float(tr + n_buckets)) * LL_SCALE)
    return lam, lam_unseen


def lam_as_map(lam: DataFrame) -> dict[int, int]:
    """Collect a fitted ``(bucket, lam)`` table to the frozen dict a
    stateless scorer broadcasts — bounded by n_buckets."""
    return {int(r["bucket"]): int(r["lam"]) for r in lam.collect()}


def dsir_score_stateless(
    df: DataFrame,
    lam_map: dict[int, int],
    lam_unseen_micro: int,
    n_buckets: int = 4096,
    min_weight_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The streaming-compatible DSIR scorer: identical output schema
    to :func:`dsir_weights` but as a pure per-row projection — no
    explode, no aggregation — so it runs append-mode on an unbounded
    stream. Feature hashing replays md5-LE8 in Python
    (``int.from_bytes(md5(f)[:8], 'little') % n_buckets`` — the same
    value the JVM ``_md5_le8_col`` + pmod chain produces);
    tokenization is Python ``re`` over the pinned
    ``alphabet.WS_SPLIT``. Bit-identical to the batch scorer on the
    training corpus (pinned by tests); unseen buckets score
    ``lam_unseen_micro``."""
    import hashlib
    import re

    from textalyzer_spark.functions.alphabet import WS_SPLIT

    bc = df.sparkSession.sparkContext.broadcast(
        (dict(lam_map), int(lam_unseen_micro), int(n_buckets))
    )
    ws_re = re.compile(WS_SPLIT)

    @F.pandas_udf("struct<n_feats: int, weight_micro: bigint>")
    def sc(texts: pd.Series) -> pd.DataFrame:
        lam, unseen, nb = bc.value
        ns, ws = [], []
        for t in texts:
            toks = [w for w in ws_re.split(t or "") if w != ""]
            feats = toks + [
                toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
            ]
            w = 0
            for f in feats:
                b = int.from_bytes(
                    hashlib.md5(f.encode("utf-8")).digest()[:8], "little"
                ) % nb
                w += lam.get(b, unseen)
            ns.append(len(feats))
            ws.append(w)
        return pd.DataFrame({"n_feats": ns, "weight_micro": ws})

    base = df.select(
        F.col(id_col).alias("doc_id"), sc(F.col(text_col)).alias("s")
    ).select("doc_id", "s.n_feats", "s.weight_micro")
    return base.select(
        "doc_id",
        "n_feats",
        "weight_micro",
        (F.col("weight_micro") >= F.lit(int(min_weight_micro))).alias("selected"),
    )
