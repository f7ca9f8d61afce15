"""retrieval (BM25) + selection (DSIR) operator semantics."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F

from textalyzer_spark.operators.retrieval import bm25_topk
from textalyzer_spark.operators.selection import dsir_weights


def _corpus(spark):
    rows = [
        (1, "spark spark spark spark"),            # heavy on one term
        (2, "spark window merge"),                 # all three, short
        (3, "spark window merge " * 10),           # all three, long
        (4, "nothing relevant here at all"),
        (5, ""),
        (6, "window"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bm25_ranking_semantics(spark):
    out = bm25_topk(_corpus(spark), ["spark", "window", "merge"], k=10).collect()
    got = {r["doc_id"]: r for r in out}
    # non-matching / empty docs never appear
    assert 4 not in got and 5 not in got
    assert set(got) == {1, 2, 3, 6}
    # docs matching all three terms beat single-term docs
    assert got[2]["n_terms_matched"] == 3 and got[3]["n_terms_matched"] == 3
    assert got[1]["n_terms_matched"] == 1
    scores = {i: got[i]["score_micro"] for i in got}
    # all-terms docs beat single-term docs; high-tf doc 3 tops despite
    # the dl penalty (k1=1.2 saturation doesn't cancel 10x tf)
    assert min(scores[2], scores[3]) > max(scores[1], scores[6])
    assert max(scores, key=scores.get) == 3
    # k truncation with deterministic ordering
    top2 = bm25_topk(_corpus(spark), ["spark", "window", "merge"], k=2).collect()
    assert [r["doc_id"] for r in top2] == sorted(
        scores, key=lambda i: (-scores[i], i)
    )[:2]


def test_bm25_hand_recompute_single_term(spark):
    rows = [(1, "x y"), (2, "x x y z")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in bm25_topk(df, ["x"], k=10).collect()}
    n, total = 2, 6
    avgdl = total / n
    idf = math.log(1.0 + ((n - 2) + 0.5) / (2 + 0.5))
    for doc, tf, dl in ((1, 1, 2), (2, 2, 4)):
        expect = math.floor(
            idf * (2.2 * tf) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) * 1e6
        )
        assert out[doc]["score_micro"] == expect


def test_bm25_empty_inputs(spark):
    df = _corpus(spark)
    assert bm25_topk(df, [], k=5).count() == 0
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert bm25_topk(empty, ["x"], k=5).count() == 0


def test_dsir_prefers_target_like_docs(spark):
    # target slice speaks "alpha beta"; raw background speaks "zeta eta"
    rows = (
        [(i, "alpha beta alpha beta gamma", True) for i in range(10)]
        + [(i + 10, "zeta eta theta zeta eta", False) for i in range(10)]
        + [(100, "alpha beta alpha beta gamma", False)]  # target-like, not in slice
        + [(101, "zeta eta zeta", False)]
        + [(102, "", False)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string, is_tgt boolean")
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            df, F.col("is_tgt"), n_buckets=512, min_weight_micro=0
        ).collect()
    }
    assert len(out) == 23
    # the target-looking outsider scores positive, the raw-looking one negative
    assert out[100]["weight_micro"] > 0 > out[101]["weight_micro"]
    assert out[100]["selected"] and not out[101]["selected"]
    # feature-less doc keeps its row at weight 0
    assert out[102]["n_feats"] == 0 and out[102]["weight_micro"] == 0
    # n_feats = unigrams + bigrams = 2n-1 for an n-token doc
    assert out[101]["n_feats"] == 5


def test_dsir_oracle_mirror_planted(spark):
    """Engine vs DuckDB exact on a corpus where target != raw (the sf
    fixtures share one vocab, so the gate never exercises a real
    distribution split — this mirror does)."""
    from textalyzer_spark import oracles

    rows = (
        [(i, "alpha beta alpha beta gamma", "en") for i in range(8)]
        + [(i + 20, "zeta eta theta zeta eta iota", "de") for i in range(8)]
        + [(100, "alpha beta gamma", "de"), (101, "", "en")]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    edf = dsir_weights(df, F.col("lang") == "en", n_buckets=512, min_weight_micro=0)
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    got = sorted(tuple(r) for r in edf.collect())
    want = sorted(
        tuple(r)
        for r in con.sql(oracles.dsir_weights_sql("lang = 'en'", 512, 0)).fetchall()
    )
    assert got == want


def test_dsir_featureless_batch_keeps_schema(spark):
    """A batch in which no document yields a bucket comes back empty
    with the declared schema, for string and bigint ids; dsir_weights
    over it keeps every row at weight 0."""
    from textalyzer_spark.operators.selection import _doc_bucket_counts

    for id_type, ids in (("string", ["a", "b", "c"]), ("bigint", [1, 2, 3])):
        df = spark.createDataFrame(
            list(zip(ids, ["", " \t\n", None], [True, False, None])),
            f"doc_id {id_type}, text string, is_target boolean",
        )
        out = _doc_bucket_counts(df, 64, "doc_id", "text")
        assert out.schema.simpleString() == (
            f"struct<doc_id:{id_type},is_target:boolean,bucket:bigint,cnt:bigint>"
        )
        tbl = out.toArrow()
        assert tbl.num_rows == 0
        assert [str(t) for t in tbl.schema.types] == [
            "string" if id_type == "string" else "int64", "bool", "int64", "int64",
        ]
        got = sorted(
            tuple(r)
            for r in dsir_weights(df, F.col("is_target"), n_buckets=64).collect()
        )
        assert got == [(i, 0, 0, True) for i in ids]


def test_bm25_plan_shape(spark):
    """Scale pin: the idf join is broadcast and the top-k is
    TakeOrderedAndProject (no global sort of the scored corpus)."""
    plan = (
        bm25_topk(_corpus(spark), ["spark", "window"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------------------
# frozen-model DSIR (stateless / streaming path)
# --------------------------------------------------------------------------


def test_dsir_stateless_matches_batch(spark):
    """The frozen-model scorer must reproduce dsir_weights
    bit-for-bit on the training corpus (Python md5-LE8 + re WS_SPLIT
    == the JVM chain)."""
    from textalyzer_spark.operators.selection import (
        dsir_model,
        dsir_score_stateless,
        dsir_weights,
        lam_as_map,
    )

    df = spark.createDataFrame(
        [
            (1, "good clean prose about science", True),
            (2, "spam spam buy now buy now", False),
            (3, "science prose with new words", False),
            (4, "", False),
        ],
        "doc_id bigint, text string, tgt boolean",
    )
    batch = sorted(
        tuple(r)
        for r in dsir_weights(df, F.col("tgt"), n_buckets=64).collect()
    )
    lam, unseen = dsir_model(df, F.col("tgt"), n_buckets=64)
    stateless = sorted(
        tuple(r)
        for r in dsir_score_stateless(
            df, lam_as_map(lam), unseen, n_buckets=64
        ).collect()
    )
    assert batch == stateless


def test_dsir_unseen_bucket_scores_lam_unseen(spark):
    from textalyzer_spark.operators.selection import (
        dsir_model,
        dsir_score_stateless,
        lam_as_map,
    )

    train = spark.createDataFrame(
        [(1, "alpha beta", True), (2, "gamma delta", False)],
        "doc_id bigint, text string, tgt boolean",
    )
    lam, unseen = dsir_model(train, F.col("tgt"), n_buckets=4096)
    mm = lam_as_map(lam)
    fresh = spark.createDataFrame(
        [(9, "qqqq-never-seen-qqqq")], "doc_id bigint, text string"
    )
    row = dsir_score_stateless(fresh, mm, unseen, n_buckets=4096).first()
    # one unigram, no bigram; with 4096 buckets and 4 training feats a
    # collision is vanishingly unlikely for this fixed token
    assert row["n_feats"] == 1
    assert row["weight_micro"] == unseen


def test_streaming_dsir_score(spark, tmp_path):
    """Append-mode streaming twin: frozen model, checkpoint-restart
    processes only new files, union matches the stateless batch
    scorer."""
    from textalyzer_spark.operators.selection import (
        dsir_model,
        dsir_score_stateless,
        lam_as_map,
    )
    from textalyzer_spark.streaming.jobs import (
        run_to_completion_foreach,
        streaming_dsir_score,
    )

    inp = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    train = spark.createDataFrame(
        [(1, "the good target text", True), (2, "raw noise text", False)],
        "doc_id bigint, text string, tgt boolean",
    )
    lam, unseen = dsir_model(train, F.col("tgt"), n_buckets=256)
    mm = lam_as_map(lam)

    b1 = [("d1", "the good target text"), ("d2", "raw noise")]
    b2 = [("d3", "totally new words"), ("d4", "")]
    spark.createDataFrame(b1, "doc_id string, text string").write.mode(
        "append"
    ).parquet(inp)
    got = run_to_completion_foreach(
        streaming_dsir_score(spark, inp, mm, unseen, n_buckets=256), ck, "append"
    )
    assert {r["doc_id"] for r in got} == {"d1", "d2"}
    spark.createDataFrame(b2, "doc_id string, text string").write.mode(
        "append"
    ).parquet(inp)
    got += run_to_completion_foreach(
        streaming_dsir_score(spark, inp, mm, unseen, n_buckets=256), ck, "append"
    )
    assert {r["doc_id"] for r in got} == {"d1", "d2", "d3", "d4"}

    want = {
        r["doc_id"]: tuple(r)
        for r in dsir_score_stateless(
            spark.createDataFrame(b1 + b2, "doc_id string, text string"),
            mm,
            unseen,
            n_buckets=256,
        ).collect()
    }
    assert {r["doc_id"]: tuple(r) for r in got} == want


def test_dsir_kernel_histogram_matches_explode_hash_groupby(spark):
    """The in-kernel (doc_id, is_target, bucket, cnt) histogram
    (round 8) must be row-identical to the definitional shape it
    replaced: _doc_features -> md5-LE8 % n_buckets -> groupBy(doc_id,
    bucket) count — the python/JVM hash identity pinned for
    dsir_score_stateless, applied one stage earlier. Includes a
    unicode-whitespace doc (NBSP must NOT split: WS_SPLIT parity)."""
    from textalyzer_spark.operators.dedup import _md5_le8_col
    from textalyzer_spark.operators.selection import (
        _doc_bucket_counts,
        _doc_features,
    )

    rows = [
        (1, "alpha beta alpha beta alpha", "en"),
        (2, "alpha\tbeta\ngamma  delta\r\n", "de"),
        (3, "nbsp stays one-token", "en"),
        (4, "", "en"),
        (5, "solo", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    flagged = df.withColumn("is_target", F.col("lang") == "en")
    nb = 64
    kern = {
        (r["doc_id"], r["bucket"]): (r["cnt"], r["is_target"])
        for r in _doc_bucket_counts(flagged, nb, "doc_id", "text").collect()
    }
    ref_rows = (
        _doc_features(flagged, "doc_id", "text")
        .select(
            "doc_id",
            "is_target",
            F.pmod(_md5_le8_col(F.col("feat")), F.lit(nb))
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"), F.bool_or("is_target").alias("t"))
        .collect()
    )
    ref = {(r["doc_id"], r["bucket"]): (r["cnt"], r["t"]) for r in ref_rows}
    assert kern == ref
